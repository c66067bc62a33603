package graft.lake

import graft.SparkTestBase
import java.nio.file.Files

/** Every commit kind's arithmetic snapshot counts against the live
  * manifest: fileCount is the number of live entries, and recordCount is
  * the live row count, which is the entries' row sum whenever no
  * merge-on-read delete is pending (the entries' own counts are checked
  * against the data by WriterStatsSpec). */
class CommitCountSpec extends SparkTestBase {

  test("recordCount and fileCount match the live manifest after every kind of commit") {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val wh = Files.createTempDirectory("graft-commit-counts").toString
    CommitKinds.run(spark, wh, "countcat") { (kind, t) =>
      val s = t.currentSnapshot.get
      val entries = t.manifestEntries(s)
      assert(s.fileCount == entries.size, s"$kind v${s.version}: fileCount")
      assert(s.recordCount == t.scan().count(), s"$kind v${s.version}: recordCount vs live rows")
      if (!t.hasMorDeletes(s))
        assert(s.recordCount == entries.map(_.record_count).sum,
          s"$kind v${s.version}: recordCount vs the entries' row sum")
      seen += Seq("stream-append", "rollback-to-v", "cherrypick-v", "publish-wap-")
        .find(s.operation.startsWith).getOrElse(s.operation)
    }
    // every commit kind of the run landed as its own operation
    assert(Set("append", "stream-append", "delete", "update", "merge", "sql-delete",
      "sql-update", "sql-merge", "sql-mor-update", "sql-mor-merge", "sql-mor-delete",
      "mor-delete", "mor-posdelete", "mor-update", "mor-merge", "mor-upsert",
      "compact-deletes", "apply-deletes", "compact", "cluster_zorder", "cluster_hilbert",
      "cluster_bucket", "manifest_rewrite", "rollback-to-v", "cherrypick-v", "publish-wap-",
      "evolve-schema", "drop-column-note").subsetOf(seen), seen)
  }
}
