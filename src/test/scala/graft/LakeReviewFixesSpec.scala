package graft

import graft.lake.{BloomIndex, Delete, GraftTable, Maintenance, MorDelete}
import graft.synth.SourceFiles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import java.nio.file.Files

/** Regressions for the round-5 lake-layer review findings: NULL semantics of
  * the metadata-only DELETE tier, positional deletes in point lookups and
  * eq-delete planning, append-changelog op recognition (streaming sink /
  * schema evolution / WAP), fast-forward at head, lost-hint recovery on a
  * branched table, version-claim reaping vs branch heads, and bucket-layout
  * preservation across rewrites. */
class LakeReviewFixesSpec extends SparkTestBase {

  private def freshTable(prefix: String): GraftTable =
    new GraftTable(spark, Files.createTempDirectory(prefix).toString)

  private def rows(data: Seq[(String, String, String, String, String)]): DataFrame = {
    import spark.implicits._
    data.toDF("repo", "path", "commit", "lang", "content")
  }

  test("metadata-only DELETE keeps rows whose predicate is NULL") {
    val t = freshTable("graft-nulldel")
    // file A: provably null-free full match -> metadata drop
    t.append(rows(Seq(
      ("r", "a1", "c1", "xml", "<a/>"),
      ("r", "a2", "c2", "xml", "<b/>"))).repartition(1))
    // file B: same min/max stats BUT holds a repo=null row the stats can't
    // see (min/max skip nulls) -> must take the copy-on-write path
    t.append(rows(Seq(
      ("r", "b1", "c3", "xml", "<c/>"),
      (null, "b2", "c4", "xml", "<d/>"))).repartition(1))

    val res = Delete.deleteWhere(t, Array[Filter](EqualTo("repo", "r")))
    assert(res.droppedFiles == 1, s"file A should metadata-drop: $res")
    assert(res.rewrittenFiles == 1, s"file B must CoW for its null row: $res")
    assert(res.deletedRows == 3)
    val left = t.scan().select("path").collect().map(_.getString(0)).toSeq
    assert(left == Seq("b2"),
      s"the repo=null row (predicate NULL, not TRUE) must survive: $left")
    assert(t.currentSnapshot.get.recordCount == 1)
  }

  test("IS NULL / IS NOT NULL full-match via null counts") {
    val t = freshTable("graft-nullpred")
    t.append(rows(Seq((null, "p1", "c1", "xml", "<a/>"),
                      (null, "p2", "c2", "xml", "<b/>"))).repartition(1))
    t.append(rows(Seq(("r", "p3", "c3", "xml", "<c/>"))).repartition(1))
    val res = Delete.deleteWhere(t,
      Array[Filter](org.apache.spark.sql.sources.IsNull("repo")))
    assert(res.droppedFiles == 1 && res.rewrittenFiles == 0,
      s"an all-null file is provably a full IS NULL match: $res")
    assert(t.scan().count() == 1)
  }

  test("BloomIndex.lookup applies pending positional deletes") {
    val t = freshTable("graft-lookup-posdel")
    import spark.implicits._
    t.append(SourceFiles.generate(50, 7).toDF())
    val victim = t.scan().select("commit").as[String].head()
    val n = MorDelete.deleteWherePositional(t, Array[Filter](EqualTo("commit", victim)))
    assert(n >= 1)
    val (df, _, _) = BloomIndex.lookup(t, "commit", victim)
    assert(df.count() == 0,
      "a position-deleted row must not surface through a point lookup")
  }

  test("eq deleteWhere does not re-count position-deleted rows") {
    val t = freshTable("graft-eq-after-pos")
    t.append(rows(Seq(
      ("r1", "p1", "c1", "xml", "<a/>"),
      ("r1", "p2", "c2", "xml", "<b/>"),
      ("r2", "p3", "c3", "xml", "<c/>"))))
    // retract (r1, p1) positionally, then eq-delete everything under r1:
    // the eq pass must see only the LIVE r1 row, or recordCount double-dips
    val n1 = MorDelete.deleteWherePositional(t, Array[Filter](EqualTo("path", "p1")))
    assert(n1 == 1)
    val n2 = MorDelete.deleteWhere(t, Array[Filter](EqualTo("repo", "r1")))
    assert(n2 == 1, s"only the live r1 row may match the eq delete, got $n2")
    assert(t.currentSnapshot.get.recordCount == 1)
    assert(t.scan().count() == 1)
  }

  test("incremental and changelog reads cross stream-append and schema commits") {
    val t = freshTable("graft-incr-ops")
    t.append(rows(Seq(("r", "p1", "c1", "xml", "<a/>"))))
    // the streaming sink's per-epoch op string
    val entries = t.writeDataFiles(rows(Seq(("r", "p2", "c2", "xml", "<b/>"))), "stream")
    t.commit(entries, Set.empty, "stream-append query=q1 epoch=0")
    // a metadata-only schema commit changes zero rows
    t.evolveSchema("stars INT")
    t.append(rows(Seq(("r", "p3", "c3", "xml", "<c/>"))).withColumn("stars", lit(5)))

    val incr = t.incrementalScan(0)
    assert(incr.count() == 3,
      "stream-append + evolve-schema commits must not poison the append changelog")
    val cdf = t.changelogScan(0)
    assert(cdf.filter(col("_change_type") === "insert").count() == 3)
  }

  test("fastForward of a branch still at main's head is a no-op, not a wedge") {
    val t = freshTable("graft-ff-noop")
    t.append(rows(Seq(("r", "p1", "c1", "xml", "<a/>"))))
    t.createBranch("pub")
    assert(t.fastForward("pub") == t.currentVersion)
    // the edge claim for main's head must NOT have been consumed:
    // the next main commit would otherwise spin out in CommitConflict
    t.append(rows(Seq(("r", "p2", "c2", "xml", "<b/>"))))
    assert(t.currentVersion == 2)
  }

  test("lost version hint on a branched table recovers MAIN's head, not a branch's") {
    val t = freshTable("graft-hint-branch")
    t.append(rows(Seq(("r", "p1", "c1", "xml", "<a/>")))) // main v1
    t.createBranch("exp")
    val tb = t.forBranch("exp")
    tb.append(rows(Seq(("x", "p2", "c2", "xml", "<b/>")))) // branch v2
    t.io.delete("meta/version-hint.text")
    assert(t.currentVersion == 1,
      "recovery must resolve the highest ref=main snapshot, not the branch head")
    assert(t.scan().count() == 1)
    // and the next main commit parents on v1's line, not the branch's
    t.append(rows(Seq(("r", "p3", "c3", "xml", "<c/>"))))
    assert(t.scan().count() == 2)
    assert(tb.scan().filter(col("repo") === "x").count() == 1)
  }

  test("expireSnapshots never reaps a version claim the allocator could reuse") {
    val t = freshTable("graft-claim-floor")
    t.append(rows(Seq(("r", "p1", "c1", "xml", "<a/>")))) // main v1
    t.createBranch("b")                                   // dropped later
    t.forBranch("b").append(rows(Seq(("r", "p2", "c2", "xml", "<b/>")))) // v2
    t.createBranch("c")                                   // live, head will be v3
    t.forBranch("c").append(rows(Seq(("r", "p3", "c3", "xml", "<c/>")))) // v3
    t.dropBranch("b")
    // simulate the racing-writer hwm lag the format explicitly allows
    t.io.writeAtomic("meta/max-version.text", "1")
    t.expireSnapshots(System.currentTimeMillis() + 1000)
    assert(t.io.exists("meta/claim-v2"),
      "claim-v2 is >= the allocation floor (max(hwm, main)+1 = 2) — reaping " +
      "it would let the next commit publish a NEW snapshot under the old id")
    t.append(rows(Seq(("r", "p4", "c4", "xml", "<d/>"))))
    assert(t.currentVersion == 4, "v2/v3 must never be reallocated")
  }

  test("changelogScan expresses a merge-on-read UPDATE as delete+insert pairs") {
    import graft.lake.MorUpdate
    val t = freshTable("graft-cdf-morupd")
    t.append(rows(Seq(
      ("r", "p1", "c1", "xml", "<a/>"),
      ("r", "p2", "c2", "xml", "<b/>"))))
    val r = MorUpdate.updateWhereMor(t, col("path") === "p1",
      Map("lang" -> lit("html")))
    assert(r.updatedRows == 1)
    val cdf = t.changelogScan(1) // the update commit only
    val del = cdf.filter(col("_change_type") === "delete").collect()
    val ins = cdf.filter(col("_change_type") === "insert").collect()
    assert(del.length == 1 && ins.length == 1)
    // positional pre-image recovers the FULL old row, not just the key
    assert(del.head.getAs[String]("lang") == "xml")
    assert(ins.head.getAs[String]("lang") == "html")
    assert(del.head.getAs[String]("path") == "p1" &&
           ins.head.getAs[String]("path") == "p1")
  }

  test("rewrites preserve a bucketized layout; clustering drops the spec") {
    import spark.implicits._
    val t = freshTable("graft-bucket-keep")
    t.append(SourceFiles.generate(300, 11).toDF().repartition(6))
    Maintenance.bucketize(t, 8, "repo")
    val before = t.scan().count()

    // compaction must keep every output bucket-pure (entries carry bucket)
    Maintenance.compact(t, "jobC", smallBytes = Long.MaxValue, targetBytes = 1L << 20)
    assert(t.scan().count() == before)
    val unbucketed = t.manifest(t.currentSnapshot.get)
      .filter(col("bucket").isNull).count()
    assert(unbucketed == 0,
      "compact on a bucketized table emitted bucket=None files — the " +
      "storage-partitioned-join layout silently degraded")
    assert(t.bucketSpec.contains(("repo", 8)))

    // CoW delete keeps the layout too
    val victim = t.scan().select("repo").as[String].head()
    Delete.deleteWhere(t, Array[Filter](EqualTo("repo", victim)))
    assert(t.manifest(t.currentSnapshot.get).filter(col("bucket").isNull).count() == 0)

    // z-clustering REPLACES the layout: the spec must go with it
    Maintenance.cluster(t, "jobZ")
    assert(t.bucketSpec.isEmpty,
      "cluster left bucket-spec.json behind while writing unbucketed files")
  }

  test("DROP TABLE purges every cached metadata kind before a same-path recreate") {
    import org.apache.hadoop.fs.Path
    // no scheme on the warehouse: cache keys carry "file:", the purge must too
    val wh = Files.createTempDirectory("graft-drop-recreate").toString
    spark.conf.set("spark.sql.catalog.dropcat", "graft.lake.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dropcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE dropcat.ns")
    val ddl = "CREATE TABLE dropcat.ns.t " +
      "(repo STRING, path STRING, commit STRING, lang STRING, content STRING, z BIGINT)"
    val meta = new Path(s"file://$wh/ns/t/meta")
    val fs = meta.getFileSystem(spark.sessionState.newHadoopConf())
    def metaFiles = fs.listStatus(meta).filter(_.isFile).map(st => st.getPath.getName -> st).toMap
    def paths = spark.table("dropcat.ns.t").select("path").collect().map(_.getString(0)).toSeq

    val versioned = Seq("snapshot-v1.json", "manifest-list-v1.parquet")
    def insert(n: Int) = spark.sql(s"INSERT INTO dropcat.ns.t VALUES ('r', 'p$n', 'c$n', 'xml', '<a/>', 1)")

    spark.sql(ddl)
    insert(1)
    // version-named files of equal length: with the old mtimes forced on,
    // only the purge tells the new table's metadata from the old one's. The
    // manifest list names its shard by a random uid, which snappy may pack
    // a byte shorter or longer; a recreate whose lengths differ is read,
    // dropped and made again, so the last drop still purges cached metadata
    var n = 1
    var old, recreated = Map.empty[String, org.apache.hadoop.fs.FileStatus]
    do {
      assert(paths == Seq(s"p$n")) // caches the snapshot, shard list and entries
      old = metaFiles
      spark.sql("DROP TABLE dropcat.ns.t")
      n += 1
      spark.sql(ddl)
      insert(n)
      recreated = metaFiles
    } while (n < 9 && versioned.exists(f => recreated(f).getLen != old(f).getLen))
    for (name <- versioned)
      assert(recreated(name).getLen == old(name).getLen, s"$name lengths differ")
    for ((name, st) <- recreated; o <- old.get(name))
      fs.setTimes(st.getPath, o.getModificationTime, -1)
    assert(paths == Seq(s"p$n"), "the recreated table was served the dropped table's metadata")
  }
}
