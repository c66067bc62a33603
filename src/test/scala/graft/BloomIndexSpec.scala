package graft

import graft.lake.{BloomIndex, GraftTable, Maintenance, MorDelete}
import graft.synth.SourceFiles
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Bloom-filter sidecars for point lookups on high-cardinality columns:
  * zero false negatives by construction, strong file pruning for
  * `commit = <sha>` lookups where min/max stats prune nothing, correctness
  * under table churn (appends after the build are never wrongly pruned,
  * removed files drop out), and the DSv2 hook pruning through the public
  * connector's pushed filters. */
class BloomIndexSpec extends SparkTestBase {
  import org.apache.spark.sql.DataFrame

  private def freshTable(prefix: String): GraftTable =
    new GraftTable(spark, Files.createTempDirectory(prefix).toString)

  private def synthDf(n: Int, seed: Long = 42) = {
    import spark.implicits._
    SourceFiles.generate(n, seed).toDF()
  }

  private def someCommit(df: DataFrame, k: Int = 0): String = {
    import spark.implicits._
    df.select("commit").distinct().orderBy("commit")
      .as[String].take(k + 1).last
  }

  test("point lookup opens only may-contain files; every key is found") {
    val t = freshTable("bloom-basic")
    val df = synthDf(400)
    t.append(df.repartition(16)) // 16 files, ~25 rows each
    val (n, bits) = BloomIndex.build(t, "commit")
    assert(n == 16 && bits >= 1024)

    // every row's key must be found (no false negatives), and pruning must
    // be strong: a commit lives in exactly 1 file, FP adds ~0 at these sizes
    import spark.implicits._
    val keys = df.select("commit").as[String].collect().take(25)
    var opened = 0
    keys.foreach { c =>
      val (rows, total, kept) = BloomIndex.lookup(t, "commit", c)
      assert(total == 16)
      assert(rows.count() >= 1, s"key $c lost")
      opened += kept
    }
    // average opened files per lookup ≈ 1 (allow a little FP slack)
    assert(opened <= keys.length * 3, s"weak pruning: $opened opens for ${keys.length} lookups")
  }

  test("appends after the index build are never wrongly pruned") {
    val t = freshTable("bloom-stale")
    t.append(synthDf(200).repartition(8))
    BloomIndex.build(t, "commit")
    val late = synthDf(50, seed = 9)
    t.append(late.repartition(2))
    import spark.implicits._
    val lateKey = late.select("commit").as[String].head()
    val (rows, total, kept) = BloomIndex.lookup(t, "commit", lateKey)
    assert(rows.count() >= 1, "append after build lost")
    // the 8 indexed files still prune; the 2 unindexed ones are always kept
    assert(total == 10 && kept <= 4, s"kept=$kept of $total")
  }

  test("compaction invalidates nothing: rewritten files are kept until re-index") {
    val t = freshTable("bloom-compact")
    val df = synthDf(300)
    t.append(df.repartition(12))
    BloomIndex.build(t, "commit")
    Maintenance.compact(t, "bl", smallBytes = Long.MaxValue, targetBytes = 8L << 20)
    // all sidecar rows are now stale (files replaced) — lookups degrade to
    // full keeps but never lose rows
    val key = someCommit(t.scan())
    val (rows, _, _) = BloomIndex.lookup(t, "commit", key)
    assert(rows.count() >= 1)
    // re-index restores pruning
    BloomIndex.build(t, "commit")
    val (rows2, total2, kept2) = BloomIndex.lookup(t, "commit", key)
    assert(rows2.count() == rows.count())
    assert(kept2 <= math.max(1, total2 / 2))
  }

  test("DSv2 pushed commit predicate prunes through the sidecar") {
    val t = freshTable("bloom-dsv2")
    val df = synthDf(400)
    t.append(df.repartition(16))
    BloomIndex.build(t, "commit")
    import spark.implicits._
    val key = df.select("commit").as[String].head()

    val q = spark.read.format("graft").load(t.location)
      .filter(col("commit") === key)
      .select("repo", "path", "commit")
    assert(q.count() >= 1)
    // the scan description carries the prune ratio: files=<kept>/<total>
    val desc = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    assert(m.isDefined, s"no prune ratio in plan:\n$desc")
    val (kept, total) = (m.get.group(1).toInt, m.get.group(2).toInt)
    assert(total == 16 && kept <= 3, s"DSv2 bloom pruning weak: $kept/$total")

    // IN-list: union of the two keys' candidate files
    val key2 = df.select("commit").as[String].collect()(10)
    val q2 = spark.read.format("graft").load(t.location)
      .filter(col("commit").isin(key, key2))
    assert(q2.count() >= 2)

    // a lookup for an ABSENT key opens ~no files and returns zero rows
    val q3 = spark.read.format("graft").load(t.location)
      .filter(col("commit") === ("0" * 40))
    assert(q3.count() == 0)
  }

  test("point DELETE and UPDATE on commit rewrite only bloom-may-contain files") {
    import graft.lake.{Delete, Update}
    import org.apache.spark.sql.sources.EqualTo
    val t = freshTable("bloom-dml")
    val df = synthDf(400)
    t.append(df.repartition(16))
    BloomIndex.build(t, "commit")
    import spark.implicits._
    val keys = df.select("commit").as[String].collect()

    // UPDATE one commit: stats can't exclude any file; the bloom must
    val u = Update.updateWhere(t, Array(EqualTo("commit", keys(0))),
      Map("lang" -> lit("zz")))
    assert(u.updatedRows >= 1)
    assert(u.candidateFiles <= 3, s"update rewrote ${u.candidateFiles}/16 files")
    assert(t.scan().filter(col("lang") === "zz").count() == u.updatedRows)

    // the update's rewrite left the sidecar stale for the touched files —
    // re-index, then a point DELETE must also touch ~1 file
    BloomIndex.build(t, "commit")
    val d = Delete.deleteWhere(t, Array(EqualTo("commit", keys(1))))
    assert(d.deletedRows >= 1)
    assert(d.droppedFiles + d.rewrittenFiles <= 3,
      s"delete touched ${d.droppedFiles + d.rewrittenFiles}/16 files")
    assert(t.scan().filter(col("commit") === keys(1)).count() == 0)
  }

  test("lookup under pending merge-on-read deletes applies the deletes") {
    val t = freshTable("bloom-mor")
    val df = synthDf(200)
    t.append(df.repartition(8))
    BloomIndex.build(t, "commit")
    import spark.implicits._
    val victim = df.select("commit").as[String].head()
    MorDelete.deleteWhere(t, col("commit") === victim)
    val (rows, _, _) = BloomIndex.lookup(t, "commit", victim)
    assert(rows.count() == 0, "deleted key resurfaced")
    // a different key still resolves
    val other = df.filter(col("commit") =!= victim).select("commit").as[String].head()
    assert(BloomIndex.lookup(t, "commit", other)._1.count() >= 1)
  }

  test("build under pending merge-on-read deletes indexes the live files; lookups prune") {
    val t = freshTable("bloom-mor-build")
    val df = synthDf(200)
    t.append(df.repartition(8))
    import spark.implicits._
    val victim = df.select("commit").as[String].head()
    MorDelete.deleteWhere(t, col("commit") === victim)
    // scan() is now an anti-join, which input_file_name() used to refuse
    val (n, _) = BloomIndex.build(t, "commit")
    assert(n == 8)
    val plain = df.filter(col("commit") =!= victim)
    plain.select("commit").as[String].collect().take(20).foreach { key =>
      val (rows, total, kept) = BloomIndex.lookup(t, "commit", key)
      assert(total == 8 && kept <= 3, s"weak pruning for $key: kept=$kept of $total")
      val cols = df.columns.map(col)
      assert(rows.select(cols: _*).collect().map(_.toString).sorted.sameElements(
        plain.filter(col("commit") === key).collect().map(_.toString).sorted), key)
    }
    assert(BloomIndex.lookup(t, "commit", victim)._1.count() == 0, "deleted key resurfaced")
  }
}
