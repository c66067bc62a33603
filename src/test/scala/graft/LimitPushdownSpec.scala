package graft

import graft.lake.{GraftInputPartition, GraftReaderFactory, GraftTable, MorDelete}
import graft.synth.SourceFiles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import java.nio.file.Files

/** DSv2 LIMIT pushdown: `LIMIT k` over a many-file table must plan only the
  * fewest files whose committed record_counts cover k (not the whole
  * manifest) and cap every partition reader at k rows — while staying
  * PARTIALLY pushed so Spark's global Limit keeps the row count exact.
  * Pushdown is refused (never wrong) under residual filters, pending
  * merge-on-read deletes, and incremental reads. */
class LimitPushdownSpec extends SparkTestBase {

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def synthDf(n: Int, seed: Long = 42) = {
    import spark.implicits._
    SourceFiles.generate(n, seed).toDF()
  }

  private def keyset(df: DataFrame): Set[(String, String, String)] = {
    import spark.implicits._
    df.select(col("repo"), col("path"), col("commit"))
      .as[(String, String, String)].collect().toSet
  }

  private def leafDesc(df: DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")

  test("bare LIMIT plans one file out of many and returns exactly k rows") {
    val dir = freshDir("graft-limit")
    val df = synthDf(400)
    new GraftTable(spark, dir).append(df.repartition(8))

    val limited = spark.read.format("graft").load(dir).limit(10)
    val rows = limited.collect()
    assert(rows.length == 10)
    // whichever rows were chosen, they are real table rows
    assert(keyset(limited).subsetOf(keyset(df)))

    val desc = leafDesc(limited)
    assert(desc.contains("PushedLimit=10"), s"limit not pushed:\n$desc")
    // 8 files of ~50 rows each: one file covers 10 rows
    assert(desc.contains("files=1/8"), s"plan not truncated to one file:\n$desc")
  }

  test("LIMIT larger than the table returns every row and plans every file") {
    val dir = freshDir("graft-limit-all")
    val df = synthDf(120)
    new GraftTable(spark, dir).append(df.repartition(4))

    val limited = spark.read.format("graft").load(dir).limit(100000)
    assert(keyset(limited) == keyset(df))
    val desc = leafDesc(limited)
    assert(desc.contains("PushedLimit=100000"))
    assert(desc.contains("files=4/4"), s"expected all files planned:\n$desc")
  }

  test("a residual filter blocks limit pushdown and the result stays correct") {
    val dir = freshDir("graft-limit-filter")
    val df = synthDf(300)
    new GraftTable(spark, dir).append(df.repartition(6))
    val lang = df.select("lang").head().getString(0)
    val expect = df.filter(col("lang") === lang).count().min(5L)

    val q = spark.read.format("graft").load(dir)
      .filter(col("lang") === lang).limit(5)
    assert(q.count() == expect)
    val desc = leafDesc(q)
    assert(!desc.contains("PushedLimit"),
      s"limit must not push below a residual filter:\n$desc")
  }

  test("pending merge-on-read deletes refuse the pushdown, rows stay exact") {
    val dir = freshDir("graft-limit-mor")
    val df = synthDf(200)
    val t = new GraftTable(spark, dir)
    t.append(df.repartition(4))
    val repo = df.select("repo").head().getString(0)
    MorDelete.deleteWhere(t,
      Array[org.apache.spark.sql.sources.Filter](EqualTo("repo", repo)))

    val survivors = df.filter(col("repo") =!= repo)
    val k = 7
    val limited = spark.read.format("graft").load(dir).limit(k)
    val got = limited.collect()
    assert(got.length == math.min(k.toLong, survivors.count()).toInt)
    assert(keyset(limited).subsetOf(keyset(survivors)),
      "a deleted row leaked through the limited read")
    assert(!leafDesc(limited).contains("PushedLimit"),
      "limit must not push while record_count is an upper bound")
  }

  test("row-reader fallback path honors the per-partition cap") {
    // the builder refuses the pushdown while deletes are pending, but the
    // scan re-resolves its snapshot, so a capped factory can still meet a
    // partition carrying deletes: its row reader caps the SURVIVORS
    import spark.implicits._
    val dir = freshDir("graft-limit-rows")
    val t = new GraftTable(spark, dir)
    t.append(synthDf(150).coalesce(1))
    // the file's rows in order, read before any delete
    val rows = spark.read.format("graft").load(dir).select($"repo", $"_pos")
      .as[(String, Long)].collect().sortBy(_._2)
    val first = rows.head._1
    MorDelete.deleteWhere(t, col("repo") === first)
    MorDelete.deleteWherePositional(t, col("_pos") < 5L)
    val s = t.currentSnapshot.get
    val (file, seq) = t.manifestWithSeq(s).select("file_path", "add_seq")
      .as[(String, Long)].head()
    val part = GraftInputPartition(t.io.abs(file).toString, seq,
      t.eqDeleteShards(s).map(sh => t.io.abs(sh.path).toString),
      t.posDeleteShards(s).map(sh => t.io.abs(sh.path).toString))
    val required = StructType(Seq(StructField("repo", StringType),
      StructField("_pos", LongType)))
    val factory = new GraftReaderFactory(required, limit = Some(13))
    assert(!factory.supportColumnarReads(part))
    val r = factory.createReader(part)
    val got = try Iterator.continually(r).takeWhile(_.next())
      .map(x => (x.get().getUTF8String(0).toString, x.get().getLong(1))).toList
      finally r.close()
    // the first 13 survivors in file order
    val want = rows.filter(w => w._1 != first && w._2 >= 5L).take(13).toList
    assert(want.length == 13)
    assert(got == want)
  }

  test("columnar batch cap truncates mid-batch (k below one batch)") {
    val dir = freshDir("graft-limit-col")
    val df = synthDf(500)
    new GraftTable(spark, dir).append(df.coalesce(1)) // one file, one batch span

    val limited = spark.read.format("graft").load(dir).limit(37)
    assert(limited.count() == 37)
    val desc = leafDesc(limited)
    assert(desc.contains("PushedLimit=37") && desc.contains("files=1/1"))
  }

  test("incremental reads refuse limit pushdown") {
    val dir = freshDir("graft-limit-inc")
    val t = new GraftTable(spark, dir)
    t.append(synthDf(80, 1).repartition(2))
    val v1 = t.currentVersion
    t.append(synthDf(80, 2).repartition(2))

    val inc = spark.read.format("graft")
      .option("fromSnapshot", v1.toString).load(dir).limit(3)
    assert(inc.count() == 3)
    assert(!leafDesc(inc).contains("PushedLimit"))
  }

  private def repoMultiset(df: DataFrame): Seq[String] = {
    import df.sparkSession.implicits._
    df.select("repo").as[String].collect().toSeq.sorted
  }

  test("TopN pushdown caps sorted-bucket readers and matches the true top-k") {
    val dir = freshDir("graft-topn")
    val df = synthDf(300)
    val t = new GraftTable(spark, dir)
    t.append(df.repartition(4))
    graft.lake.Maintenance.bucketize(t, 8, "repo")

    val q = spark.read.format("graft").load(dir).orderBy("repo").limit(5)
    // the repo multiset is deterministic even though tie rows are not
    val expect = repoMultiset(spark.read.format("graft").load(dir))
      .sorted.take(5)
    assert(repoMultiset(q) == expect)
    val desc = leafDesc(q)
    assert(desc.contains("PushedTopN=repo ASC LIMIT 5 (capped)"),
      s"TopN not planned capped:\n$desc")
  }

  test("TopN DESC cannot be served by a sorted prefix and is refused") {
    val dir = freshDir("graft-topn-desc")
    val df = synthDf(200)
    val t = new GraftTable(spark, dir)
    t.append(df.repartition(4))
    graft.lake.Maintenance.bucketize(t, 8, "repo")

    val q = spark.read.format("graft").load(dir)
      .orderBy(col("repo").desc).limit(5)
    val expect = repoMultiset(spark.read.format("graft").load(dir))
      .sorted.reverse.take(5).sorted
    assert(repoMultiset(q) == expect)
    assert(!leafDesc(q).contains("PushedTopN"))
  }

  test("TopN on an unbucketed table is refused, result stays correct") {
    val dir = freshDir("graft-topn-flat")
    new GraftTable(spark, dir).append(synthDf(200).repartition(4))
    val q = spark.read.format("graft").load(dir).orderBy("repo").limit(6)
    val expect = repoMultiset(spark.read.format("graft").load(dir))
      .sorted.take(6)
    assert(repoMultiset(q) == expect)
    assert(!leafDesc(q).contains("PushedTopN"))
  }

  test("appends after bucketize drop the TopN cap but never the answer") {
    val dir = freshDir("graft-topn-append")
    val t = new GraftTable(spark, dir)
    t.append(synthDf(200, 1).repartition(4))
    graft.lake.Maintenance.bucketize(t, 8, "repo")
    t.append(synthDf(100, 2).repartition(2)) // routed: buckets now 2 files

    val q = spark.read.format("graft").load(dir).orderBy("repo").limit(5)
    val expect = repoMultiset(spark.read.format("graft").load(dir))
      .sorted.take(5)
    assert(repoMultiset(q) == expect)
    val desc = leafDesc(q)
    assert(desc.contains("PushedTopN=repo ASC LIMIT 5 (uncapped)"),
      s"expected accepted-but-uncapped TopN:\n$desc")
  }

  test("bucketed tables serve a limited read ungrouped but correct") {
    val dir = freshDir("graft-limit-bucket")
    val df = synthDf(240)
    val t = new GraftTable(spark, dir)
    t.append(df.repartition(4))
    graft.lake.Maintenance.bucketize(t, 8, "repo")

    val limited = spark.read.format("graft").load(dir).limit(9)
    assert(limited.count() == 9)
    assert(keyset(limited).subsetOf(keyset(df)))
    assert(leafDesc(limited).contains("PushedLimit=9"))
  }
}
