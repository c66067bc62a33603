package graft

import graft.lake.{GraftColumnarPartitionReader, GraftTable, MorDelete}
import graft.synth.SourceFiles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import java.nio.file.Files

/** The connector's merge-on-read read path: the columnar decoder with the
  * pending deletes applied row by row over its batches. The library scan's
  * anti-joins (`t.scan()`) are the independent reference for every read. */
class MorReadSpec extends SparkTestBase {

  private def freshTable(prefix: String): GraftTable =
    new GraftTable(spark, Files.createTempDirectory(prefix).toString)

  private def synthDf(n: Int, seed: Long = 42) = {
    import spark.implicits._
    SourceFiles.generate(n, seed).toDF()
  }

  private def connector(t: GraftTable): DataFrame =
    spark.read.format("graft").load(t.location)

  /** rows as sorted strings: a multiset compare that keeps duplicates */
  private def bag(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted

  test("equality-delete keys holding NUL collide with no other key") {
    import spark.implicits._
    val t = freshTable("graft-morread-nul")
    val base = SourceFiles.generate(2, 5)
    t.append(Seq(base(0).copy(repo = "a\u0000b", path = "c", commit = "x"),
                 base(1).copy(repo = "a", path = "b\u0000c", commit = "x")).toDF())
    assert(MorDelete.deleteWhere(t, col("repo") === "a\u0000b") == 1L)
    val keys = Seq("repo", "path", "commit")
    val got = connector(t).select(keys.map(col): _*).as[(String, String, String)].collect()
    assert(got.toSeq == Seq(("a", "b\u0000c", "x")))
    assert(bag(connector(t).select(keys.map(col): _*)) ==
      bag(t.scan().select(keys.map(col): _*)))
  }

  /** 240 pre-evolution rows in 4 files, then `stars INT`, then 60 rows
    * carrying it in 2 files */
  private def evolvedTable(prefix: String): GraftTable = {
    val t = freshTable(prefix)
    t.append(synthDf(240).repartition(4))
    t.evolveSchema("stars INT")
    t.append(synthDf(60, seed = 9).withColumn("stars", lit(3)).repartition(2))
    t
  }

  private val addressed = Seq(col("repo"), col("path"), col("commit"),
    sha2(col("content"), 256).as("sha"))

  for ((state, byKey, byPos) <- Seq(("equality", true, false), ("positional", false, true),
                               ("both", true, true)))
    test(s"connector MoR read equals the library scan: $state deletes") {
      import spark.implicits._
      val t = evolvedTable(s"graft-morread-$state")
      // every (row, address) before the delete: the survivors must keep theirs
      val before = connector(t).select(addressed :+ col("_file") :+ col("_pos"): _*)
        .as[(String, String, String, String, String, Long)].collect()
      val repo = before.head._1
      if (byKey) assert(MorDelete.deleteWhere(t, Array[org.apache.spark.sql.sources.Filter](
        EqualTo("repo", repo))) > 0)
      if (byPos) assert(MorDelete.deleteWherePositional(t,
        length(col("content")) % 3 === 0) > 0)
      val s = t.currentSnapshot.get
      assert(t.hasEqDeletes(s) == byKey && t.hasPosDeletes(s) == byPos)

      val lib = t.scan()
      val conn = connector(t)
      // all columns
      val all = conn.schema.fieldNames.toSeq.map(col)
      assert(all.length == 7)
      assert(bag(conn.select(all: _*)) == bag(lib.select(all: _*)))
      // count(*)
      assert(conn.count() == lib.count())
      assert(conn.count() < before.length)
      // a projection without the key columns
      assert(bag(conn.select("content", "lang")) == bag(lib.select("content", "lang")))
      // the evolved INT column, null on the pre-evolution files
      val stars = conn.select("stars").as[Option[Int]].collect().toSeq.sorted
      assert(stars == lib.select("stars").as[Option[Int]].collect().toSeq.sorted)
      assert(stars.contains(None) && stars.contains(Some(3)))
      // _file + _pos: exactly the survivors' pre-delete addresses
      val live = lib.select(addressed: _*).as[(String, String, String, String)]
        .collect().toSet
      val want = before.filter(r => live((r._1, r._2, r._3, r._4)))
        .map(r => (r._5, r._6)).toSeq.sorted
      val got = conn.select("_file", "_pos").as[(String, Long)].collect().toSeq.sorted
      assert(got == want)
      assert(conn.select(addressed :+ col("_file") :+ col("_pos"): _*)
        .as[(String, String, String, String, String, Long)].collect().toSeq.sorted ==
        before.filter(r => live((r._1, r._2, r._3, r._4))).toSeq.sorted)
    }

  test("the delete path decodes every row group: ordinals survive a pushed filter") {
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    val old = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 16 * 1024)
    val t = freshTable("graft-morread-rg")
    try t.append(synthDf(3000).coalesce(1).sortWithinPartitions("repo"))
    finally if (old == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", old)
    val path = t.io.abs(t.manifest(t.currentSnapshot.get)
      .select("file_path").head().getString(0)).toString

    // the repo at a late ordinal: its row-group stats rule out the earlier
    // groups, so a filtered decoder would skip rows and shift ordinals
    val repo = connector(t).filter(col("_pos") === 2800L).select("repo").as[String].head()
    def decoded(filters: Array[org.apache.spark.sql.sources.Filter]): Long = {
      val r = new GraftColumnarPartitionReader(path, GraftTable.dataSchema, filters)
      try { var n = 0L; while (r.next()) n += r.get().numRows(); n } finally r.close()
    }
    assert(decoded(Array(EqualTo("repo", repo))) < decoded(Array.empty),
      "the filter prunes no row group, so it cannot shift an ordinal")

    assert(MorDelete.deleteWherePositional(t, col("_pos").between(2800L, 2809L)) == 10L)
    val got = connector(t).filter(col("repo") === repo)
      .select(col("_pos") +: addressed: _*)
    assert(got.queryExecution.executedPlan.toString.contains("EqualTo(repo,"),
      "the filter was not pushed to the scan")
    val rows = got.as[(Long, String, String, String, String)].collect()
    assert(!rows.exists(r => r._1 >= 2800L && r._1 <= 2809L))
    assert(bag(got.drop("_pos")) == bag(t.scan().filter(col("repo") === repo)
      .select(addressed: _*)))
  }
}
