package graft

import graft.lake.GraftTable
import graft.synth.SourceFiles
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SQL MERGE INTO / UPDATE through Spark's row-level-operation framework
  * (group-based copy-on-write): row-set correctness vs an independent
  * recompute, GROUP pruning (only affected files rewritten), `_file`
  * metadata column on plain reads and under pending deletes, snapshot
  * isolation, evolved-column
  * carry-through, and the pending-MoR-delete refusal. */
class SqlMergeSpec extends SparkTestBase {
  import org.apache.spark.sql.DataFrame

  private var catN = 0
  /** fresh catalog + table per test (catalog conf is session-global). */
  private def freshSqlTable(rows: DataFrame): (String, GraftTable) = {
    catN += 1
    val cat = s"mcat$catN"
    val wh = Files.createTempDirectory(s"graft-merge-$catN").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    val t = new GraftTable(spark, s"$wh/ns/t")
    t.append(rows.repartition(8))
    // register so the catalog resolves it (CREATE TABLE would make an empty
    // one; the catalog lists tables by directory, so the append suffices)
    (cat, t)
  }

  private def synthDf(n: Int, seed: Long = 42) = {
    import spark.implicits._
    SourceFiles.generate(n, seed).toDF()
  }

  private def keyset(df: DataFrame): Set[(String, String, String, String)] = {
    import spark.implicits._
    df.select(col("repo"), col("path"), col("commit"), sha2(col("content"), 256))
      .as[(String, String, String, String)].collect().toSet
  }

  test("MERGE INTO: matched update + not-matched insert, exact row set") {
    import spark.implicits._
    val base = synthDf(200)
    val (cat, t) = freshSqlTable(base)
    val v1 = t.currentVersion

    // source: updates for 40 existing keys, 20 brand-new keys
    val updates = base.limit(40)
      .withColumn("content", concat(lit("v2 "), col("content")))
    val inserts = synthDf(20, seed = 7)
    updates.unionByName(inserts).createOrReplaceTempView("merge_src")

    spark.sql(
      s"""MERGE INTO $cat.ns.t t USING merge_src s
         |ON t.repo = s.repo AND t.path = s.path AND t.commit = s.commit
         |WHEN MATCHED THEN UPDATE SET t.content = s.content, t.lang = s.lang
         |WHEN NOT MATCHED THEN INSERT (repo, path, commit, lang, content)
         |  VALUES (s.repo, s.path, s.commit, s.lang, s.content)""".stripMargin)

    val expected = keyset(base.limit(40)
        .withColumn("content", concat(lit("v2 "), col("content")))) ++
      keyset(base.join(base.limit(40).select("repo", "path", "commit"),
        Seq("repo", "path", "commit"), "left_anti")) ++
      keyset(inserts)
    assert(keyset(t.scan()) == expected)
    assert(t.currentSnapshot.get.recordCount == 220)
    assert(t.currentSnapshot.get.operation == "sql-merge")
    // time travel: the pre-merge snapshot still reads the old row set
    assert(t.snapshot(v1).map(s => t.manifest(s).count()).nonEmpty)
    val pinned = spark.read.format("graft").option("snapshot", v1).load(t.location)
    assert(keyset(pinned) == keyset(base))
  }

  test("MERGE rewrites only the files holding matched keys (group filter)") {
    import spark.implicits._
    val base = synthDf(400)
    val (cat, t) = freshSqlTable(base)
    val filesBefore = t.currentSnapshot.get.fileCount
    assert(filesBefore == 8)

    // touch ONE key — the runtime group filter must narrow the rewrite to
    // the files actually holding it
    val one = base.limit(1).withColumn("content", lit("patched"))
    one.createOrReplaceTempView("merge_one")
    spark.sql(
      s"""MERGE INTO $cat.ns.t t USING merge_one s
         |ON t.repo = s.repo AND t.path = s.path AND t.commit = s.commit
         |WHEN MATCHED THEN UPDATE SET t.content = s.content""".stripMargin)

    val snap = t.currentSnapshot.get
    assert(snap.recordCount == 400)
    // removed = scanned group (≤ 2 files of 8), added ≤ removed
    val shards = t.manifestShards(snap)
    val removedDf = shards.filter(_.kind == "remove")
      .map(sh => spark.read.schema("file_path STRING")
        .parquet(t.io.abs(sh.path).toString)).reduce(_ unionByName _)
    val removedN = removedDf.distinct().count()
    assert(removedN <= 2, s"group filter did not narrow the rewrite: $removedN files")
    assert(t.scan().filter($"content" === "patched").count() == 1)
  }

  test("SQL UPDATE routes through the CoW operation") {
    import spark.implicits._
    val base = synthDf(150)
    val (cat, t) = freshSqlTable(base)
    val repo = base.select("repo").limit(1).collect()(0).getString(0)
    spark.sql(s"UPDATE $cat.ns.t SET lang = 'zz' WHERE repo = '$repo'")
    val expect = base.filter($"repo" === repo).count()
    assert(t.scan().filter($"lang" === "zz").count() == expect)
    assert(t.currentSnapshot.get.recordCount == 150)
    assert(t.currentSnapshot.get.operation == "sql-update")
  }

  test("_file metadata column works on plain reads (both reader paths)") {
    import spark.implicits._
    val (_, t) = freshSqlTable(synthDf(100))
    val cols = spark.read.format("graft").load(t.location)
      .select($"repo", $"_file")
    assert(cols.filter($"_file".isNull).count() == 0)
    assert(cols.select("_file").distinct().count() == 8) // one per data file
    // under pending merge-on-read deletes, survivors keep their _file
    def keyed = spark.read.format("graft").load(t.location)
      .select($"repo", $"path", $"commit", $"_file")
      .as[(String, String, String, String)].collect()
    val before = keyed
    val repo = before.head._1
    graft.lake.MorDelete.deleteWhere(t, $"repo" === repo)
    graft.lake.MorDelete.deleteWherePositional(t, length($"content") % 3 === 0)
    assert(t.hasPendingDeletes)
    val after = keyed
    assert(after.nonEmpty && after.length < before.length)
    assert(after.forall(_._4.contains("/data/")))
    assert(after.toSet.subsetOf(before.toSet) && !after.exists(_._1 == repo))
  }

  test("MERGE carries evolved columns through the rewrite") {
    import spark.implicits._
    val base = synthDf(100)
    val (cat, t) = freshSqlTable(base)
    t.evolveSchema("stars INT")
    t.append(synthDf(20, seed = 9).withColumn("stars", lit(6)).repartition(2))

    val upd = base.limit(10).withColumn("content", concat(lit("v2 "), col("content")))
    upd.createOrReplaceTempView("merge_evo")
    spark.sql(
      s"""MERGE INTO $cat.ns.t t USING merge_evo s
         |ON t.repo = s.repo AND t.path = s.path AND t.commit = s.commit
         |WHEN MATCHED THEN UPDATE SET t.content = s.content""".stripMargin)
    val got = t.scan()
    assert(got.count() == 120)
    assert(got.filter($"stars" === 6).count() == 20)
    assert(got.filter($"content".startsWith("v2 ")).count() == 10)
  }

  test("pending merge-on-read deletes refuse SQL MERGE loudly") {
    import spark.implicits._
    val base = synthDf(60)
    val (cat, t) = freshSqlTable(base)
    graft.lake.MorDelete.deleteWhere(t,
      col("path") === base.select("path").limit(1).collect()(0).getString(0))
    base.limit(5).createOrReplaceTempView("merge_mor")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $cat.ns.t t USING merge_mor s
           |ON t.repo = s.repo AND t.path = s.path AND t.commit = s.commit
           |WHEN MATCHED THEN UPDATE SET t.content = s.content""".stripMargin)
    }
    assert(e.getMessage.contains("merge-on-read") ||
      Option(e.getCause).exists(_.getMessage.contains("merge-on-read")), e.getMessage)
  }
}
