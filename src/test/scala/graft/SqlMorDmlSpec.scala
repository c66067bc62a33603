package graft

import graft.lake.{GraftTable, MorDelete}
import graft.synth.SourceFiles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SQL DML through the DELTA row-level path (dml-mode = merge-on-read):
  * UPDATE / MERGE / non-filter DELETE plan as WriteDelta — the scan serves
  * (_file, _pos) row ids, deletes become position-delete address shards,
  * inserts become ordinary data files, one snapshot per statement, no
  * target file rewritten. The `_pos` metadata column is also a public
  * SELECT surface, columnar and under pending deletes. */
class SqlMorDmlSpec extends SparkTestBase {

  private var catN = 0
  private def freshSqlTable(n: Int, mode: String): (String, GraftTable) = {
    catN += 1
    val cat = s"morcat$catN"
    val wh = Files.createTempDirectory(s"graft-mordml-$catN").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    import spark.implicits._
    val t = new GraftTable(spark, s"$wh/ns/t")
    t.append(SourceFiles.generate(n, 42).toDF().repartition(4))
    t.setDmlMode(mode)
    (cat, t)
  }

  private def keyset(df: DataFrame): Set[(String, String, String, String)] = {
    import spark.implicits._
    df.select(col("repo"), col("path"), col("commit"), sha2(col("content"), 256))
      .as[(String, String, String, String)].collect().toSet
  }

  test("_pos metadata column: sequential per file on both reader paths") {
    val (_, t) = freshSqlTable(120, "copy-on-write")
    import spark.implicits._
    def read = spark.read.format("graft").load(t.location)
      .select(col("_file"), col("_pos"), length(col("content")) % 3 === 0)
    // per file: positions are exactly 0..n-1
    val bad = read.groupBy("_file")
      .agg(count(lit(1)).as("n"), min("_pos").as("lo"),
           max("_pos").as("hi"), countDistinct("_pos").as("d"))
      .filter(col("lo") =!= 0 || col("hi") =!= col("n") - 1 || col("d") =!= col("n"))
    assert(bad.count() == 0, "non-sequential _pos")
    // under a pending positional delete, survivors keep their _pos
    val before = read.as[(String, Long, Boolean)].collect()
    val n = MorDelete.deleteWherePositional(t, length(col("content")) % 3 === 0)
    assert(n > 0 && t.hasPendingDeletes)
    assert(read.as[(String, Long, Boolean)].collect().sorted.toSeq ==
      before.filterNot(_._3).sorted.toSeq)
  }

  test("SQL UPDATE in merge-on-read mode: one snapshot, no file rewritten") {
    val (cat, t) = freshSqlTable(200, "merge-on-read")
    val filesBefore = t.manifest(t.currentSnapshot.get)
      .select("file_path").collect().map(_.getString(0)).toSet
    val repo = t.scan().select("repo").head().getString(0)
    val expect = t.scan().filter(col("repo") === repo).count()
    val v = t.currentVersion

    spark.sql(s"UPDATE $cat.ns.t SET lang = 'upd' WHERE repo = '$repo'")

    val snap = t.currentSnapshot.get
    assert(snap.operation == "sql-mor-update")
    assert(t.currentVersion == v + 1, "one snapshot for the whole statement")
    assert(snap.recordCount == 200)
    assert(t.hasPosDeletes(snap))
    val filesAfter = t.manifest(snap)
      .select("file_path").collect().map(_.getString(0)).toSet
    assert(filesBefore.subsetOf(filesAfter), "no pre-existing file rewritten")
    assert(t.scan().filter(col("lang") === "upd").count() == expect)
    assert(t.scan().count() == 200)
    // time travel still reads the old values
    assert(spark.read.format("graft").option("snapshot", v).load(t.location)
      .filter(col("lang") === "upd").count() == 0)
  }

  test("stacked MoR statements need no materialization in between") {
    val (cat, t) = freshSqlTable(150, "merge-on-read")
    spark.sql(s"UPDATE $cat.ns.t SET lang = 'a' WHERE length(content) % 3 = 0")
    val firstCount = t.scan().filter(col("lang") === "a").count()
    assert(firstCount > 0)
    // second statement scans THROUGH the pending addresses (old row
    // versions must not resurface as matches)
    spark.sql(s"UPDATE $cat.ns.t SET lang = 'b' WHERE lang = 'a'")
    assert(t.scan().filter(col("lang") === "a").count() == 0)
    assert(t.scan().filter(col("lang") === "b").count() == firstCount)
    assert(t.scan().count() == 150)
    // and the whole pending pile materializes to the same row set
    val expected = keyset(t.scan())
    MorDelete.applyDeletes(t)
    assert(!t.hasPendingDeletes)
    assert(keyset(t.scan()) == expected)
  }

  test("SQL MERGE in merge-on-read mode: update + insert, one snapshot") {
    val (cat, t) = freshSqlTable(150, "merge-on-read")
    import spark.implicits._
    // MERGE ... SET * resolves every target column incl. z (recomputed by
    // the writer, value ignored) — the source must carry it
    val cols = Seq("repo", "path", "commit", "lang", "content").map(col) :+
      lit(0L).as("z")
    val src = t.scan().limit(20)
      .withColumn("content", concat(lit("merged "), col("content")))
      .select(cols: _*)
      .unionByName(SourceFiles.generate(10, 77).toDF()
        .withColumn("path", concat(lit("new/"), col("path")))
        .select(cols: _*))
    src.createOrReplaceTempView("mor_src")
    val v = t.currentVersion

    spark.sql(
      s"""MERGE INTO $cat.ns.t t USING mor_src s
         |ON t.repo = s.repo AND t.path = s.path AND t.commit = s.commit
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    val snap = t.currentSnapshot.get
    assert(snap.operation == "sql-mor-merge")
    assert(t.currentVersion == v + 1)
    assert(snap.recordCount == 160)
    assert(t.scan().count() == 160)
    assert(t.scan().filter(col("content").startsWith("merged ")).count() == 20)
    assert(t.scan().filter(col("path").startsWith("new/")).count() == 10)
  }

  test("SQL DELETE with an untranslatable predicate routes through the delta path") {
    val (cat, t) = freshSqlTable(120, "merge-on-read")
    val expect = t.scan().filter(length(col("content")) % 2 === 0).count()
    assert(expect > 0)
    val v = t.currentVersion
    spark.sql(s"DELETE FROM $cat.ns.t WHERE length(content) % 2 = 0")
    val snap = t.currentSnapshot.get
    assert(snap.operation == "sql-mor-delete")
    assert(t.currentVersion == v + 1)
    assert(snap.recordCount == 120 - expect)
    assert(t.scan().count() == 120 - expect)
    assert(t.scan().filter(length(col("content")) % 2 === 0).count() == 0)
  }

  test("MERGE INTO an EMPTY merge-on-read table is a pure insert (append)") {
    catN += 1
    val cat = s"morcat$catN"
    val wh = Files.createTempDirectory(s"graft-mordml-$catN").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    spark.sql(s"CREATE TABLE $cat.ns.t (repo STRING, path STRING, commit STRING, " +
      "lang STRING, content STRING, z BIGINT) USING graft")
    val t = new GraftTable(spark, s"$wh/ns/t")
    t.setDmlMode("merge-on-read")
    import spark.implicits._
    SourceFiles.generate(15, 3).toDF().withColumn("z", lit(0L))
      .createOrReplaceTempView("mor_empty_src")
    spark.sql(
      s"""MERGE INTO $cat.ns.t t USING mor_empty_src s
         |ON t.repo = s.repo AND t.path = s.path AND t.commit = s.commit
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(t.currentSnapshot.get.operation == "append")
    assert(t.scan().count() == 15)
  }

  test("changelogScan crosses a SQL delta DELETE (pure positional delete)") {
    val (cat, t) = freshSqlTable(90, "merge-on-read")
    val v1 = t.currentVersion
    val expect = t.scan().filter(length(col("content")) % 2 === 0).count()
    spark.sql(s"DELETE FROM $cat.ns.t WHERE length(content) % 2 = 0")
    assert(t.currentSnapshot.get.operation == "sql-mor-delete")
    val dels = t.changelogScan(v1).filter(col("_change_type") === "delete")
    assert(dels.count() == expect)
    // full-row recovery, like any positional delete
    assert(dels.filter(col("content").isNull).count() == 0)
  }

  test("copy-on-write mode is unchanged; unknown mode refused") {
    val (cat, t) = freshSqlTable(80, "copy-on-write")
    val repo = t.scan().select("repo").head().getString(0)
    spark.sql(s"UPDATE $cat.ns.t SET lang = 'cow' WHERE repo = '$repo'")
    assert(t.currentSnapshot.get.operation == "sql-update")
    assert(!t.hasPendingDeletes)
    intercept[IllegalArgumentException] { t.setDmlMode("nonsense") }
  }
}
