package graft

import graft.lake.{GraftTable, Maintenance, MorDelete, Update}
import graft.synth.SourceFiles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import java.nio.file.Files

/** Schema evolution (Iceberg-style add/drop column, metadata-only commits):
  * old files read the new column as null on BOTH scan paths (library +
  * DSv2, columnar and under pending deletes), every CoW rewrite carries evolved
  * columns through, time travel sees the schema as of the pinned snapshot,
  * and dropped names are tombstoned so they can never resurrect old bytes. */
class SchemaEvolutionSpec extends SparkTestBase {

  private def freshTable(prefix: String): GraftTable =
    new GraftTable(spark, Files.createTempDirectory(prefix).toString)

  private def synthDf(n: Int, seed: Long = 42) = {
    import spark.implicits._
    SourceFiles.generate(n, seed).toDF()
  }

  private def starsOf(df: DataFrame): Map[String, Any] = {
    import spark.implicits._
    df.select($"path", $"stars").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getInt(1))).toMap
  }

  test("add column: metadata-only commit, old rows null, new rows typed") {
    val t = freshTable("se-add")
    t.append(synthDf(60).repartition(4))
    val filesBefore = t.currentSnapshot.get.fileCount

    t.evolveSchema("stars INT")
    val s = t.currentSnapshot.get
    assert(s.operation == "evolve-schema")
    assert(s.fileCount == filesBefore, "no data file may be written")
    assert(t.scan().schema.fieldNames.contains("stars"))
    assert(t.scan().filter(col("stars").isNotNull).count() == 0)

    // append rows that carry the new column
    val v2 = synthDf(30, seed = 7).withColumn("stars", (length(col("path")) % 5).cast("int"))
    t.append(v2.repartition(2))
    val got = t.scan()
    assert(got.count() == 90)
    assert(got.filter(col("stars").isNotNull).count() == 30)
    // values round-trip exactly
    val expect = v2.select(col("path"), col("stars")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val gotMap = starsOf(got.filter(col("stars").isNotNull))
    assert(gotMap == expect)
  }

  test("re-adding a dropped name is refused; base columns cannot drop") {
    val t = freshTable("se-tomb")
    t.append(synthDf(10))
    t.evolveSchema("score DOUBLE")
    t.dropColumn("score")
    assert(!t.scan().schema.fieldNames.contains("score"))
    intercept[IllegalArgumentException](t.evolveSchema("score DOUBLE"))
    intercept[IllegalArgumentException](t.dropColumn("content"))
    intercept[IllegalArgumentException](t.evolveSchema("repo STRING"))
    // a NEW name is fine after the drop
    t.evolveSchema("score2 DOUBLE")
    assert(t.scan().schema.fieldNames.contains("score2"))
  }

  test("compact, cluster and manifest rewrite preserve evolved values") {
    val t = freshTable("se-maint")
    t.append(synthDf(40).repartition(8))
    t.evolveSchema("stars INT")
    val v2 = synthDf(20, seed = 9).withColumn("stars", lit(3))
    t.append(v2.repartition(4))

    Maintenance.compact(t, "se1", smallBytes = Long.MaxValue, targetBytes = 4L << 20)
    Maintenance.cluster(t, "se2")
    t.rewriteManifests()
    val got = t.scan()
    assert(got.count() == 60)
    assert(got.filter(col("stars") === 3).count() == 20)
    assert(got.filter(col("stars").isNull).count() == 40)
  }

  test("merge into conforms an extra-less source and keeps evolved values") {
    val base = synthDf(40)
    val t2 = freshTable("se-merge")
    t2.append(base.repartition(4))
    t2.evolveSchema("stars INT")
    t2.append(synthDf(10, seed = 3).withColumn("stars", lit(5)).repartition(2))

    // source WITHOUT the evolved column: updates half the base keys
    val src = base.limit(20).withColumn("content", concat(lit("v2 "), col("content")))
    Maintenance.mergeInto(t2, "se-m", src)
    val got = t2.scan()
    assert(got.count() == 50)
    // the 10 extra-carrying rows survive the rewrite with their values
    assert(got.filter(col("stars") === 5).count() == 10)
    // updated rows took the source row (conformed to null stars)
    assert(got.filter(col("content").startsWith("v2 ")).count() == 20)
  }

  test("UPDATE can assign an evolved column") {
    val t = freshTable("se-update")
    t.append(synthDf(30).repartition(2))
    t.evolveSchema("stars INT")
    val repo = t.scan().select("repo").limit(1).collect()(0).getString(0)
    val r = Update.updateWhere(t, Array(EqualTo("repo", repo)),
      Map("stars" -> lit(9)))
    assert(r.updatedRows > 0)
    val got = t.scan()
    assert(got.filter(col("stars") === 9).count() == r.updatedRows)
    assert(got.filter(col("stars").isNull).count() == 30 - r.updatedRows)
  }

  test("DSv2 connector: evolved schema, both reader paths, filter on extra col") {
    val t = freshTable("se-dsv2")
    t.append(synthDf(40).repartition(4))
    val preEvolveV = t.currentVersion
    t.evolveSchema("stars INT")
    t.append(synthDf(20, seed = 11).withColumn("stars", lit(7)).repartition(2))

    val cols = spark.read.format("graft").load(t.location)
    assert(cols.schema.fieldNames.contains("stars"))
    assert(cols.count() == 60)
    assert(cols.filter(col("stars") === 7).count() == 20)
    assert(cols.filter(col("stars").isNull).count() == 40)

    // the row path (pending merge-on-read deletes) gives the same typed
    // answer: one extra row, appended and equality-deleted again
    import spark.implicits._
    t.append(SourceFiles.generate(1, 5).toDF().withColumn("path", lit("se/extra"))
      .withColumn("stars", lit(8)))
    MorDelete.deleteWhere(t, Array[org.apache.spark.sql.sources.Filter](
      EqualTo("path", "se/extra")))
    assert(t.hasPendingDeletes)
    val rows = spark.read.format("graft").load(t.location)
    assert(rows.count() == 60)
    assert(rows.filter(col("stars") === 7).count() == 20)
    assert(rows.filter(col("stars").isNull).count() == 40)
    assert(rows.filter(col("stars") === 8).count() == 0)

    // time travel: a pre-evolution pin reports the OLD schema
    val old = spark.read.format("graft").option("snapshot", preEvolveV).load(t.location)
    assert(!old.schema.fieldNames.contains("stars"))
    assert(old.count() == 40)
  }

  test("DSv2 write bridge appends evolved columns; aggregate pushdown skips them") {
    val t = freshTable("se-bridge")
    t.append(synthDf(10).repartition(1))
    t.evolveSchema("stars INT")
    val df = synthDf(5, seed = 13).withColumn("stars", lit(2))
    df.write.format("graft").mode("append").save(t.location)
    val got = spark.read.format("graft").load(t.location)
    assert(got.filter(col("stars") === 2).count() == 5)

    // min/max over an evolved column has no manifest stats — the zero-scan
    // aggregate pushdown must refuse and the row path answer correctly
    val agg = got.agg(max(col("stars")).as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedAggregates=[MAX(stars)"), plan)
    assert(agg.collect()(0).getInt(0) == 2)
    // while count(*)/max(repo) still pushes down on the same table
    val ok = got.agg(count(lit(1)).as("n"), max(col("repo")).as("mx"))
    assert(ok.queryExecution.executedPlan.toString.contains("PushedAggregates=[COUNT(*)"))
  }

  test("merge-on-read delete path preserves evolved values") {
    val t = freshTable("se-mor")
    t.append(synthDf(30).repartition(2))
    t.evolveSchema("stars INT")
    t.append(synthDf(10, seed = 5).withColumn("stars", lit(4)).repartition(1))
    import spark.implicits._
    // delete a slice of the BASE rows merge-on-read (no rewrite): pick paths
    // that appear only among the null-star rows so the star count is stable
    val pre = t.scan().cache()
    val starPaths = pre.filter(col("stars") === 4)
      .select("path").as[String].collect().toSet
    val victims = pre.filter(col("stars").isNull)
      .select("path").distinct().as[String].collect()
      .filterNot(starPaths.contains).take(8)
    val deleted = MorDelete.deleteWhere(t, col("path").isin(victims.toSeq: _*))
    pre.unpersist()
    assert(deleted > 0)
    val got = t.scan()
    assert(got.count() == 40 - deleted)
    assert(got.filter(col("stars") === 4).count() == 10)
    // materialization rewrites only affected files, stars survive
    MorDelete.applyDeletes(t)
    val got2 = t.scan()
    assert(got2.count() == 40 - deleted)
    assert(got2.filter(col("stars") === 4).count() == 10)
  }

  test("SQL DELETE copy-on-write rewrite preserves evolved values") {
    val t = freshTable("se-del")
    t.append(synthDf(30).repartition(2))
    t.evolveSchema("stars INT")
    t.append(synthDf(10, seed = 5).withColumn("stars", lit(4)).repartition(1))
    import spark.implicits._
    val somePath = t.scan().filter(col("stars") === 4)
      .select("path").as[String].head()
    val matched4 = t.scan()
      .filter(col("stars") === 4 && col("path") === somePath).count()
    graft.lake.Delete.deleteWhere(t, Array(EqualTo("path", somePath)))
    val got = t.scan()
    assert(got.filter(col("stars") === 4).count() == 10 - matched4)
    assert(got.filter(col("path") === somePath).count() == 0)
  }

  test("SQL ALTER TABLE ADD/DROP COLUMN routes through the metadata-only commits") {
    val wh = Files.createTempDirectory("se-ddl").toString
    spark.conf.set("spark.sql.catalog.secat", "graft.lake.GraftCatalog")
    spark.conf.set("spark.sql.catalog.secat.warehouse", wh)
    spark.sql("CREATE NAMESPACE secat.ns")
    val t = new GraftTable(spark, s"$wh/ns/t")
    t.append(synthDf(20).repartition(2))
    val filesBefore = t.currentSnapshot.get.fileCount

    // two ADDs in one statement → ONE evolve commit, zero data files written
    val v0 = t.currentVersion
    spark.sql("ALTER TABLE secat.ns.t ADD COLUMNS (stars INT, score DOUBLE)")
    assert(t.currentVersion == v0 + 1, "one commit for both columns")
    val s = t.currentSnapshot.get
    assert(s.operation == "evolve-schema" && s.fileCount == filesBefore)
    val cols = spark.sql("SELECT * FROM secat.ns.t").schema.fieldNames.toSet
    assert(cols.contains("stars") && cols.contains("score"))
    assert(spark.sql("SELECT * FROM secat.ns.t WHERE stars IS NOT NULL").count() == 0)

    spark.sql("ALTER TABLE secat.ns.t DROP COLUMN score")
    val cols2 = spark.sql("SELECT * FROM secat.ns.t").schema.fieldNames.toSet
    assert(cols2.contains("stars") && !cols2.contains("score"))
    // tombstone enforced through SQL too
    val err = intercept[Exception] {
      spark.sql("ALTER TABLE secat.ns.t ADD COLUMNS (score DOUBLE)")
    }
    assert(err.getMessage.contains("previously dropped"))
    // unsupported changes are refused, not silently ignored
    val err2 = intercept[Exception] {
      spark.sql("ALTER TABLE secat.ns.t RENAME COLUMN stars TO s2")
    }
    assert(err2.getMessage.toLowerCase.contains("unsupported"))
  }

  test("a column comment with a double quote, a backslash and a single quote survives") {
    val t = freshTable("se-quote")
    t.append(synthDf(20).repartition(2))
    val comment = "say \"hi\" \\ it's"
    val ddlComment = comment.replace("\\", "\\\\").replace("'", "\\'")
    t.evolveSchema(s"note STRING COMMENT '$ddlComment'")
    def noteComment(tb: GraftTable): Option[String] =
      tb.dataSchemaFor(tb.currentSnapshot).find(_.name == "note").flatMap(_.getComment())
    assert(noteComment(t).contains(comment))
    assert(t.scan().filter(col("note").isNull).count() == 20)
    t.append(synthDf(10, seed = 8).withColumn("note", lit("noted")))
    val reopened = new GraftTable(spark, t.location)
    assert(noteComment(reopened).contains(comment))
    assert(reopened.scan().count() == 30)
    assert(reopened.scan().filter(col("note") === "noted").count() == 10)
    assert(reopened.currentSnapshot.get.recordCount == 30)
  }
}
