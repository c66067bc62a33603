package graft.lake

import graft.SparkTestBase
import graft.synth.SourceFiles
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** Every graft write path writes through GraftDataFileWriter: its manifest
  * entries equal, field for field and digest included, the reference
  * `groupBy(input_file_name)` aggregation over the files it wrote
  * ([[StatsOracle]]); every file reads back through plain
  * `spark.read.parquet` and through `format("graft")`. Then the write
  * path's edge cases: empty input, impure buckets, a failing task, and
  * SQL DML over evolved DATE and DECIMAL columns. */
class WriterStatsSpec extends SparkTestBase {

  private def synthDf(n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    SourceFiles.generate(n, seed).toDF()
  }

  private def fresh(name: String) =
    new GraftTable(spark, Files.createTempDirectory(name).toString)

  private def live(t: GraftTable): Set[String] =
    t.currentSnapshot.toSeq.flatMap(t.manifestEntries).map(_.file_path).toSet

  /** the data files under t's root, relative to it. */
  private def onDisk(t: GraftTable): Set[String] = {
    val root = Paths.get(t.location)
    val data = root.resolve("data")
    if (!Files.exists(data)) Set.empty
    else Files.walk(data).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString).toSet
  }

  /** the entries t's current snapshot added over `before`, checked against
    * the reference and read back both ways. */
  private def checkAdded(t: GraftTable, before: Set[String],
                         bucketBy: Option[(String, Int)] = None): Seq[ManifestEntry] = {
    val added = t.manifestEntries(t.currentSnapshot.get)
      .filterNot(e => before(e.file_path)).sortBy(_.file_path)
    assert(added.nonEmpty)
    val tag = added.head.partition
    assert(added.forall(_.partition == tag))
    val want = StatsOracle.entriesFor(t, added.map(_.file_path), tag, bucketBy)
      .sortBy(_.file_path)
    assert(added == want)
    added.foreach { e =>
      assert(spark.read.parquet(t.io.abs(e.file_path).toString).count() == e.record_count)
    }
    assert(spark.read.format("graft").load(t.location).count() == t.scan().count())
    added
  }

  /** rows of t's files whose z differs from `expected` over the same row. */
  private def zMismatches(t: GraftTable, expected: org.apache.spark.sql.Column): Long =
    t.readFiles(live(t).toSeq).filter(col("z") =!= expected).count()

  private val zOrder = graft.expr.XmqFunctions.zorder_interleave(
    xxhash64(col("repo")), xxhash64(col("path")), pmod(xxhash64(col("lang")), lit(256L)))

  private def withCatalog(name: String)(body: (String, String) => Unit): Unit = {
    val wh = Files.createTempDirectory(s"graft-ws-$name").toString
    spark.conf.set(s"spark.sql.catalog.$name", "graft.lake.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    try {
      spark.sql(s"CREATE NAMESPACE $name.ns")
      body(name, s"$wh/ns/t")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$name")
      spark.conf.unset(s"spark.sql.catalog.$name.warehouse")
    }
  }

  test("append, compact and a Hilbert cluster: entries equal the reference") {
    val t = fresh("graft-ws-append")
    t.append(synthDf(300, 1).repartition(3))
    assert(checkAdded(t, Set.empty).map(_.z_order) == Seq.fill(3)(Some(true)))
    t.append(synthDf(120, 2).repartition(2))
    assert(zMismatches(t, zOrder) == 0)

    var before = live(t)
    assert(Maintenance.compact(t, "j1").outputFiles > 0)
    checkAdded(t, before)

    before = live(t)
    Maintenance.cluster(t, "j2", useHilbert = true)
    assert(checkAdded(t, before).forall(_.z_order.contains(false)))
    // the cluster's Hilbert values pass through the writer unchanged
    val hilbert = graft.expr.XmqFunctions.hilbert_index(
      shiftrightunsigned(xxhash64(col("repo")), 34),
      shiftrightunsigned(xxhash64(col("path")), 34), lit(30))
    assert(zMismatches(t, hilbert) == 0)
    assert(zMismatches(t, zOrder) > 0)
  }

  test("bucketed writes: bucketize and a routed append carry pure buckets") {
    val t = fresh("graft-ws-bucket")
    t.append(synthDf(200, 3))
    var before = live(t)
    Maintenance.bucketize(t, 4)
    val bucketed = checkAdded(t, before, Some(("repo", 4)))
    assert(bucketed.flatMap(_.bucket).distinct.size == bucketed.size)
    before = live(t)
    t.append(synthDf(100, 4))
    assert(checkAdded(t, before, Some(("repo", 4))).forall(_.bucket.nonEmpty))
  }

  test("SQL UPDATE (copy-on-write) and MERGE (merge-on-read): entries equal the reference") {
    withCatalog("wscow") { (cat, loc) =>
      val t = new GraftTable(spark, loc)
      t.append(synthDf(200, 5).repartition(4))
      val repo = t.scan().select("repo").head().getString(0)
      val before = live(t)
      spark.sql(s"UPDATE $cat.ns.t SET path = concat(path, '.moved') WHERE repo = '$repo'")
      assert(t.currentSnapshot.get.operation == "sql-update")
      checkAdded(t, before)
      // z follows the updated path: DML recomputes it
      assert(zMismatches(t, zOrder) == 0)
    }
    withCatalog("wsmor") { (cat, loc) =>
      val t = new GraftTable(spark, loc)
      t.append(synthDf(200, 6).repartition(4))
      t.setDmlMode("merge-on-read")
      synthDf(200, 6).limit(30).withColumn("content", concat(col("content"), lit(" v2")))
        .unionByName(synthDf(20, 7)).createOrReplaceTempView("ws_src")
      val before = live(t)
      spark.sql(
        s"""MERGE INTO $cat.ns.t t USING ws_src s
           |ON t.repo = s.repo AND t.path = s.path AND t.commit = s.commit
           |WHEN MATCHED THEN UPDATE SET t.content = s.content
           |WHEN NOT MATCHED THEN INSERT (repo, path, commit, lang, content)
           |VALUES (s.repo, s.path, s.commit, s.lang, s.content)""".stripMargin)
      val added = checkAdded(t, before)
      assert(added.map(_.record_count).sum == 50)
      // the merge's address files open through the same writer
      val snap = t.currentSnapshot.get
      val addresses = t.posDeleteShards(snap).map(sh =>
        spark.read.parquet(t.io.abs(sh.path).toString))
      assert(addresses.nonEmpty && addresses.forall(_.columns.toSeq == Seq("file_path", "pos")))
      assert(addresses.map(_.count()).sum == 30)
      assert(t.scan().count() == 220)
    }
  }

  test("a streaming epoch: entries equal the reference") {
    val src = fresh("graft-ws-src")
    src.append(synthDf(150, 8).repartition(3))
    val dst = fresh("graft-ws-dst")
    spark.readStream.format("graft").load(src.location)
      .writeStream.format("graft").option("path", dst.location)
      .option("checkpointLocation", Files.createTempDirectory("graft-ws-ck").toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(dst.currentSnapshot.get.operation.startsWith("stream-append"))
    checkAdded(dst, Set.empty)
    assert(dst.scan().count() == 150)
  }

  test("empty input writes no file and commits no entry") {
    val t = fresh("graft-ws-empty")
    t.append(synthDf(50, 9))
    val before = live(t)
    val empty = synthDf(50, 9).filter(lit(false))
    assert(t.writeDataFiles(empty, "nothing").isEmpty)
    t.append(empty.repartition(3))
    assert(live(t) == before)
    assert(onDisk(t) == before)
  }

  test("a bucketed write whose partition mixes buckets is refused") {
    val t = fresh("graft-ws-impure")
    t.append(synthDf(50, 10))
    val before = onDisk(t)
    val e = intercept[Exception](
      t.writeDataFiles(synthDf(200, 11).coalesce(1), "impure", Some(("repo", 4))))
    assert(e.getMessage.contains("impure"))
    // the failed task deleted its own file
    assert(onDisk(t) == before)
  }

  test("a failing task leaves the snapshot unchanged; its leftovers are orphans") {
    val t = fresh("graft-ws-fail")
    t.append(synthDf(100, 12))
    val snap = t.currentSnapshot.get
    val rows = synthDf(400, 13)
    val last = rows.orderBy("path").select("path").collect().last.getString(0)
    val failing = rows.repartition(2).sortWithinPartitions("path")
      .withColumn("content",
        when(col("path") === last, raise_error(lit("boom"))).otherwise(col("content")))
    assert(intercept[Exception](t.append(failing)).getMessage.contains("boom"))
    assert(t.currentSnapshot.get == snap)
    t.removeOrphanFiles(System.currentTimeMillis() + 60000)
    assert(onDisk(t) == live(t))
    assert(t.scan().count() == 100)
  }

  test("SQL UPDATE writes evolved DATE and DECIMAL columns") {
    for (mode <- Seq("copy-on-write", "merge-on-read")) {
      withCatalog(s"wsevo${mode.take(4).replace("-", "")}") { (cat, loc) =>
        val t = new GraftTable(spark, loc)
        t.append(synthDf(120, 14).repartition(2))
        t.evolveSchema("born DATE, price DECIMAL(10,2)")
        t.setDmlMode(mode)
        val repo = t.scan().select("repo").head().getString(0)
        val before = live(t)
        spark.sql(s"UPDATE $cat.ns.t SET born = DATE'2024-02-29', price = 12.34 " +
          s"WHERE repo = '$repo'")
        checkAdded(t, before)
        val got = spark.read.format("graft").load(loc).filter(col("repo") === repo)
          .select(col("born").cast("string"), col("price").cast("string")).distinct().collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        assert(got == Seq(("2024-02-29", "12.34")), mode)
        assert(spark.read.format("graft").load(loc).filter(col("repo") =!= repo)
          .filter(col("born").isNotNull || col("price").isNotNull).count() == 0, mode)
      }
    }
  }
}
