package graft.lake

import graft.SparkTestBase
import graft.synth.SourceFiles
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, In}
import scala.jdk.CollectionConverters._

/** The connector's read tasks: [[GraftScan.packFiles]] groups a scan's kept
  * files by Spark's FileSourceScan rule. Plain `spark.read.parquet` over the
  * same files is the reference for the grouping and for the rows. */
class ScanPackingSpec extends SparkTestBase {

  /** the three confs the rule reads, at Spark's defaults unless given */
  private def withFileConfs[T](maxPartitionBytes: Long = 128L << 20,
                               openCost: Long = 4L << 20)(body: => T): T = {
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes",
      "spark.sql.files.minPartitionNum")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), maxPartitionBytes)
    spark.conf.set(keys(1), openCost)
    spark.conf.unset(keys(2))
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** 800 rows in 16 small files, each holding a range of repos */
  private def table16(prefix: String): GraftTable = {
    import spark.implicits._
    val t = new GraftTable(spark, Files.createTempDirectory(prefix).toString)
    t.append(SourceFiles.generate(800, 42).toDF().repartitionByRange(16, col("repo"), col("path")))
    assert(t.currentSnapshot.get.fileCount == 16)
    t
  }

  private def connector(t: GraftTable): DataFrame = spark.read.format("graft").load(t.location)

  /** (absolute path, committed bytes) of every live data file */
  private def liveFiles(t: GraftTable): Seq[(String, Long)] =
    t.manifestEntries(t.currentSnapshot.get).map(e => (t.io.abs(e.file_path).toString, e.file_bytes))

  private def groups(parts: Array[org.apache.spark.sql.connector.read.InputPartition]): Seq[Seq[String]] =
    parts.toSeq.map { case f: GraftFilesPartition => f.absPaths }

  private def plannedGroups(df: DataFrame): Seq[Seq[String]] =
    groups(graftScans(df).head.planInputPartitions())

  /** the file sizes of each task a plain parquet read of `paths` plans */
  private def plainGroups(paths: Seq[String]): Seq[Seq[Long]] =
    spark.read.parquet(paths: _*).queryExecution.executedPlan
      .collectFirst { case f: FileSourceScanExec => f }.get
      .inputRDD.partitions.toSeq.map { case fp: FilePartition => fp.files.map(_.length).toSeq }

  private def rowsOf(df: DataFrame): Set[String] =
    df.select("repo", "path", "commit", "lang", "content").collect()
      .map(_.toSeq.mkString("\u0001")).toSet

  test("16 small files on local[4] pack into 4 tasks; every kept file lands in exactly one") {
    withFileConfs() {
      val t = table16("graft-pack")
      val df = connector(t)
      val parts = plannedGroups(df)
      assert(parts.map(_.size) == Seq(4, 4, 4, 4), parts)
      val paths = parts.flatten
      assert(paths.distinct.size == paths.size)
      assert(paths.toSet == liveFiles(t).map(_._1).toSet)
      // EXPLAIN shows files kept and tasks planned apart
      val desc = df.queryExecution.executedPlan.toString
      assert(desc.contains("files=16/16") && desc.contains("partitions=4"), desc)
      assert(rowsOf(df) == rowsOf(spark.read.parquet(paths: _*)))
    }
  }

  test("at most leaf-parallelism small files keep one file per task") {
    withFileConfs() {
      val t = table16("graft-pack-small")
      val files = liveFiles(t)
      for (k <- 1 to 4)
        assert(groups(GraftScan.packFiles(spark, files.take(k))).map(_.size) == Seq.fill(k)(1))
      // a pruned read of a few files: one task per kept file
      val repo = SourceFiles.repoName(5)
      val df = connector(t).filter(col("repo") === repo)
      val kept = keptFiles(df)
      assert(kept >= 1 && kept <= 4, s"kept $kept")
      assert(plannedGroups(df).map(_.size) == Seq.fill(kept)(1))
      assert(rowsOf(df) == rowsOf(spark.read.parquet(files.map(_._1): _*).filter(col("repo") === repo)))
    }
  }

  test("the rule follows maxPartitionBytes and openCostInBytes as a plain parquet read does") {
    val t = table16("graft-pack-confs")
    val files = liveFiles(t)
    val bytes = files.toMap
    val largest = files.map(_._2).max
    // configurations under which no file exceeds the split size, so plain
    // Spark splits none and both reads group whole files
    for ((maxBytes, open) <- Seq((128L << 20, 4L << 20), (128L << 20, 1L), (2 * largest, 1L),
                                 (3 * largest, largest / 2)))
      withFileConfs(maxBytes, open) {
        val ours = plannedGroups(connector(t)).map(_.map(bytes))
        assert(ours == plainGroups(files.map(_._1)), s"maxPartitionBytes=$maxBytes openCost=$open")
      }
    withFileConfs(maxPartitionBytes = 2 * largest, openCost = 1L) {
      assert(plannedGroups(connector(t)).size > 4) // smaller splits, more tasks
    }
    // every file is larger than the split size: each gets a task to itself
    withFileConfs(maxPartitionBytes = 1L, openCost = 1L) {
      assert(plannedGroups(connector(t)).map(_.size) == Seq.fill(16)(1))
    }
  }

  test("_file and _pos inside a packed partition equal a per-file plain read") {
    import spark.implicits._
    withFileConfs() {
      val t = table16("graft-pack-meta")
      val df = connector(t)
      assert(plannedGroups(df).forall(_.size == 4))
      val got = df.select("_file", "_pos", "repo", "path", "commit")
        .as[(String, Long, String, String, String)].collect().toSeq.sorted
      val want = liveFiles(t).flatMap { case (f, _) =>
        spark.read.parquet(f)
          .select(lit(f), col("_metadata.row_index"), col("repo"), col("path"), col("commit"))
          .as[(String, Long, String, String, String)].collect()
      }.sorted
      assert(got.size == 800 && got == want)
    }
  }

  test("a pushed LIMIT and a runtime-filter re-plan return plain Spark's rows") {
    withFileConfs() {
      val t = table16("graft-pack-limit")
      val files = liveFiles(t).map(_._1)
      val plain = spark.read.parquet(files: _*)
      val all = rowsOf(plain)
      for (n <- Seq(1, 60, 400)) {
        val limited = connector(t).limit(n)
        val got = limited.select("repo", "path", "commit", "lang", "content").collect()
          .map(_.toSeq.mkString("\u0001"))
        assert(got.length == n && got.distinct.length == n && got.forall(all), s"LIMIT $n")
      }
      // 400 rows span about 8 of the 16 files: fewer tasks than kept files
      val limited = connector(t).limit(400)
      val kept = keptFiles(limited)
      assert(kept > 4 && plannedGroups(limited).size < kept, s"kept $kept")

      // the call sequence BatchScanExec makes for a runtime filter
      val scan = new GraftScanBuilder(t.location).build().asInstanceOf[GraftScan]
      assert(groups(scan.planInputPartitions()).size == 4)
      val repos = plain.select("repo").distinct().collect().map(_.getString(0)).sorted
      val half = repos.take(repos.length / 2)
      scan.filter(Array[Filter](In("repo", half.map(r => r: Any))))
      val replanned = scan.planInputPartitions()
      val keptRt = scan.pruneInfo.get._1
      assert(keptRt > 4 && keptRt < 16 && replanned.length < keptRt, s"kept $keptRt")
      assert(groups(replanned).flatten.size == keptRt)
      // read the re-planned tasks through the scan's own reader factory
      val schema = scan.readSchema()
      val cols = Seq("repo", "path", "commit", "lang", "content").map(schema.fieldIndex)
      val factory = scan.createReaderFactory()
      val read = replanned.toSeq.flatMap { p =>
        val r = factory.createColumnarReader(p)
        val out = collection.mutable.ArrayBuffer.empty[String]
        while (r.next()) r.get().rowIterator().asScala.foreach { row =>
          out += cols.map(i => row.getUTF8String(i).toString).mkString("\u0001")
        }
        r.close()
        out
      }
      val wanted = half.toSet
      // the filter stays residual: keep the rows it selects
      val selected = read.filter(r => wanted(r.takeWhile(_ != '\u0001'))).toSet
      assert(selected == rowsOf(plain.filter(col("repo").isin(half: _*))))
    }
  }
}
