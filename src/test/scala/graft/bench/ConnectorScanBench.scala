package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Connector-vs-prunedScan comparison at 10× bench scale (VERDICT r4 #1
  * "Done =" criterion): the same pruning predicate over the same maintained
  * table, two read paths —
  *
  *   prunedScan  — library API: pruned file list into the BUILT-IN parquet
  *                 source (FileSourceScan, vectorized, the gold standard)
  *   dsv2_col    — the DSv2 connector's columnar VectorizedParquetRecordReader
  *
  * Each path runs the same aggregate (count + sum(length(content))) so the
  * scan, not the query, dominates. Best-of-k wall seconds per path.
  *
  * Test/runMain graft.bench.ConnectorScanBench [rows] [files] [trials]
  */
object ConnectorScanBench {

  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toInt else 500000
    val files = if (args.length > 1) args(1).toInt else 32
    val trials = if (args.length > 2) args(2).toInt else 4

    val spark = SparkSession.builder().master("local[32]")
      .appName("graft-connector-scan")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graft-connbench").toString
    val t = new graft.lake.GraftTable(spark, dir)
    // 8 repos → the predicate keeps ~1/8 of rows, a handful of files after
    // clustering: pruning fires AND the surviving scan is big enough to time
    val nRepos = 8
    t.append(spark.range(rows).repartition(files).as[java.lang.Long]
      .mapPartitions(_.map(id => graft.synth.SourceFiles.row(42L, Long2long(id), nRepos)))
      .toDF())
    graft.lake.Maintenance.cluster(t, "connbench", numFiles = files)
    val total = t.currentSnapshot.get.fileCount

    // predicate: one repo — prunes via manifest stats on every path
    val repo = spark.read.schema(graft.lake.GraftTable.dataSchema)
      .parquet(t.io.abs(t.manifestEntries(t.currentSnapshot.get).head.file_path).toString)
      .select($"repo").head().getString(0)

    def bestOf(f: () => Long): (Double, Long) = {
      var best = Double.MaxValue; var n = 0L
      (1 to trials).foreach { _ =>
        val t0 = System.nanoTime()
        n = f()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, n)
    }

    // two workloads: WIDE materializes the content strings (the string-copy
    // cost dominates any reader); NARROW projects only the z long column,
    // where the decoder is the whole story
    def agg(df: org.apache.spark.sql.DataFrame): Long =
      df.filter($"repo" === repo)
        .agg(count(lit(1)), sum(length($"content"))).head().getLong(0)
    def aggNarrow(df: org.apache.spark.sql.DataFrame): Long =
      df.filter($"repo" === repo).agg(count($"z")).head().getLong(0)

    // warmup each path once (codegen, footers, page cache)
    val paths = Seq(
      "pruned_scan" -> (() => {
        val rh = spark.range(1).select(xxhash64(lit(repo))).head().getLong(0)
        val (df, _, _) = t.prunedScan(col("min_rh") <= rh && col("max_rh") >= rh)
        agg(df)
      }),
      "dsv2_col" -> (() => agg(spark.read.format("graft").load(dir))))

    val narrowPaths = Seq(
      "pruned_scan" -> (() => {
        val rh = spark.range(1).select(xxhash64(lit(repo))).head().getLong(0)
        val (df, _, _) = t.prunedScan(col("min_rh") <= rh && col("max_rh") >= rh)
        aggNarrow(df)
      }),
      "dsv2_col" -> (() => aggNarrow(spark.read.format("graft").load(dir))))

    def runSuite(tag: String,
                 ps: Seq[(String, () => Long)]): Map[String, (Double, Long)] = {
      ps.foreach { case (_, f) => f() } // warmup: codegen, footers, page cache
      ps.map { case (name, f) =>
        val (sec, n) = bestOf(f)
        println(f"$tag $name%-12s $sec%7.3f s  rows=$n")
        name -> ((sec, n))
      }.toMap
    }

    // third workload: UNFILTERED table-wide aggregate — the connector's
    // COMPLETE aggregate pushdown answers it from manifest stats (one tiny
    // manifest job, zero data files), vs the same aggregate over the full
    // scan; at 100 TB the gap is the whole table's scan time
    def aggStats(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(count(lit(1)), min($"repo"), max($"repo"), min($"path"),
        max($"path")).head().getLong(0)
    val aggPaths = Seq(
      "full_scan" -> (() => aggStats(t.scan())),
      "agg_pushdown" -> (() => aggStats(spark.read.format("graft").load(dir))))

    val res = runSuite("wide  ", paths)
    val resN = runSuite("narrow", narrowPaths)
    val resA = runSuite("agg   ", aggPaths)

    for (r <- Seq(res, resN, resA))
      require(r.values.map(_._2).toSet.size == 1, s"paths disagree on the row count: $r")
    def j(r: Map[String, (Double, Long)]) =
      f""""pruned_scan_sec":${r("pruned_scan")._1}%.3f,""" +
      f""""dsv2_col_sec":${r("dsv2_col")._1}%.3f,""" +
      f""""col_vs_pruned":${r("dsv2_col")._1 / r("pruned_scan")._1}%.2f"""
    println(s"""{"metric":"connector_scan","rows":$rows,"files":$total,""" +
      s""""wide":{${j(res)}},"narrow":{${j(resN)}},""" +
      f""""agg":{"full_scan_sec":${resA("full_scan")._1}%.3f,""" +
      f""""agg_pushdown_sec":${resA("agg_pushdown")._1}%.3f,""" +
      f""""pushdown_speedup":${resA("full_scan")._1 / resA("agg_pushdown")._1}%.2f}}""")

    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
    spark.stop()
  }
}
