package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-memory proof for shard-batched maintenance planning (VERDICT r4
  * #5): synthesizes a >=1M-entry manifest DISTRIBUTED (the entries are
  * Spark-written shard parquet; no entry object ever exists on the driver),
  * registers it as a snapshot, then runs the batched planning stream and
  * records the per-batch collect sizes — the driver's peak live path count
  * is one batch, never the table.
  *
  *   runMain graft.bench.ManifestScaleDebug [entries] [batchFiles]
  */
object ManifestScaleDebug {

  def main(args: Array[String]): Unit = {
    val entries = if (args.length > 0) args(0).toInt else 1000000
    val batchFiles = if (args.length > 1) args(1).toInt else 100000

    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-manifest-scale")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-scale").toString
    val t = new graft.lake.GraftTable(spark, dir)
    t.init()

    // 1M synthetic entries, all under the small-file threshold, written as a
    // 16-partition add shard straight into the table's meta tree
    val addRel = "meta/manifest-add-v1.parquet"
    t.io.writeParquet(spark.range(entries).repartition(16)
      .select(
        concat(lit("data/fake/f"), col("id"), lit(".parquet")).as("file_path"),
        concat(lit("p"), (col("id") / 4096).cast("long")).as("partition"),
        lit(1000L).as("record_count"),
        lit(1L << 20).as("file_bytes"),
        lit("r").as("min_repo"), lit("r").as("max_repo"),
        lit("p").as("min_path"), lit("p").as("max_path"),
        array(lit("scala")).as("langs"),
        col("id").as("min_z"), col("id").as("max_z"),
        lit(0L).as("min_rh"), lit(0L).as("max_rh"),
        lit(0L).as("digest")), addRel, overwrite = true)
    val snap = t.commitSparkShards(Seq(addRel), "synthetic-import",
      entries.toLong * 1000L, entries.toLong)
    require(snap.fileCount == entries.toLong)

    val rt = Runtime.getRuntime
    def usedMb(): Long = { System.gc(); (rt.totalMemory() - rt.freeMemory()) >> 20 }
    val heapBefore = usedMb()

    // the batched planning stream compactBatched/clusterBatched run on:
    // every batch is at most batchFiles paths; assert it, count them
    val small = t.manifest(snap).filter(col("file_bytes") < (8L << 20))
      .select("file_path", "file_bytes", "record_count")
    val t0 = System.nanoTime()
    var batches = 0; var peak = 0; var total = 0L
    graft.lake.Maintenance.streamBatches(small, batchFiles).foreach { b =>
      batches += 1
      peak = math.max(peak, b.size)
      total += b.size
    }
    val planSec = (System.nanoTime() - t0) / 1e9
    val heapAfter = usedMb()

    require(total == entries.toLong, s"stream lost entries: $total of $entries")
    require(peak <= batchFiles, s"batch exceeded bound: $peak > $batchFiles")

    println(s"""{"metric":"manifest_batched_planning","entries":$entries,""" +
      s""""batch_files":$batchFiles,"batches":$batches,"peak_batch_paths":$peak,""" +
      s""""total_paths":$total,"plan_sec":${f"$planSec%.2f"},""" +
      s""""driver_heap_mb_before":$heapBefore,"driver_heap_mb_after":$heapAfter}""")

    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
    spark.stop()
  }
}
