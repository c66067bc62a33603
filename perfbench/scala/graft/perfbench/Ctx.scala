package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.lake.GraftInputPartition

/** State one benchmark run shares across its workload: the session, the
  * run's scratch directory, the operation tally and the metrics it reports.
  * `e2e` and `layer` hold the metrics `BENCHMARK.json` names, which every
  * workload reports; `detail` holds the workload's own figures, printed on
  * their own lines but not in the result. */
final class Ctx(var spark: SparkSession, val work: Path, val seed: Long, val traced: Boolean) {
  var tracer = new Tracer(spark.sparkContext)
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]

  /** Counts one operation; a false `ok` counts it as failed. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; notes += s"FAILED: $what" }
  }

  /** Runs `body` as one counted operation; a thrown exception fails it. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Exception =>
        op(ok = false, s"$what: $e")
        None
    }

  private var dirs = 0
  def freshDir(tag: String): String = {
    dirs += 1
    work.resolve(f"$tag-$dirs%03d").toString
  }

  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)

  private val t0 = System.nanoTime()
  /** Progress line on standard error, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")

  /** Runs `iter` as one traced iteration at a time until `budgetNs` is
    * spent and at least `min` iterations succeeded, giving up at three
    * times the budget; `iter` returns whether it succeeded. */
  def loop(budgetNs: Long, min: Int)(iter: => Boolean): Unit = {
    val t0 = System.nanoTime()
    def elapsed = System.nanoTime() - t0
    var ok = 0
    while ((elapsed < budgetNs || ok < min) && elapsed < 3 * budgetNs)
      if (span("bench", "iter")(iter)) ok += 1
    if (ok == 0) throw new IllegalStateException("no iteration succeeded")
  }
}

object Ctx {
  def nanos[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  def medianOf(xs: Seq[Double]): Double = quantileOf(xs, 0.5)

  /** Nearest-rank quantile. */
  def quantileOf(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  val Cols: Seq[String] = Seq("repo", "path", "commit", "lang", "content")

  /** Order-independent row-set digest: (rows, xor and low-32-bit sum of a
    * 64-bit row hash). Plain Spark only, so it can check the engine. */
  def digest(df: DataFrame): (Long, Long, Long) = digestOf(digestQuery(df))

  /** The one-row query behind `digest`, to plan apart from running it. */
  def digestQuery(df: DataFrame): DataFrame = {
    val h = xxhash64(Cols.map(col): _*)
    df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
           coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)))
  }

  /** Runs a `digestQuery` (reusing its plan). */
  def digestOf(q: DataFrame): (Long, Long, Long) = {
    val r = q.collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The DSv2 scan nodes of a planned query, looking through AQE. */
  def batchScans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => batchScans(a.inputPlan)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(batchScans)
  }

  /** Plans `df` down to its scans' input partitions (one per data file).
    * Execution reuses this plan. */
  def planPartitions(df: DataFrame): Seq[InputPartition] =
    batchScans(df.queryExecution.executedPlan).flatMap(_.inputPartitions)

  private val sizes = mutable.Map.empty[String, Long]
  /** Bytes of the data files behind `parts` (data files never change). */
  def fileBytes(spark: SparkSession, parts: Seq[InputPartition]): Long =
    parts.collect { case g: GraftInputPartition => g.absPath }.map { p =>
      sizes.getOrElseUpdate(p, {
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(path).getLen
      })
    }.sum

  def graftRead(spark: SparkSession, loc: String): DataFrame =
    spark.read.format("graft").load(loc)
}
