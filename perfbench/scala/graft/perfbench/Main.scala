package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import Ctx._

/** One workload of the benchmark. `setup` builds fresh state; on the
  * process's first set-up it also makes the untimed warm pass that keeps JIT
  * and first-touch codegen out of the timed numbers; `measure` runs the timed
  * loop for about `budgetNs`, records `op_p50_ms` and returns the median
  * operation time in ns; `check` runs the untimed correctness
  * checks; `layerMetrics` turns a traced `measure` (spans `ss`) and the
  * traced set-ups (spans `setup`) into the `lake.scan` and `lake.maint`
  * per-layer metrics. */
trait Workload {
  def name: String
  def setup(first: Boolean): Unit
  def measure(budgetNs: Long): Double
  def check(): Unit
  def layerMetrics(ss: Seq[Span], setup: Seq[Span]): Unit
  /** The staged corpus, sampled for the single-threaded kernel timings. */
  def staged: Staged
  /** Figures a traced run measures after its spans are written. */
  def afterTrace(budgetNs: Long): Unit = ()
}

/** Entry point: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --traces DIR [--commit C --source S]`. Prints a host fingerprint, then
  * one JSON result line last. */
object Main {
  /** Set-up repetitions whose median is `setup_s`. */
  val SetupReps = 3

  def session(cores: Int, work: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Replaces the run's session with one at local[cores]. */
  def restart(ctx: Ctx, cores: Int): Unit = {
    ctx.tracer.disable()
    ctx.spark.stop()
    ctx.spark = session(cores, ctx.work)
    ctx.tracer = new graft.perfbench.Tracer(ctx.spark.sparkContext)
  }

  /** Fixed CPU-only canary: splitmix64 steps per second, median of five. */
  def canary(): Double = medianOf((1 to 5).map { _ =>
    val n = 20000000
    var z = 0L
    val (_, ns) = nanos {
      var i = 0
      while (i < n) { z = graft.synth.SourceFiles.mix(z); i += 1 }
    }
    if (z == 42L) println("") // keeps the loop from being optimised away
    n / (ns / 1e9)
  })

  /** Peak resident set size (Linux `VmHWM`) of this JVM, in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def jsonNum(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }

  private def metricsJson(ms: collection.Map[String, (Double, String)]): String =
    ms.map { case (k, (v, u)) => s"""${jsonStr(k)}: {"value": ${jsonNum(v)}, "unit": ${jsonStr(u)}}""" }
      .mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = Paths.get(a("work"))
    val nproc = Runtime.getRuntime.availableProcessors()

    val ctx = new Ctx(session(nproc, work), work, seed, traced)
    val canaryOps = canary()
    val conf = ctx.spark.conf
    println("host " + Seq(
      "nproc" -> nproc.toString,
      "java" -> jsonStr(System.getProperty("java.version")),
      "jvm" -> jsonStr(System.getProperty("java.vm.name")),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark" -> jsonStr(ctx.spark.version),
      "master" -> jsonStr(ctx.spark.sparkContext.master),
      "aqe" -> jsonStr(conf.get("spark.sql.adaptive.enabled")),
      "shuffle_partitions" -> jsonStr(conf.get("spark.sql.shuffle.partitions")),
      "ui" -> jsonStr(ctx.spark.sparkContext.getConf.get("spark.ui.enabled")),
      "commit" -> jsonStr(a.getOrElse("commit", "unknown")),
      "source_sha" -> jsonStr(a.getOrElse("source", "unknown")),
      "canary_ops_per_s" -> jsonNum(canaryOps)
    ).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))

    val w: Workload = workload match {
      case "verify_scan" => new VerifyScan(ctx)
      case "maintain" => new Maintain(ctx)
      case "lookup" => new Lookup(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    if (traced) ctx.tracer.enable()
    val (setupNs, setupId) = ctx.tracer.spanId("bench", "setup") {
      (1 to SetupReps).map { r =>
        ctx.log(s"setup ${w.name} $r of $SetupReps")
        nanos(w.setup(first = r == 1))._2.toDouble
      }
    }
    ctx.e2e("setup_s") = (medianOf(setupNs) / 1e9, "s")
    ctx.log(s"measure ${w.name} for $seconds s")
    val budget = seconds * 1000000000L
    if (!traced) w.measure(budget)
    else {
      Kernel.run(ctx, w.staged)
      ctx.tracer.disable()
      val plain = w.measure(budget / 2)
      ctx.tracer.enable()
      val (tracedNs, root) = ctx.tracer.spanId("bench", w.name)(w.measure(budget / 2))
      ctx.tracer.drain()
      val ss = ctx.tracer.subtree(root)
      val setupSpans = ctx.tracer.subtree(setupId)
      w.layerMetrics(ss, setupSpans)
      sparkMetrics(ctx, ss)
      val iters = math.max(1, ss.count(s => s.layer == "bench" && s.name == "iter"))
      val self = ctx.tracer.selfNsByLayer(ss)
      self.toSeq.sortBy(_._1).foreach { case (layer, ns) =>
        ctx.detail(s"$layer.self_ms") = (ns / 1e6 / iters, "ms")
      }
      Seq("bench", "lake.scan", "spark").foreach { layer =>
        ctx.layer(s"$layer.self_ms") = (self.getOrElse(layer, 0L) / 1e6 / iters, "ms")
      }
      ctx.layer("synth.self_ms") =
        (ctx.tracer.selfNsByLayer(setupSpans).getOrElse("synth", 0L) / 1e6 / SetupReps, "ms")
      ctx.layer("trace.overhead_ms") = ((tracedNs - plain) / 1e6, "ms")
      ctx.layer("trace.overhead_frac") = ((tracedNs - plain) / plain, "ratio")
      ctx.layer("host.canary_ops_per_s") = (canaryOps, "1/s")
      ctx.layer("host.nproc") = (nproc.toDouble, "count")
      ctx.tracer.writeSpans(Paths.get(a("traces")).resolve(s"${w.name}-seed$seed.spans.jsonl"))
      println(f"trace overhead: ${(tracedNs - plain) / 1e6}%.3f ms per operation " +
        f"(${100 * (tracedNs - plain) / plain}%.1f%%)")
      ctx.tracer.disable()
      w.afterTrace(budget / 2)
    }
    ctx.tracer.disable()
    ctx.log("check")
    w.check()
    ctx.e2e("peak_rss_mb") = (peakRssMb(), "MiB")

    ctx.notes.foreach(println)
    val failedFrac = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    println(f"failed_frac = $failedFrac%.6f (${ctx.failed} of ${ctx.attempted} operations)")
    ctx.detail.foreach { case (k, (v, u)) => println(s"detail $k = $v $u") }
    val shown = if (traced) ctx.layer else ctx.e2e
    shown.foreach { case (k, (v, u)) => println(s"metric $k = $v $u") }
    println(s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": ${metricsJson(shown)}}""")
    ctx.spark.stop()
  }

  /** `spark.*`: task totals per iteration and the worst stage's task skew,
    * over the stages the traced iterations ran. */
  private def sparkMetrics(ctx: Ctx, ss: Seq[Span]): Unit = {
    val iters = math.max(1, ss.count(s => s.layer == "bench" && s.name == "iter")).toDouble
    val stages = ss.filter(s => s.layer == "spark" && s.name.startsWith("stage"))
    val t = ctx.tracer.talliesOf(stages)
    ctx.layer("spark.task_cpu_s") = (t.map(_.cpuNs).sum / 1e9 / iters, "s")
    // often 0 with this heap, so a detail: a gated time must vary from run to run
    ctx.detail("spark.gc_s") = (t.map(_.gcMs).sum / 1e3 / iters, "s")
    ctx.layer("spark.shuffle_read_bytes") = (t.map(_.shuffleRead).sum / iters, "bytes")
    ctx.layer("spark.shuffle_write_bytes") = (t.map(_.shuffleWrite).sum / iters, "bytes")
    ctx.layer("spark.spill_bytes") = (t.map(_.spill).sum / iters, "bytes")
    ctx.layer("spark.task_skew") = (if (t.isEmpty) 1.0 else t.map(_.skew).max, "ratio")
    ctx.layer("spark.jobs") = (ss.count(s => s.layer == "spark" && s.name.startsWith("job")) / iters, "count")
  }

  /** The spans below any of `ids` among `ss`. */
  def below(ss: Seq[Span], ids: Set[Long]): Seq[Span] = {
    val kids = ss.groupBy(_.parent)
    var frontier = ids.toSeq.flatMap(kids.getOrElse(_, Nil))
    val out = collection.mutable.ArrayBuffer.empty[Span]
    while (frontier.nonEmpty) {
      out ++= frontier
      frontier = frontier.flatMap(s => kids.getOrElse(s.id, Nil))
    }
    out.toSeq
  }

  /** `lake.maint.*` per table build: the wall time of the `lake.maint`
    * spans among `ss`, the Spark jobs and tasks they ran, and the median
    * write amplification (bytes written to the table ÷ staged bytes). */
  def maintMetrics(ctx: Ctx, ss: Seq[Span], builds: Int, writeAmp: Double): Unit = {
    val maint = ss.filter(_.layer == "lake.maint")
    val under = below(ss, maint.map(_.id).toSet)
    val n = math.max(1, builds).toDouble
    ctx.layer("lake.maint.wall_ms") = (maint.map(_.durNs).sum / 1e6 / n, "ms")
    ctx.layer("lake.maint.jobs") = (under.count(_.name.startsWith("job")) / n, "count")
    ctx.layer("lake.maint.tasks") = (ctx.tracer.talliesOf(under).map(_.tasks).sum / n, "count")
    ctx.layer("lake.maint.write_amp") = (writeAmp, "ratio")
  }

  /** `lake.scan.*` over a workload's scans: median plan and execute times,
    * files planned per scan, bytes of the planned files per scan, and rows
    * the scan stages read per row the scans returned. */
  def scanMetrics(ctx: Ctx, planNs: Seq[Double], execNs: Seq[Double], planned: Seq[Double],
                  filesTotal: Int, bytesPlanned: Long, recordsRead: Long, returned: Long): Unit = {
    val n = math.max(1, planned.size).toDouble
    ctx.layer("lake.scan.plan_ms") = (medianOf(planNs) / 1e6, "ms")
    ctx.layer("lake.scan.exec_ms") = (medianOf(execNs) / 1e6, "ms")
    ctx.layer("lake.scan.files_planned") = (planned.sum / n, "count")
    ctx.layer("lake.scan.files_total") = (filesTotal.toDouble, "count")
    ctx.layer("lake.scan.bytes_planned") = (bytesPlanned / n, "bytes")
    ctx.layer("lake.scan.rows_read_per_row_returned") =
      (recordsRead.toDouble / math.max(1L, returned), "ratio")
  }
}
