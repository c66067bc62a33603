package graft.perfbench

import java.nio.file.Paths
import org.apache.spark.sql.functions._
import graft.expr.XmqFunctions
import graft.lake.{GraftTable, Maintenance}
import Ctx._

/** verify_scan: repeated warm full passes over a committed, clustered table,
  * each filtering on `xmq_roundtrip_ok(content, lang)` through
  * `format("graft")`. The xmq kernel and the expression do almost all the
  * work; lake planning is one cheap plan per pass. The traced run also
  * passes the same table at local[1] for `scale_eff`. */
final class VerifyScan(ctx: Ctx) extends Workload {
  val name = "verify_scan"
  private val rows = 16000
  private var corpus: Staged = _
  private var loc: String = _
  private var filesTotal = 0
  private val planNs = collection.mutable.ArrayBuffer.empty[Double]
  private val execNs = collection.mutable.ArrayBuffer.empty[Double]
  private val filesPlanned = collection.mutable.ArrayBuffer.empty[Double]
  private var bytesPlanned = 0L
  private var passNs = 0.0
  private val buildAmp = collection.mutable.ArrayBuffer.empty[Double]

  def staged: Staged = corpus

  def setup(first: Boolean): Unit = {
    corpus = Corpus.stage(ctx, rows)
    loc = ctx.freshDir("verify-table")
    val t = new GraftTable(ctx.spark, loc)
    ctx.span("lake.maint", "append")(t.append(corpus.read(ctx.spark)))
    // a few files per core, so a pass is not decided by one straggler file
    val files = 4 * ctx.spark.sparkContext.defaultParallelism
    ctx.span("lake.maint", "cluster")(Maintenance.cluster(t, "perfbench", numFiles = files))
    buildAmp += new FileLedger(Paths.get(loc)).delta()._3.toDouble / corpus.bytes
    if (first) pass() // untimed warm pass: JIT and first-touch codegen
  }

  /** One full pass; returns the rows that passed the round-trip check. */
  private def pass(): Long = {
    val q = graftRead(ctx.spark, loc)
      .filter(XmqFunctions.xmq_roundtrip_ok(col("content"), col("lang")))
      .agg(count(lit(1)))
    val (parts, p) = nanos(ctx.span("lake.scan", "plan")(planPartitions(q)))
    val (ok, e) = nanos(ctx.span("expr", "execute")(q.collect()(0).getLong(0)))
    planNs += p.toDouble
    execNs += e.toDouble
    filesPlanned += parts.size.toDouble
    filesTotal = math.max(filesTotal, parts.size)
    bytesPlanned += fileBytes(ctx.spark, parts)
    ok
  }

  /** Timed passes until `budgetNs` is spent (at least three); returns the
    * pass times in ns. */
  private def passes(budgetNs: Long): Seq[Double] = {
    val times = collection.mutable.ArrayBuffer.empty[Double]
    ctx.loop(budgetNs, 3) {
      val (ok, ns) = nanos(ctx.attempt("verify pass")(pass()))
      ok.foreach { n =>
        times += ns.toDouble
        ctx.op(n == rows, s"verify pass: $n of $rows rows passed the round-trip check")
      }
      ok.isDefined
    }
    times.toSeq
  }

  /** An operation is one full pass. */
  def measure(budgetNs: Long): Double = {
    planNs.clear(); execNs.clear(); filesPlanned.clear(); bytesPlanned = 0L
    val times = passes(budgetNs)
    passNs = medianOf(times)
    ctx.e2e("op_p50_ms") = (passNs / 1e6, "ms")
    ctx.detail("verify_rows_per_s") = (rows / (passNs / 1e9), "rows/s")
    passNs
  }

  /** `scale_eff`: rows/s at local[nproc] ÷ (nproc × rows/s at local[1]) on
    * the same table. Two sets of untraced runs could not agree on it within
    * a tenth, so it is a traced-run detail; it restarts the session, so it
    * runs after the spans are written. */
  override def afterTrace(budgetNs: Long): Unit = {
    val n = ctx.spark.sparkContext.defaultParallelism
    val passN = passNs
    Main.restart(ctx, 1)
    pass()
    val pass1 = medianOf(passes(budgetNs))
    ctx.detail("spark.scale_eff") = (pass1 / (n * passN), "ratio")
  }

  def check(): Unit = {
    val got = digest(graftRead(ctx.spark, loc))
    val want = digest(corpus.read(ctx.spark))
    ctx.op(got == want, s"verify digest through format(graft) $got != staging $want")
  }

  /** `lake.scan` over the passes; `lake.maint` over the set-ups' table builds. */
  def layerMetrics(ss: Seq[Span], setup: Seq[Span]): Unit = {
    val stages = ss.filter(s => s.layer == "spark" && s.name.startsWith("stage"))
    Main.scanMetrics(ctx, planNs.toSeq, execNs.toSeq, filesPlanned.toSeq, filesTotal, bytesPlanned,
      ctx.tracer.talliesOf(stages).map(_.recordsRead).sum, planNs.size.toLong * rows)
    Main.maintMetrics(ctx, setup, Main.SetupReps, medianOf(buildAmp.toSeq))
  }
}
