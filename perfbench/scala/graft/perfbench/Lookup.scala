package graft.perfbench

import java.nio.file.Paths
import org.apache.spark.sql.functions._
import graft.lake.{GraftTable, Maintenance}
import graft.synth.SourceFiles
import scala.collection.mutable
import Ctx._

/** lookup: one client in a closed loop over a maintained table of about 64
  * files — 70% point lookups on (repo, path), 30% `repo = ?` scans, each
  * returning `sha2(content)` so no xmq work runs. Keys come from seeded row
  * indices, so hot repos come up as often as they occur in the data.
  * A run holds only tens of lookups, so the draws are stratified rather
  * than independent: independent draws would let the handful of `repo = ?`
  * scans land on the top repo (20% of rows) anywhere from never to half the
  * time, swinging `pruned_scan_rows_per_s` by the draw instead of by the
  * engine. Point lookups take rows along a golden-ratio sequence from a
  * seeded start. Scans sweep the repos that `SourceFiles` assigns at the
  * five quintile midpoints of its repo distribution — the top repo, then
  * ever smaller ones — so every seed scans the same repo ranks, each in
  * proportion to its rows; a run ends on a whole sweep.
  * `lake.scan` planning and pruning decide everything; the manifest fits the
  * driver-local gate and the metadata caches, so this is the warm-cache read
  * beside `maintain`'s cold-cache writes. */
final class Lookup(ctx: Ctx) extends Workload {
  val name = "lookup"
  private val rows = 16000
  private val files = 16
  /** golden-ratio step: u + k·φ (mod 1) spreads draws evenly over [0, 1) */
  private val Phi = 0.6180339887498949
  /** quintile order of a sweep, so that any prefix is spread over the repos */
  private val Sweep = Array(0, 2, 4, 1, 3)
  private var sweepRepos: Array[String] = Array.empty

  private var loc: String = _
  private var corpus: Staged = _
  private val buildAmp = mutable.ArrayBuffer.empty[Double]
  private var keys: Array[(String, String)] = Array.empty
  private var byPoint: Map[(String, String), Seq[String]] = Map.empty
  private var byRepo: Map[String, Seq[String]] = Map.empty
  private var filesTotal = 0

  private val planNs = mutable.ArrayBuffer.empty[Double]
  private val execNs = mutable.ArrayBuffer.empty[Double]
  private val planned = mutable.ArrayBuffer.empty[Double]
  private var returned = 0L
  private var bytesPlanned = 0L

  def staged: Staged = corpus

  def setup(first: Boolean): Unit = {
    val spark = ctx.spark
    val staged = Corpus.stage(ctx, rows)
    corpus = staged
    loc = ctx.freshDir("lookup-table")
    val t = new GraftTable(spark, loc)
    ctx.span("lake.maint", "append")(t.append(staged.read(spark)))
    ctx.span("lake.maint", "cluster")(Maintenance.cluster(t, "perfbench", numFiles = files))
    ctx.span("lake.maint", "rewrite_manifests")(t.rewriteManifests())
    ctx.span("lake.maint", "expire")(t.expireSnapshots(System.currentTimeMillis() + 1000))
    buildAmp += new FileLedger(Paths.get(loc)).delta()._3.toDouble / staged.bytes
    // per-key expectations, by plain Spark from the staging parquet
    val all = staged.read(spark).select(col("repo"), col("path"), sha2(col("content"), 256))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(r => (r._1, r._2, r._3))
    keys = all.map(r => (r._1, r._2))
    sweepRepos = Sweep.map { q =>
      val u = (q + 0.5) / Sweep.length // repoIdFor reads u from the top 53 bits
      SourceFiles.repoName(SourceFiles.repoIdFor((u * (1L << 53)).toLong << 11, staged.repos))
    }
    byPoint = all.groupBy(r => (r._1, r._2)).map { case (k, v) => k -> v.map(_._3).toSeq.sorted }
    byRepo = all.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).toSeq.sorted }
    filesTotal = planPartitions(graftRead(spark, loc)).size
    if (first) { // untimed warm lookups: JIT and first-touch codegen
      val warm = draws(ctx.seed)
      (1 to 2).foreach(_ => lookup(warm.next()))
    }
  }

  /** Seeded lookup keys: (repo, Some(path)) for a point lookup, (repo,
    * None) for a `repo = ?` scan; three scans in every ten lookups. */
  private def draws(seed: Long): Iterator[(String, Option[String])] = {
    var u = new java.util.SplittableRandom(seed).nextDouble()
    var scans = 0
    Iterator.from(0).map { k =>
      if ((k + 1) * 3 / 10 == k * 3 / 10) {
        u = (u + Phi) % 1.0
        val (repo, path) = keys((u * keys.length).toInt)
        (repo, Some(path))
      } else {
        scans += 1
        (sweepRepos((scans - 1) % sweepRepos.length), None)
      }
    }
  }

  /** One lookup: (is point, ns, rows returned, matched expectation). */
  private def lookup(key: (String, Option[String])): (Boolean, Long, Int, Boolean) = {
    val (repo, pathOpt) = key
    val point = pathOpt.isDefined
    val base = graftRead(ctx.spark, loc)
    val filtered = pathOpt match {
      case Some(path) => base.filter(col("repo") === repo && col("path") === path)
      case None => base.filter(col("repo") === repo)
    }
    val q = filtered.select(sha2(col("content"), 256))
    val (got, ns) = nanos {
      val (parts, p) = nanos(ctx.span("lake.scan", "plan")(planPartitions(q)))
      val (out, e) = nanos(ctx.span("lake.scan", "execute")(q.collect().map(_.getString(0))))
      planNs += p.toDouble
      execNs += e.toDouble
      planned += parts.size.toDouble
      (out, parts)
    }
    bytesPlanned += fileBytes(ctx.spark, got._2)
    val want = pathOpt match {
      case Some(path) => byPoint((repo, path))
      case None => byRepo.getOrElse(repo, Nil)
    }
    (point, ns, got._1.length, got._1.sorted.toSeq == want)
  }

  /** An operation is one lookup; `op_p50_ms` is the point lookups' median. */
  def measure(budgetNs: Long): Double = {
    planNs.clear(); execNs.clear(); planned.clear(); returned = 0L; bytesPlanned = 0L
    val pointMs = mutable.ArrayBuffer.empty[Double]
    var scanRows = 0L
    var scanNs = 0L
    val next = draws(ctx.seed * 31 + 7)
    def one(): Boolean = ctx.attempt("lookup")(lookup(next.next())) match {
      case Some((point, ns, n, ok)) =>
        ctx.op(ok, s"lookup returned $n rows that differ from the staged expectation")
        returned += n
        if (point) pointMs += ns / 1e6
        else { scanRows += n; scanNs += ns }
        ok
      case None => false
    }
    ctx.loop(budgetNs, 10)(one())
    var tail = 0 // finish the sweep
    while ((planNs.size - pointMs.size) % Sweep.length != 0 && tail < 20) {
      ctx.span("bench", "iter")(one())
      tail += 1
    }
    ctx.e2e("op_p50_ms") = (medianOf(pointMs.toSeq), "ms")
    ctx.detail("point_lookups") = (pointMs.size.toDouble, "count")
    ctx.detail("point_p50_ms") = (medianOf(pointMs.toSeq), "ms")
    // a run holds tens of point lookups, too few to leave ten samples
    // beyond a p90, so the p90 is reported but not gated
    ctx.detail("point_p90_ms") = (quantileOf(pointMs.toSeq, 0.9), "ms")
    // rows/s of a `repo = ?` scan follows how many files each repo's
    // layout leaves unpruned, which differs from seed to seed by more than
    // a gate could allow (ten-seed spread 0.25), so it is reported, not gated
    ctx.detail("repo_scans") = ((planNs.size - pointMs.size).toDouble, "count")
    ctx.detail("pruned_scan_rows_per_s") = (scanRows / (scanNs / 1e9), "rows/s")
    medianOf(pointMs.toSeq) * 1e6
  }

  def check(): Unit = () // every lookup checks its own rows

  /** `lake.scan` over the lookups; `lake.maint` over the set-ups' table builds. */
  def layerMetrics(ss: Seq[Span], setup: Seq[Span]): Unit = {
    val stages = ss.filter(s => s.layer == "spark" && s.name.startsWith("stage"))
    Main.scanMetrics(ctx, planNs.toSeq, execNs.toSeq, planned.toSeq, filesTotal, bytesPlanned,
      ctx.tracer.talliesOf(stages).map(_.recordsRead).sum, returned)
    Main.maintMetrics(ctx, setup, Main.SetupReps, medianOf(buildAmp.toSeq))
  }
}
