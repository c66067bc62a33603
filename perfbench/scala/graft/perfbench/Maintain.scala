package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.XmqFunctions
import graft.lake.{GraftTable, Lineage, Maintenance}
import graft.synth.SourceFiles.SourceFile
import scala.collection.mutable
import Ctx._

/** Files a table location holds, so a phase's writes can be counted from
  * what appeared on storage. Hadoop checksum files are not counted. */
final class FileLedger(root: Path) {
  private var live = Map.empty[String, Long]
  private val seen = mutable.Set.empty[String]

  private def list(): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try {
        val out = Map.newBuilder[String, Long]
        s.filter(p => Files.isRegularFile(p)).forEach { p =>
          val name = p.getFileName.toString
          if (!name.endsWith(".crc") && !name.startsWith("_"))
            out += root.relativize(p).toString -> Files.size(p)
        }
        out.result()
      } finally s.close()
    }

  private def isData(rel: String) = rel.startsWith("data/") && rel.endsWith(".parquet")

  /** (data files written, metadata files written, bytes written, data files
    * deleted) since the previous call. */
  def delta(): (Int, Int, Long, Int) = {
    val now = list()
    val added = now.filter { case (k, _) => !seen(k) }
    seen ++= added.keys
    val gone = live.keys.count(k => !now.contains(k) && isData(k))
    live = now
    (added.keys.count(isData), added.keys.count(k => !isData(k)), added.values.sum, gone)
  }
}

/** maintain: one full maintenance cycle per iteration on a fresh table
  * location. The cycle ingests the staged rows as 8 single-file commits —
  * the small-file problem compaction exists for — then runs compact →
  * cluster → rewriteManifests → mergeInto → expireSnapshots. The merge source
  * is 2% updates converted through `xmq_convert` plus 1% inserts. The write,
  * rewrite, commit and shuffle paths of `lake.maint` do most of the work; the
  * metadata caches start cold on every fresh location. After each cycle a
  * full scan through `format("graft")` checks the result; it is the
  * workload's `lake.scan`, outside the timed operation. */
final class Maintain(ctx: Ctx) extends Workload {
  val name = "maintain"
  private val rows = 4000
  private val commits = 8
  private val phases = Seq("compact", "cluster", "rewrite_manifests", "merge", "expire")
  private val keys = Seq("repo", "path", "commit")

  private var corpus: Staged = _
  private var slices: Seq[Seq[SourceFile]] = Nil
  private var updates: Seq[SourceFile] = Nil
  private var inserts: Seq[SourceFile] = Nil
  private var expected: (Long, Long, Long) = _

  private val appendMs = mutable.ArrayBuffer.empty[Double]
  private val maintainS = mutable.ArrayBuffer.empty[Double]
  private val mergeS = mutable.ArrayBuffer.empty[Double]
  private val writeAmp = mutable.ArrayBuffer.empty[Double]
  /** ingest plus maintenance, per cycle */
  private val cycleMs = mutable.ArrayBuffer.empty[Double]
  /** the post-cycle scans: plan ns, execute ns, files planned, their bytes,
    * rows returned, and the execute spans' ids */
  private val scanPlanNs = mutable.ArrayBuffer.empty[Double]
  private val scanExecNs = mutable.ArrayBuffer.empty[Double]
  private val scanFiles = mutable.ArrayBuffer.empty[Double]
  private var scanBytes = 0L
  private var scanRows = 0L
  private val scanSpans = mutable.Set.empty[Long]
  /** per phase: wall ms, files added, files removed, bytes, meta files, per cycle */
  private val phaseStats = mutable.Map.empty[String, mutable.ArrayBuffer[Array[Double]]]
  private val phaseSpans = mutable.Map.empty[Long, String]
  private var cycleBytes = 0L

  def staged: Staged = corpus

  /** The merge source: the update rows with content converted through
    * `xmq_convert` (evaluated inside the merge), then the new rows. */
  private def source(): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    updates.toDF()
      .withColumn("content", XmqFunctions.xmq_convert(col("content"), col("lang"),
        col("lang"), lit(false)))
      .unionByName(inserts.toDF())
  }

  def setup(first: Boolean): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    corpus = Corpus.stage(ctx, rows)
    val all = corpus.read(spark).as[SourceFile].collect().sortBy(_.commit).toSeq
    val per = (rows + commits - 1) / commits
    slices = all.grouped(per).toSeq
    val rng = new java.util.SplittableRandom(ctx.seed)
    updates = rng.ints(0, rows).distinct().limit(rows / 50).toArray.toSeq.map(all(_))
    inserts = Corpus.rows(ctx.seed ^ 0x5eed5eedL, 0, rows / 100, corpus.repos)
    // the expected merge result, by plain Spark from the staging parquet:
    // base rows whose key the source does not touch, plus the source
    val src = source()
    expected = digest(corpus.read(spark).join(src.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(src))
    // untimed warm cycle: every phase once, on the first two commits
    if (first) cycle(slices.take(2), counted = false)
  }

  private def phase[T](t: GraftTable, ledger: FileLedger, name: String)(body: => T): (T, Long) = {
    val before = t.currentSnapshot.map(_.fileCount).getOrElse(0L)
    val ((r, id), ns) = nanos(ctx.tracer.spanId("lake.maint", name)(body))
    if (id != 0) phaseSpans(id) = name
    val (data, meta, bytes, gone) = ledger.delta()
    cycleBytes += bytes
    val after = t.currentSnapshot.map(_.fileCount).getOrElse(0L)
    // expire drops no live file; it deletes the ones no snapshot keeps
    val removed = if (name == "expire") gone else before + data - after
    phaseStats.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
      Array(ns / 1e6, data.toDouble, removed.toDouble, bytes.toDouble, meta.toDouble)
    (r, ns)
  }

  /** One cycle on a fresh location; false when an operation failed. */
  private def cycle(ingest: Seq[Seq[SourceFile]], counted: Boolean): Boolean = {
    val spark = ctx.spark
    import spark.implicits._
    val loc = ctx.freshDir("maint-table")
    val t = new GraftTable(spark, loc)
    val ledger = new FileLedger(Paths.get(loc))
    val jobId = "perfbench"
    cycleBytes = 0L
    def run[T](what: String)(body: => T): Option[T] =
      if (counted) { val r = ctx.attempt(what)(body); if (r.isDefined) ctx.op(ok = true, what); r }
      else Some(body)

    val appends = mutable.ArrayBuffer.empty[Double]
    val ingested = ingest.forall { slice =>
      val df = slice.toDF().coalesce(1)
      run("append")(phase(t, ledger, "append")(t.append(df))).map(r => appends += r._2 / 1e6)
        .isDefined
    }
    if (!ingested) return false
    val srcDf = source()
    val timed = Seq[(String, () => Any)](
      "compact" -> (() => Maintenance.compact(t, jobId, smallBytes = 4L << 20, targetBytes = 256L << 10)),
      "cluster" -> (() => Maintenance.cluster(t, jobId)),
      "rewrite_manifests" -> (() => t.rewriteManifests()),
      "merge" -> (() => Maintenance.mergeInto(t, jobId, srcDf)),
      "expire" -> (() => t.expireSnapshots(System.currentTimeMillis() + 1000)))
    val results = mutable.Map.empty[String, (Any, Long)]
    val done = timed.forall { case (p, body) =>
      run(p)(phase(t, ledger, p)(body())).map(r => results(p) = r).isDefined
    }
    if (!done) return false
    if (counted) {
      appendMs ++= appends
      maintainS += phases.map(results(_)._2).sum / 1e9
      cycleMs += appends.sum + phases.map(results(_)._2).sum / 1e6
      mergeS += results("merge")._2 / 1e9
      writeAmp += cycleBytes.toDouble / corpus.bytes
      val m = results("merge")._1.asInstanceOf[Maintenance.MergeResult]
      ctx.op(m.updated == updates.size && m.inserted == inserts.size,
        s"merge reported ${m.updated} updated / ${m.inserted} inserted, " +
          s"expected ${updates.size} / ${inserts.size}")
      val q = digestQuery(graftRead(spark, loc))
      val (parts, p) = nanos(ctx.span("lake.scan", "plan")(planPartitions(q)))
      val ((got, id), e) = nanos(ctx.tracer.spanId("lake.scan", "execute")(digestOf(q)))
      scanPlanNs += p.toDouble
      scanExecNs += e.toDouble
      scanFiles += parts.size.toDouble
      scanBytes += fileBytes(spark, parts)
      scanRows += got._1
      if (id != 0) scanSpans += id
      ctx.op(got == expected, s"post-cycle digest $got != expected merge result $expected")
      Seq("compact", "cluster_zorder", "merge").foreach { p =>
        ctx.op(Lineage.rows(t, jobId, p).nonEmpty, s"no lineage rows for phase $p")
      }
    }
    true
  }

  /** An operation is one cycle: its ingest commits and its maintenance
    * (compact through expire), without the checks. */
  def measure(budgetNs: Long): Double = {
    appendMs.clear(); maintainS.clear(); mergeS.clear(); writeAmp.clear(); cycleMs.clear()
    phaseStats.clear(); phaseSpans.clear()
    scanPlanNs.clear(); scanExecNs.clear(); scanFiles.clear(); scanSpans.clear()
    scanBytes = 0L; scanRows = 0L
    // a single cycle's merge varies by a fifth from run to run: two per
    // run; the traced run measures twice (untraced, traced), one cycle each
    ctx.loop(budgetNs, if (ctx.traced) 1 else 2)(cycle(slices, counted = true))
    ctx.e2e("op_p50_ms") = (medianOf(cycleMs.toSeq), "ms")
    ctx.detail("cycles") = (cycleMs.size.toDouble, "count")
    ctx.detail("maintain_s") = (medianOf(maintainS.toSeq), "s")
    ctx.detail("append_p50_ms") = (medianOf(appendMs.toSeq), "ms")
    ctx.detail("merge_s") = (medianOf(mergeS.toSeq), "s")
    ctx.detail("write_amp") = (medianOf(writeAmp.toSeq), "ratio")
    medianOf(cycleMs.toSeq) * 1e6
  }

  def check(): Unit = () // every cycle checks its own result

  /** `lake.maint` over the cycles, with each phase's figures as details;
    * `lake.scan` over the post-cycle scans. */
  def layerMetrics(ss: Seq[Span], setup: Seq[Span]): Unit = {
    val cycles = math.max(1, ss.count(s => s.layer == "bench" && s.name == "iter")).toDouble
    for (p <- "append" +: phases) {
      val under = Main.below(ss, phaseSpans.collect { case (id, `p`) => id }.toSet)
      val stats = phaseStats.getOrElse(p, mutable.ArrayBuffer.empty)
      def total(i: Int) = stats.map(_(i)).sum / cycles
      val pre = s"lake.maint.$p"
      ctx.detail(s"$pre.wall_ms") = (total(0), "ms")
      ctx.detail(s"$pre.jobs") = (under.count(_.name.startsWith("job")) / cycles, "count")
      ctx.detail(s"$pre.stages") = (under.count(_.name.startsWith("stage")) / cycles, "count")
      ctx.detail(s"$pre.tasks") =
        (ctx.tracer.talliesOf(under).map(_.tasks).sum / cycles, "count")
      ctx.detail(s"$pre.files_added") = (total(1), "count")
      ctx.detail(s"$pre.files_removed") = (total(2), "count")
      ctx.detail(s"$pre.bytes_written") = (total(3), "bytes")
      ctx.detail(s"$pre.meta_files_written") = (total(4), "count")
    }
    Main.maintMetrics(ctx, ss, cycles.toInt, medianOf(writeAmp.toSeq))
    val scanned = Main.below(ss, scanSpans.toSet)
    Main.scanMetrics(ctx, scanPlanNs.toSeq, scanExecNs.toSeq, scanFiles.toSeq,
      scanFiles.map(_.toInt).maxOption.getOrElse(0), scanBytes,
      ctx.tracer.talliesOf(scanned).map(_.recordsRead).sum, scanRows)
  }
}
