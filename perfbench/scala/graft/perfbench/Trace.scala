package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced interval on the tracer's nanosecond clock. `parent` is 0 for a
  * root. Spark jobs and stages become spans of layer `spark`. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Task metrics of one stage, summed by the listener. */
final class StageTally {
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L
  val runMs = mutable.ArrayBuffer.empty[Long]

  /** max ÷ median task run time; 1 for a single-task stage. */
  def skew: Double =
    if (runMs.size < 2) 1.0
    else {
      val s = runMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
    }
}

/** Spans and counters recorded from the benchmark's own code: `span` wraps
  * each call into a layer, and the listener turns the Spark jobs and stages
  * those calls start into child spans. A job belongs to the span that was
  * open on the submitting thread, passed through a local property. While
  * disabled, `span` only runs its body and no listener is registered. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "graft.perfbench.span"
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = t0Ns + (ms - t0Ms) * 1000000L

  private val ids = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = 0L
  private var on = false

  private final case class JobRec(spanId: Long, parent: Long, startMs: Long)
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val tallies = mutable.Map.empty[Int, StageTally]
  private val stageSpan = mutable.Map.empty[Int, Long]

  def enable(): Unit = if (!on) { sc.addSparkListener(this); on = true }

  def disable(): Unit = if (on) { drain(); sc.removeSparkListener(this); on = false }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) PerfbenchBus.drain(sc)

  def span[T](layer: String, name: String)(body: => T): T = spanId(layer, name)(body)._1

  /** `span` that also returns the span's id (0 while disabled). */
  def spanId[T](layer: String, name: String)(body: => T): (T, Long) =
    if (!on) (body, 0L)
    else {
      val id = ids.getAndIncrement()
      val parent = open
      val prevProp = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      open = id
      val s = System.nanoTime()
      try (body, id)
      finally {
        val e = System.nanoTime()
        open = parent
        sc.setLocalProperty(Key, prevProp)
        spans.synchronized(spans += Span(id, parent, layer, name, s, e))
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .map(_.toLong).getOrElse(0L)
    val id = ids.getAndIncrement()
    synchronized {
      jobs(e.jobId) = JobRec(id, parent, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      spans.synchronized(spans += Span(j.spanId, j.parent, "spark", s"job ${e.jobId}",
        msToNs(j.startMs), msToNs(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (parent <- stageJob.get(info.stageId); s <- info.submissionTime;
         c <- info.completionTime) {
      val id = ids.getAndIncrement()
      stageSpan(info.stageId) = id
      spans.synchronized(spans += Span(id, parent, "spark", s"stage ${info.stageId}",
        msToNs(s), msToNs(c)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    synchronized {
      val t = tallies.getOrElseUpdate(e.stageId, new StageTally)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.recordsRead += m.inputMetrics.recordsRead
      t.runMs += m.executorRunTime
    }
  }

  /** Every span below `root` (the root excluded). Call after `drain`. */
  def subtree(root: Long): Seq[Span] = {
    val all = spans.synchronized(spans.toList)
    val kids = all.groupBy(_.parent)
    val out = mutable.ArrayBuffer.empty[Span]
    var frontier = kids.getOrElse(root, Nil)
    while (frontier.nonEmpty) {
      out ++= frontier
      frontier = frontier.flatMap(s => kids.getOrElse(s.id, Nil))
    }
    out.toSeq
  }

  /** The tallies of the stages among `ss`. */
  def talliesOf(ss: Seq[Span]): Seq[StageTally] = synchronized {
    val ids = ss.map(_.id).toSet
    stageSpan.collect { case (stage, id) if ids(id) => tallies.get(stage) }.flatten.toSeq
  }

  /** Span duration minus the part of it its children cover, per layer. */
  def selfNsByLayer(ss: Seq[Span]): Map[String, Long] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, group) =>
      layer -> group.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter(p => p._2 > p._1).sortBy(_._1)
        var covered = 0L
        var curS = Long.MinValue
        var curE = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else if (b > curE) curE = b
        }
        if (curE > curS) covered += curE - curS
        s.durNs - covered
      }.sum
    }
  }

  /** Writes every recorded span as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val all = spans.synchronized(spans.toList).sortBy(_.startNs)
    val lines = all.map { s =>
      val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
      f"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"$name",""" +
        f""""start_ms":${(s.startNs - t0Ns) / 1e6}%.3f,"dur_ms":${s.durNs / 1e6}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
