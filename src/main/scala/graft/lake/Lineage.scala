package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sidecar lineage table (FIXTURES.md §3): one parquet per (job, phase) under
  * <table>/lineage/, with ONE ROW PER OUTPUT PARTITION (= output file)
  * recording that partition's input files, output file, row count and sha256
  * digest (xor of per-row content hashes — order-independent), as the
  * north_rule demands. A phase whose lineage exists and whose outputs are all
  * present is skipped on re-run → idempotent resume.
  *
  * Lineage rows are tiny commit metadata: written and read driver-side via
  * MetaIO (zero Spark jobs on the resume-check path). */
object Lineage {

  /** `updated` and `inserted` are a merge's reported counts, the same on
    * every row of its phase, so a resumed merge returns what the first call
    * did; None for other phases and for lineage written before the fields. */
  final case class LineageRow(job_id: String, phase: String, partition_id: Int,
                              input_files: Seq[String], output_files: Seq[String],
                              row_count: Long, sha256_digest: String, ts_millis: Long,
                              updated: Option[Long] = None, inserted: Option[Long] = None)

  private def rel(jobId: String, phase: String) = s"lineage/$jobId/$phase.parquet"

  /** Per-partition lineage from the phase's manifest entries: one row per
    * output file carrying its own row count and content digest (computed in
    * the write job's stats pass — no extra read). An empty phase records a
    * single marker row so resume still skips it. `counts` is a merge's
    * (updated, inserted). */
  def record(table: GraftTable, jobId: String, phase: String,
             inputFiles: Seq[String], added: Seq[ManifestEntry],
             counts: Option[(Long, Long)] = None): Unit = {
    val now = System.currentTimeMillis()
    val (updated, inserted) = (counts.map(_._1), counts.map(_._2))
    val rows =
      if (added.isEmpty)
        Seq(LineageRow(jobId, phase, 0, inputFiles, Seq.empty, 0L, "0", now, updated, inserted))
      else added.zipWithIndex.map { case (e, i) =>
        LineageRow(jobId, phase, i, inputFiles, Seq(e.file_path),
          e.record_count, java.lang.Long.toHexString(e.digest), now, updated, inserted)
      }
    MetaIO.writeLineage(table.io, rel(jobId, phase), rows)
  }

  /** All lineage rows of a phase (empty if never recorded). */
  def rows(table: GraftTable, jobId: String, phase: String): Seq[LineageRow] = {
    val r = rel(jobId, phase)
    if (!table.io.exists(r)) return Seq.empty
    try MetaIO.readLineage(table.io, r)
    catch { case _: Exception => Seq.empty }
  }

  /** Phase summary for resumed results: (input files, output files, rows),
    * and a merge's recorded (updated, inserted), None when not recorded. */
  final case class PhaseSummary(inputFiles: Seq[String], outputFiles: Seq[String],
                                rowCount: Long, counts: Option[(Long, Long)] = None)

  def summary(table: GraftTable, jobId: String, phase: String): Option[PhaseSummary] = {
    val rs = rows(table, jobId, phase)
    if (rs.isEmpty) None
    else Some(PhaseSummary(rs.flatMap(_.input_files).distinct,
      rs.flatMap(_.output_files).distinct, rs.map(_.row_count).sum,
      for (u <- rs.head.updated; i <- rs.head.inserted) yield (u, i)))
  }

  /** phase complete AND all of its outputs still exist. */
  def isDone(table: GraftTable, jobId: String, phase: String): Boolean = {
    val rs = rows(table, jobId, phase)
    rs.nonEmpty && rs.flatMap(_.output_files).forall(table.io.exists)
  }

  /** Order-independent content digest of an arbitrary frame (verification
    * helper; the write path gets digests from its stats pass instead). */
  def digestOf(spark: SparkSession, df: DataFrame): Long = {
    if (df.isEmpty) return 0L
    val r = df.select(GraftTable.rowHash().as("h")).agg(expr("bit_xor(h)")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** All lineage rows of a job (reporting). */
  def forJob(table: GraftTable, jobId: String): Seq[LineageRow] = {
    val dir = s"lineage/$jobId"
    if (!table.io.isDirectory(dir)) return Seq.empty
    table.io.list(dir).filter(_.endsWith(".parquet")).sorted
      .flatMap(n => MetaIO.readLineage(table.io, s"$dir/$n"))
  }
}
