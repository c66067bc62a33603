package graft.lake

import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, GraftInternal}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow}
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.{ParquetCompressionCodec, ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType}
import scala.reflect.ClassTag

/** A task's data files, by their manifest entries: the commit message of
  * every graft DSv2 write, and what a committer reads the paths from. */
case class GraftWriteCommit(entries: Seq[ManifestEntry]) extends WriterCommitMessage

/** The one writer of the parquet files graft writes from Spark tasks, from
  * Spark's `InternalRow` through [[GraftDataFileWriter.open]]. Batch writes
  * ([[GraftTable.writeDataFiles]]), SQL DML and the streaming sink write
  * data files through this class; metadata shards go through
  * [[GraftDataFileWriter.writeShard]].
  *
  * Data-file invariants:
  *  - One file per non-empty task, `data/<batch>/part-<pid>-<attempt>-<uuid8>.parquet`,
  *    created on the task's first row. A task without rows creates nothing
  *    and reports no entry.
  *  - The file holds `fileSchema`. Each file column takes the input column
  *    its ordinal names; a column the input lacks is written null. The row handed to parquet is the input narrowed to
  *    the file schema without a copy.
  *  - `z` by one rule: an input `z` (its ordinal set) is written as is, so
  *    cluster's Z-order and Hilbert values and a stream's source values pass
  *    through; otherwise z = `ZOrderInterleave.interleave` of the seed-42
  *    xxhash64 of repo, path and lang (interleave keeps the lang hash's low
  *    byte, which is `pmod(xxhash64(lang), 256)`).
  *  - The manifest entry is [[WriteStats.TaskStats]] over exactly the rows
  *    written, with the file's byte size after close. Its `z_order` flag is
  *    true by construction when the writer derived z; a passed-through z
  *    earns it only if every row's value equals that derivation.
  *  - The file is created through [[ForkFreeLocalFileSystem.route]]: on
  *    `file:` no process is forked, the file has the mode bits of the
  *    session's `fs.permissions.umask-mode` and a `.crc` sibling.
  *  - A file becomes part of the table only through the entry its task
  *    returns to the committer. A failing task deletes its file. The file
  *    of a losing attempt (a speculative duplicate, a task whose result
  *    was discarded) is complete but named by no entry: an orphan, which
  *    `GraftTable.removeOrphanFiles` reaps, never a committed file.
  */
final class GraftDataFileWriter(root: String, val relPath: String, tag: String,
                                fileSchema: StructType, ordinals: Array[Int],
                                bucketOrdinal: Int, confBag: Array[(String, String)])
  extends DataWriter[InternalRow] {

  private val conf = GraftDataFileWriter.conf(confBag)
  private val absPath = new HPath(new HPath(root), relPath)
  private val zPos = fileSchema.fieldIndex("z")
  private val computeZ = ordinals(zPos) < 0
  private val stats = new WriteStats.TaskStats(fileSchema, bucketOrdinal, zDerived = computeZ)
  // behind the input row: a computed z, then a slot that is always null
  private val tail = new SpecificInternalRow(Seq(LongType, LongType))
  tail.setNullAt(1)
  private val joined = new JoinedRow()
  private var row: ProjectingInternalRow = _
  private var writer: OutputWriter = _
  private var created = false

  override def write(input: InternalRow): Unit = {
    if (!created) open(input.numFields)
    row.project(joined.withLeft(input))
    if (computeZ) tail.setLong(0, graft.expr.ZOrderInterleave.interleave(
      WriteStats.hash(row, stats.repoIdx), WriteStats.hash(row, stats.pathIdx),
      WriteStats.hash(row, stats.langIdx)))
    writer.write(row)
    stats.update(row, input)
  }

  private def open(width: Int): Unit = {
    row = ProjectingInternalRow(fileSchema, ordinals.toIndexedSeq.zipWithIndex.map {
      case (o, _) if o >= 0 => o
      case (_, i) => if (i == zPos) width else width + 1
    })
    joined.withRight(tail)
    created = true
    writer = GraftDataFileWriter.open(absPath, fileSchema, conf)
  }

  override def commit(): GraftWriteCommit =
    if (!created) GraftWriteCommit(Seq.empty)
    else {
      close()
      val bytes = absPath.getFileSystem(conf).getFileStatus(absPath).getLen
      GraftWriteCommit(Seq(stats.entry(relPath, tag, bytes)))
    }

  override def abort(): Unit =
    try close() finally if (created) absPath.getFileSystem(conf).delete(absPath, false)

  override def close(): Unit =
    if (writer != null) try writer.close() finally writer = null
}

object GraftDataFileWriter {

  /** the conf of a task's writes: defaults plus the session's overrides
    * captured at plan time (LakeConf), routed fork-free. */
  def conf(confBag: Array[(String, String)]): Configuration =
    ForkFreeLocalFileSystem.route(LakeConf.restore(confBag))

  /** `data/<batch>/part-<pid>-<attempt>-<uuid8>.parquet`, attempt being
    * the running task's attempt number. */
  def relPath(batch: String, partitionId: Int): String = {
    val attempt = Option(TaskContext.get).fold(0)(_.attemptNumber)
    f"data/$batch/part-$partitionId%05d-$attempt-" + UUID.randomUUID().toString.take(8) + ".parquet"
  }

  /** For each file column, the ordinal of the input column of the same name
    * (case-insensitive) and type, -1 when there is none. z's is -1 unless
    * `keepZ`: SQL DML recomputes it, since an update may change the
    * columns it is derived from. */
  def ordinals(file: StructType, input: StructType, keepZ: Boolean): Array[Int] =
    file.fields.map { f =>
      if (f.name == "z" && !keepZ) -1
      else input.fields.indexWhere(i => i.name.equalsIgnoreCase(f.name) && i.dataType == f.dataType)
    }

  /** a writer of one task of a DSv2 or batch write into `batch`. */
  def apply(root: String, batch: String, partitionId: Int, tag: String,
            fileSchema: StructType, ordinals: Array[Int], bucketOrdinal: Int,
            confBag: Array[(String, String)]): GraftDataFileWriter =
    new GraftDataFileWriter(root, relPath(batch, partitionId), tag,
      fileSchema, ordinals, bucketOrdinal, confBag)

  /** One task of a batch write: the partition's rows into one file; its
    * entry, None when the partition is empty. */
  def writeTask(root: String, batch: String, tag: String, fileSchema: StructType,
                ordinals: Array[Int], bucketOrdinal: Int, confBag: Array[(String, String)])
      : (TaskContext, Iterator[InternalRow]) => Option[ManifestEntry] = (ctx, rows) => {
    val w = apply(root, batch, ctx.partitionId(), tag,
      fileSchema, ordinals, bucketOrdinal, confBag)
    try {
      rows.foreach(w.write)
      w.commit().entries.headOption
    } catch { case t: Throwable => w.abort(); throw t }
  }

  /** `task` over every partition of df's plan: one Spark job, run as df's
    * SQL execution; the task results in partition order. */
  private[lake] def runJob[T: ClassTag](df: DataFrame, description: String)(
      task: (TaskContext, Iterator[InternalRow]) => T): Array[T] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(description)) {
      df.sparkSession.sparkContext.runJob(qe.toRdd, task)
    }
  }

  /** Writes df's rows as the metadata shard `rel` of the table at io in one
    * Spark job; the rows written. Shard invariants:
    *  - A directory of `part-<pid>.parquet` files, one per non-empty
    *    partition, of df's schema made nullable (as Spark's file sources).
    *  - Whatever was at rel is replaced, and the directory exists even when
    *    no partition has a row (an explicit-schema read gives 0 rows).
    *  - A task writes `_attempt-<pid>-<attempt>-<uuid8>.parquet`, which
    *    every reader skips, and the driver renames each partition's winning
    *    file, so a losing attempt never becomes a visible duplicate. */
  def writeShard(io: LakeIO, df: DataFrame, rel: String): Long = {
    io.delete(rel)
    io.mkdirs(rel)
    val task = shardTask(io.abs(rel).toString, GraftInternal.asNullable(df.schema),
      LakeConf.capture())
    publishShard(io, rel, runJob(df, s"graft shard $rel")((ctx, rows) =>
      task(ctx.partitionId, ctx.attemptNumber, rows)))
  }

  /** Attempt `attempt` of shard task `pid`: its rows into one `_attempt-`
    * file in the shard directory `dir`; (file name, rows), None when there
    * is no row. A failing attempt deletes its file. */
  private[lake] def shardTask(dir: String, schema: StructType, confBag: Array[(String, String)])
      : (Int, Int, Iterator[InternalRow]) => Option[(String, Long)] = (pid, attempt, rows) =>
    if (!rows.hasNext) None
    else {
      val name = f"_attempt-$pid%05d-$attempt-" + UUID.randomUUID().toString.take(8) + ".parquet"
      val path = new HPath(new HPath(dir), name)
      val conf = this.conf(confBag)
      val w = open(path, schema, conf)
      var n = 0L
      try { rows.foreach { r => w.write(r); n += 1 }; w.close() }
      catch { case t: Throwable =>
        try w.close() finally path.getFileSystem(conf).delete(path, false); throw t }
      Some(name -> n)
    }

  /** Renames each partition's winning attempt (`parts`, in partition order)
    * to `rel/part-<pid>.parquet`; the rows of the shard. */
  private[lake] def publishShard(io: LakeIO, rel: String, parts: Seq[Option[(String, Long)]]): Long =
    parts.zipWithIndex.collect { case (Some((name, rows)), pid) =>
      io.rename(s"$rel/$name", f"$rel/part-$pid%05d.parquet"); rows
    }.sum

  /** A parquet writer of `schema`'s InternalRows at `path`: Spark's
    * ParquetOutputWriter over its ParquetWriteSupport, so the file layout
    * follows the conf's `parquet.*` keys (row group and page sizes,
    * dictionary, page row limit) as in Spark's own file writes, compressed
    * with the session's `spark.sql.parquet.compression.codec`, and the
    * write support's format keys at the session's values, else Spark's
    * defaults. */
  def open(path: HPath, schema: StructType, conf: Configuration): OutputWriter = {
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(ParquetOutputFormat.WRITE_SUPPORT_CLASS, classOf[ParquetWriteSupport].getName)
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT, SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
        SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED, SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE,
        SQLConf.PARQUET_COMPRESSION)
      .foreach(e => conf.setIfUnset(e.key, e.defaultValueString))
    conf.set(ParquetOutputFormat.COMPRESSION, ParquetCompressionCodec
      .fromString(conf.get(SQLConf.PARQUET_COMPRESSION.key)).getCompressionCodec.name)
    new ParquetOutputWriter(path.toString, new TaskAttemptContextImpl(conf, new TaskAttemptID()))
  }
}
