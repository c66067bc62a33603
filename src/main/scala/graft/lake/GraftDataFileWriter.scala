package graft.lake

import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow}
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.{ParquetCompressionCodec, ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType}

/** A task's data files, by their manifest entries: the commit message of
  * every graft DSv2 write, and what a committer reads the paths from. */
case class GraftWriteCommit(entries: Seq[ManifestEntry]) extends WriterCommitMessage

/** The one writer of graft data files. Batch writes
  * ([[GraftTable.writeDataFiles]]), SQL copy-on-write and merge-on-read
  * DML, and the streaming sink all write through it, from Spark's
  * `InternalRow` and with Spark's own `ParquetWriteSupport`.
  *
  * Invariants:
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
