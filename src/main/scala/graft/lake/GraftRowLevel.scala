package graft.lake

import java.util.UUID
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL `MERGE INTO` / `UPDATE` (and subquery DELETE) through Spark's
  * row-level-operation framework — GROUP-BASED copy-on-write, the Iceberg
  * CoW shape:
  *
  *  1. Spark rewrites the DML into a ReplaceData plan over this operation's
  *     scan (rows of the target, plus the `_file` metadata column);
  *  2. the runtime GROUP FILTER (a DynamicPruning subquery over the PLAIN
  *     table scan, which therefore also serves `_file`) collects the
  *     distinct files holding matching rows and pushes `IN (_file, ...)`
  *     into this scan — only AFFECTED files are read and rewritten, the
  *     same stats/bloom pruning tiers applying before it;
  *  3. the write replaces exactly the files the (filtered) scan planned:
  *     task-side data files ([[GraftDataFileWriter]], z recomputed), each
  *     task returning its file's manifest entry, then one O(delta) metadata
  *     commit — remove scanned files, add rewritten ones.
  *
  * At 100 TB a MERGE touching one repo reads and rewrites that repo's files
  * only; everything flows through the ordinary commit protocol (time travel
  * reads the pre-merge snapshot, rollback undoes it metadata-only).
  *
  * Degradation is always SAFE: with group filtering disabled (or a
  * non-selective condition) the scan plans every live file and the merge
  * becomes a full-table CoW rewrite — heavier, never wrong. Pending
  * merge-on-read deletes are refused loudly (a CoW rewrite would resurrect
  * logically deleted rows); materialize them first.
  */
object GraftFileColumn extends MetadataColumn {
  override def name(): String = "_file"
  override def dataType(): DataType = StringType
  override def isNullable: Boolean = false
  override def comment(): String = "absolute path of the data file holding the row"
}

object GraftPosColumn extends MetadataColumn {
  override def name(): String = "_pos"
  override def dataType(): DataType = LongType
  override def isNullable: Boolean = false
  override def comment(): String = "row ordinal within its data file (file order)"
}

class GraftRowLevelOperation(location: String,
                             cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  /** set by the operation scan's planInputPartitions AFTER runtime group
    * filtering: the (relative path, record count) pairs the write replaces. */
  @volatile private[lake] var scannedFiles: Seq[(String, Long)] = Seq.empty

  /** the snapshot the group scan planned against — the commit's optimistic-
    * concurrency basis: a foreign commit landing between plan and commit
    * surfaces as CommitConflictException, never a silent double-rewrite. */
  @volatile private[lake] var basis: Option[Snapshot] = None

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCowScanBuilder(location, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftReplaceDataWrite(location,
        GraftRowLevelOperation.this, info.schema())
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def description(): String = s"GraftCow[$cmd]"
}

/** ScanBuilder for the operation's read: static filters prune the manifest
  * (stats + bloom sidecars) exactly like the public connector's scan. */
class GraftCowScanBuilder(location: String, op: GraftRowLevelOperation)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = {
    val t = new GraftTable(SparkSession.active, location)
    t.dataSchemaFor(t.currentSnapshot)
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftScanBuilder.supported)
    filters // all stay residual — stats pruning is file-level may-match
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    if (requiredSchema.nonEmpty) required = requiredSchema

  override def build(): Scan = new GraftCowScan(location, op, pushed, required)
}

class GraftCowScan(location: String, op: GraftRowLevelOperation,
                   pushed: Array[Filter], required: StructType)
  extends Scan with Batch with SupportsRuntimeFiltering {

  @volatile private var runtimeFiles: Option[Set[String]] = None
  @volatile private var planned: Array[InputPartition] = _

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCowScan[${op.command()}] files=${op.scannedFiles.length}"

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  /** the runtime GROUP filter: distinct `_file` values of rows matching the
    * DML condition, computed by Spark's subquery over the plain table scan. */
  override def filter(filters: Array[Filter]): Unit = {
    val files = filters.collect {
      case In("_file", vs) => vs.collect { case s: String => s }
    }.flatten
    if (files.nonEmpty) {
      runtimeFiles = Some(files.toSet)
      planned = null // re-plan with the group filter applied
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val p = planned
    if (p != null) return p
    val spark = SparkSession.active
    val table = new GraftTable(spark, location)
    import spark.implicits._
    val out = table.currentSnapshot match {
      case None =>
        op.scannedFiles = Seq.empty; op.basis = None; Array.empty[InputPartition]
      case Some(s) =>
        op.basis = Some(s)
        val delta = op.isInstanceOf[GraftDeltaOperation]
        // copy-on-write: EITHER pending flavor resurrects under the group
        // rewrite — deleted rows would be carried into the rewritten files
        // (equality) or the rewritten files' new paths would orphan the
        // pending addresses (positional). The DELTA path instead APPLIES
        // pending deletes per task (the public scan's filtering reader), so
        // stacked MoR DML needs no materialization in between.
        if (!delta) require(!table.hasMorDeletes(s),
          "pending merge-on-read deletes: a copy-on-write SQL MERGE/UPDATE " +
          "would resurrect logically deleted rows — run MorDelete.applyDeletes first")
        val eqdels =
          if (delta) table.eqDeleteShards(s).map(sh => table.io.abs(sh.path).toString)
          else Nil
        val posdels =
          if (delta) table.posDeleteShards(s).map(sh => table.io.abs(sh.path).toString)
          else Nil
        val kept = BloomIndex.prunedManifest(table, table.manifestWithSeq(s), pushed)
          .filter(GraftScan.manifestPredicate(pushed))
          .select($"file_path", $"record_count", $"add_seq")
          .as[(String, Long, Long)].collect()
        val narrowed = runtimeFiles match {
          case Some(abs) => kept.filter(k => abs.contains(table.io.abs(k._1).toString))
          case None => kept
        }
        op.scannedFiles = narrowed.toSeq.map(k => (k._1, k._2))
        // one file per task, never packed: the ReplaceData writer maps each
        // task to its output file
        narrowed.map { case (rel, _, seq) =>
          GraftInputPartition(table.io.abs(rel).toString, seq, eqdels, posdels)
            .asInstanceOf[InputPartition]
        }
    }
    planned = out
    out
  }

  // the public scan's factory: columnar while no deletes are pending,
  // filtered rows otherwise; no pushed filter reaches the decoder, since a
  // skipped row group would shift the delta path's `_pos` row ids
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required)
}

/** The ReplaceData write: rewritten rows land in task-side data files
  * ([[GraftDataFileWriter]], z recomputed); the commit removes exactly the
  * scanned group and adds the entries the tasks returned — no Spark job,
  * and the removed-record count was collected with the plan. */
class GraftReplaceDataWrite(location: String, op: GraftRowLevelOperation,
                            schema: StructType)
  extends Write with BatchWrite {

  private def opName = s"sql-${op.command().toString.toLowerCase}"

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDmlWriterFactory(location, s"b-cow-${UUID.randomUUID().toString.take(8)}",
      opName, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val table = new GraftTable(SparkSession.active, location)
    val added = messages.collect { case GraftWriteCommit(es) => es }.flatten.toSeq
    val removed = op.scannedFiles
    table.commit(added, removed.map(_._1).toSet, opName,
      removedRecords = removed.map(_._2).sum, basis = op.basis)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val table = new GraftTable(SparkSession.active, location)
    messages.collect { case GraftWriteCommit(es) => es }.flatten
      .foreach(e => table.io.delete(e.file_path))
  }

  override def description(): String = s"GraftReplaceData[${op.command()}]"
}

/** Task writers of SQL DML: the table's current schema, evolved columns
  * included, with z recomputed (an update may change repo, path or lang). */
class GraftDmlWriterFactory(location: String, batch: String, tag: String,
                            inputSchema: StructType)
  extends DataWriterFactory {
  // session Hadoop overrides captured at plan time (LakeConf scaladoc)
  private[lake] val confBag = LakeConf.capture()
  private val fileSchema = {
    val t = new GraftTable(SparkSession.active, location)
    StructType(GraftTable.dataSchema.fields ++ t.currentSnapshot.toSeq.flatMap(t.extraFields))
  }
  private val ordinals = GraftDataFileWriter.ordinals(fileSchema, inputSchema, keepZ = false)

  override def createWriter(partitionId: Int, taskId: Long): GraftDataFileWriter =
    GraftDataFileWriter(location, batch, partitionId, tag, fileSchema, ordinals,
      -1, confBag)
}

// ---- DELTA-based row-level operations (SQL merge-on-read DML) -------------
//
// Selected by the table's dml-mode property (GraftTable.dmlMode =
// "merge-on-read"): SQL UPDATE / MERGE / non-filter DELETE plan as Spark's
// WriteDelta instead of ReplaceData — the scan serves each row's physical
// address through the (_file, _pos) row id, the writer turns deletes into
// position-delete address shards and inserts into ordinary data files, and
// the commit lands BOTH in one snapshot (PendingCommit.rowChange).
// No target file is rewritten; write bytes ∝ matched + inserted rows. This
// is the same split Iceberg makes between its copy-on-write and
// position-delta SQL paths, on the same Spark connector interfaces.

class GraftDeltaOperation(location: String, cmd: RowLevelOperation.Command)
  extends GraftRowLevelOperation(location, cmd) with SupportsDelta {

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  /** updates arrive as delete(old address) + insert(new row) — the position
    * path cannot update in place (the old file is immutable). */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(location, GraftDeltaOperation.this, info.schema())
    }

  override def description(): String = s"GraftDelta[$cmd]"
}

/** one task's delta output: its new data files' entries, its
  * position-delete address file, and the count of deleted addresses. */
case class GraftDeltaCommit(entries: Seq[ManifestEntry], posFiles: Seq[String],
                            deleted: Long)
  extends WriterCommitMessage

class GraftDeltaWrite(location: String, op: GraftDeltaOperation,
                      schema: StructType)
  extends DeltaWrite with DeltaBatchWrite {

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(location, new GraftDmlWriterFactory(location,
      s"b-mor-${UUID.randomUUID().toString.take(8)}", "sql-mor", schema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val table = new GraftTable(SparkSession.active, location)
    val ms = messages.collect { case m: GraftDeltaCommit => m }
    val added = ms.flatMap(_.entries).toSeq
    val posFiles = ms.flatMap(_.posFiles).toSeq
    val deleted = ms.map(_.deleted).sum
    if (added.isEmpty && posFiles.isEmpty) return
    op.basis match {
      case Some(basis) =>
        table.publish(PendingCommit.rowChange(basis, added, posFiles, deleted,
          s"sql-mor-${op.command().toString.toLowerCase}"))
      case None =>
        // no snapshot existed when the scan planned (MERGE INTO an empty
        // table): there was nothing to address, so this is a pure insert
        require(deleted == 0L && posFiles.isEmpty,
          "delta deletes without a planned scan basis")
        table.commit(added, Set.empty, "append")
    }
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val table = new GraftTable(SparkSession.active, location)
    messages.collect { case m: GraftDeltaCommit => m.entries.map(_.file_path) ++ m.posFiles }
      .flatten.foreach(table.io.delete)
  }

  override def description(): String = s"GraftDeltaWrite[${op.command()}]"
}

class GraftDeltaWriterFactory(location: String, inserts: GraftDmlWriterFactory)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaDataWriter(location, inserts.createWriter(partitionId, taskId),
      inserts.confBag)
}

/** Task-side delta writer: inserts go to an ordinary data file
  * ([[GraftDataFileWriter]]); deletes go to a position-delete address file
  * under meta/ named after the insert file, opened the same way. Both are
  * referenced only by the commit message, so zombie attempts are never
  * swept into the table. */
class GraftDeltaDataWriter(location: String, inserts: GraftDataFileWriter,
                           confBag: Array[(String, String)])
  extends DeltaWriter[InternalRow] {
  import org.apache.hadoop.fs.{Path => HPath}
  import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
  import org.apache.spark.sql.execution.datasources.OutputWriter
  import org.apache.spark.unsafe.types.UTF8String

  private val posRel = {
    val d = inserts.relPath
    s"meta/manifest-posdel-${d.split('/')(1)}-${d.substring(d.lastIndexOf('/') + 1)}"
  }
  private val conf = GraftDataFileWriter.conf(confBag)
  private val posAbs = new HPath(new HPath(location), posRel)
  private val address = new SpecificInternalRow(Seq(StringType, LongType))
  private var posWriter: OutputWriter = _
  private var deleted = 0L

  override def insert(row: InternalRow): Unit = inserts.write(row)

  /** id row = the operation's rowId() projection: (_file abs path, _pos). */
  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    if (posWriter == null)
      posWriter = GraftDataFileWriter.open(posAbs, GraftDeltaDataWriter.addressSchema, conf)
    address.update(0, UTF8String.fromString(GraftPosDeletes.relOf(id.getUTF8String(0).toString)))
    address.setLong(1, id.getLong(1))
    posWriter.write(address)
    deleted += 1L
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new UnsupportedOperationException(
      "updates are represented as delete+insert (representUpdateAsDeleteAndInsert)")

  override def commit(): WriterCommitMessage = {
    val entries = inserts.commit().entries
    closePos()
    GraftDeltaCommit(entries, if (deleted > 0) Seq(posRel) else Seq.empty, deleted)
  }

  override def abort(): Unit =
    try inserts.abort()
    finally try closePos() finally if (deleted > 0) posAbs.getFileSystem(conf).delete(posAbs, false)

  override def close(): Unit = try inserts.close() finally closePos()

  private def closePos(): Unit =
    if (posWriter != null) try posWriter.close() finally posWriter = null
}

object GraftDeltaDataWriter {
  /** a position-delete address file's rows: (data file, row ordinal). */
  val addressSchema: StructType = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))
}
