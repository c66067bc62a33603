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
  *     task-side parquet writers (the streaming sink's writer shape, z
  *     recomputed with the batch kernels), one distributed stats pass, one
  *     O(delta) metadata commit — remove scanned files, add rewritten ones.
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

/** The ReplaceData write: rewritten rows land in task-side parquet files,
  * commit removes exactly the scanned group and adds the new entries —
  * one distributed stats pass, zero extra jobs for the removed-record
  * count (it was collected with the plan). */
class GraftReplaceDataWrite(location: String, op: GraftRowLevelOperation,
                            schema: StructType)
  extends Write with BatchWrite {

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val t = new GraftTable(SparkSession.active, location)
    val extras = t.currentSnapshot.toSeq.flatMap(t.extraFields)
    extras.foreach { f =>
      require(GraftCowDataWriter.writable(f.dataType),
        s"SQL ${op.command()} cannot write evolved column ${f.name}: ${f.dataType}")
    }
    new GraftCowWriterFactory(location,
      s"b-cow-${UUID.randomUUID().toString.take(8)}", schema, extras)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val table = new GraftTable(spark, location)
    val files = messages.collect { case GraftStreamCommit(ps, _) => ps }.flatten.toSeq
    val opName = s"sql-${op.command().toString.toLowerCase}"
    // fused task-side stats (see GraftStreamingWrite.commit): zero-job
    // commit when every writer carried its entry, distributed pass otherwise
    val fused = messages.collect { case GraftStreamCommit(_, es) => es }.flatten.toSeq
    val added =
      if (fused.map(_.file_path).sorted == files.sorted)
        fused.map(_.copy(partition = opName))
      else table.statsForFiles(files, opName)
    val removed = op.scannedFiles
    table.commit(added, removed.map(_._1).toSet, opName,
      removedRecords = removed.map(_._2).sum, basis = op.basis)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val table = new GraftTable(SparkSession.active, location)
    messages.collect { case GraftStreamCommit(ps, _) => ps }.flatten
      .foreach(table.io.delete)
  }

  override def description(): String = s"GraftReplaceData[${op.command()}]"
}

class GraftCowWriterFactory(location: String, batch: String,
                            schema: StructType, extras: Seq[StructField])
  extends DataWriterFactory {
  // session Hadoop overrides captured at plan time (LakeConf scaladoc)
  private val confBag = LakeConf.capture()
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val rel = f"data/$batch/part-$partitionId%05d-$taskId-" +
      UUID.randomUUID().toString.take(8) + ".parquet"
    new GraftCowDataWriter(location, rel, schema, extras, confBag)
  }
}

/** Task-side parquet writer for one ReplaceData partition: the streaming
  * sink's writer shape generalized to the EVOLVED schema (typed extras ride
  * through the rewrite) with z always recomputed via the batch kernels —
  * the same contract Maintenance.mergeInto's writeDataFiles applies. */
class GraftCowDataWriter(location: String, relPath: String,
                         inputSchema: StructType, extras: Seq[StructField],
                         confBag: Array[(String, String)] = Array.empty)
  extends DataWriter[InternalRow] {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.ParquetWriter
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.hadoop.util.HadoopOutputFile
  import org.apache.parquet.io.api.Binary
  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{Path => HPath}

  private val conf = ForkFreeLocalFileSystem.route(LakeConf.restore(confBag))
  private val absPath = new HPath(new HPath(location), relPath)

  private val lower = inputSchema.fieldNames.zipWithIndex
    .map { case (n, i) => n.toLowerCase -> i }.toMap
  private val strCols = Array("repo", "path", "commit", "lang", "content")
  private val strIdx = strCols.map(c =>
    lower.get(c).filter(i => inputSchema(i).dataType == StringType).getOrElse(-1))
  private val extraIdx = extras.map(f =>
    lower.get(f.name.toLowerCase)
      .filter(i => inputSchema(i).dataType == f.dataType).getOrElse(-1)).toArray
  private val repoIdx = strIdx(0); private val pathIdx = strIdx(1); private val langIdx = strIdx(3)

  private val messageType: MessageType = {
    val b = Types.buildMessage()
    strCols.foreach { c =>
      b.addField(Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(c))
    }
    b.addField(Types.optional(PrimitiveTypeName.INT64).named("z"))
    extras.foreach { f =>
      val t = f.dataType match {
        case IntegerType => Types.optional(PrimitiveTypeName.INT32)
        case LongType    => Types.optional(PrimitiveTypeName.INT64)
        case DoubleType  => Types.optional(PrimitiveTypeName.DOUBLE)
        case FloatType   => Types.optional(PrimitiveTypeName.FLOAT)
        case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN)
        case StringType  => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType())
        case dt => throw new IllegalArgumentException(s"unwritable $dt")
      }
      b.addField(t.named(f.name))
    }
    b.named("spark_schema")
  }
  private val factory = new SimpleGroupFactory(messageType)
  private var writer: ParquetWriter[org.apache.parquet.example.data.Group] = _
  private var wroteAny = false

  private def hash(row: InternalRow, idx: Int): Long =
    if (idx < 0 || row.isNullAt(idx)) 42L
    else org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(row.getUTF8String(idx), StringType, 42L)

  // fused per-file manifest stats (WriteStats.TaskStats): the ReplaceData
  // commit uses them directly instead of a distributed stats job
  private val stats = new WriteStats.TaskStats(
    repoIdx, pathIdx, strIdx(2), langIdx, strIdx(4))

  override def write(row: InternalRow): Unit = {
    if (writer == null) {
      writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(absPath, conf))
        .withType(messageType).withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
      wroteAny = true
    }
    val g = factory.newGroup()
    var i = 0
    while (i < strCols.length) {
      val idx = strIdx(i)
      if (idx >= 0 && !row.isNullAt(idx))
        g.add(strCols(i), Binary.fromString(row.getUTF8String(idx).toString))
      i += 1
    }
    // z recomputed per row (the library merge path's contract: dataCols
    // exclude z, writeDataFiles re-derives it)
    val z = graft.expr.ZOrderInterleave.interleave(
      hash(row, repoIdx), hash(row, pathIdx), hash(row, langIdx))
    g.add("z", z)
    stats.update(row, java.lang.Long.valueOf(z))
    var e = 0
    while (e < extraIdx.length) {
      val idx = extraIdx(e)
      if (idx >= 0 && !row.isNullAt(idx)) {
        val f = extras(e)
        f.dataType match {
          case IntegerType => g.add(f.name, row.getInt(idx))
          case LongType    => g.add(f.name, row.getLong(idx))
          case DoubleType  => g.add(f.name, row.getDouble(idx))
          case FloatType   => g.add(f.name, row.getFloat(idx))
          case BooleanType => g.add(f.name, row.getBoolean(idx))
          case _ => g.add(f.name, Binary.fromString(row.getUTF8String(idx).toString))
        }
      }
      e += 1
    }
    writer.write(g)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) { writer.close(); writer = null }
    if (!wroteAny) GraftStreamCommit(Seq.empty)
    else {
      val bytes = absPath.getFileSystem(conf).getFileStatus(absPath).getLen
      // tag filled in by the commit (it knows the SQL op name)
      GraftStreamCommit(Seq(relPath), Seq(stats.entry(relPath, "cow", bytes)))
    }
  }

  override def abort(): Unit = {
    if (writer != null) { writer.close(); writer = null }
    if (wroteAny) absPath.getFileSystem(conf).delete(absPath, false)
  }

  override def close(): Unit =
    if (writer != null) { writer.close(); writer = null }
}

object GraftCowDataWriter {
  def writable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DoubleType | FloatType | BooleanType | StringType => true
    case _ => false
  }
}

// ---- DELTA-based row-level operations (SQL merge-on-read DML) -------------
//
// Selected by the table's dml-mode property (GraftTable.dmlMode =
// "merge-on-read"): SQL UPDATE / MERGE / non-filter DELETE plan as Spark's
// WriteDelta instead of ReplaceData — the scan serves each row's physical
// address through the (_file, _pos) row id, the writer turns deletes into
// position-delete address shards and inserts into ordinary data files, and
// the commit lands BOTH in one snapshot (GraftTable.commitMorRowChange).
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

/** one task's delta output: new data files, position-delete address files,
  * and the count of deleted addresses. */
case class GraftDeltaCommit(dataFiles: Seq[String], posFiles: Seq[String],
                            deleted: Long,
                            entries: Seq[ManifestEntry] = Seq.empty)
  extends WriterCommitMessage

class GraftDeltaWrite(location: String, op: GraftDeltaOperation,
                      schema: StructType)
  extends DeltaWrite with DeltaBatchWrite {

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val t = new GraftTable(SparkSession.active, location)
    val extras = t.currentSnapshot.toSeq.flatMap(t.extraFields)
    extras.foreach { f =>
      require(GraftCowDataWriter.writable(f.dataType),
        s"SQL ${op.command()} cannot write evolved column ${f.name}: ${f.dataType}")
    }
    new GraftDeltaWriterFactory(location,
      s"b-mor-${UUID.randomUUID().toString.take(8)}", schema, extras)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val table = new GraftTable(spark, location)
    val ms = messages.collect { case m: GraftDeltaCommit => m }
    val dataFiles = ms.flatMap(_.dataFiles).toSeq
    val posFiles = ms.flatMap(_.posFiles).toSeq
    val deleted = ms.map(_.deleted).sum
    if (dataFiles.isEmpty && posFiles.isEmpty) return
    // fused task-side stats; distributed fallback (see GraftReplaceData)
    val fused = ms.flatMap(_.entries).toSeq
    val added =
      if (dataFiles.isEmpty) Seq.empty
      else if (fused.map(_.file_path).sorted == dataFiles.sorted)
        fused.map(_.copy(partition = "sql-mor"))
      else table.statsForFiles(dataFiles, "sql-mor")
    op.basis match {
      case Some(basis) =>
        table.commitMorRowChange(basis, added, posFiles, deleted,
          s"sql-mor-${op.command().toString.toLowerCase}")
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
    messages.collect { case m: GraftDeltaCommit => m.dataFiles ++ m.posFiles }
      .flatten.foreach(table.io.delete)
  }

  override def description(): String = s"GraftDeltaWrite[${op.command()}]"
}

class GraftDeltaWriterFactory(location: String, batch: String,
                              schema: StructType, extras: Seq[StructField])
  extends DeltaWriterFactory {
  // session Hadoop overrides captured at plan time (LakeConf scaladoc)
  private val confBag = LakeConf.capture()
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] = {
    val suffix = f"part-$partitionId%05d-$taskId-" + UUID.randomUUID().toString.take(8)
    new GraftDeltaDataWriter(location, batch, suffix, schema, extras, confBag)
  }
}

/** Task-side delta writer: inserts stream into an ordinary data-file writer
  * (the CoW writer, reused — z recomputed, evolved extras typed through);
  * deletes stream into a position-delete address file under meta/ — both
  * uid-named, referenced only via the commit message, so zombie attempts
  * are never swept into the table. */
class GraftDeltaDataWriter(location: String, batch: String, suffix: String,
                           inputSchema: StructType, extras: Seq[StructField],
                           confBag: Array[(String, String)] = Array.empty)
  extends DeltaWriter[InternalRow] {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.ParquetWriter
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.hadoop.util.HadoopOutputFile
  import org.apache.parquet.io.api.Binary
  import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{Path => HPath}

  private val dataRel = s"data/$batch/$suffix.parquet"
  private val posRel = s"meta/manifest-posdel-$batch-$suffix.parquet"
  private val inserts = new GraftCowDataWriter(location, dataRel, inputSchema, extras, confBag)

  private val posType = Types.buildMessage()
    .addField(Types.optional(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("file_path"))
    .addField(Types.optional(PrimitiveTypeName.INT64).named("pos"))
    .named("spark_schema")
  private val posFactory = new SimpleGroupFactory(posType)
  private val conf = ForkFreeLocalFileSystem.route(LakeConf.restore(confBag))
  private val posAbs = new HPath(new HPath(location), posRel)
  private var posWriter: ParquetWriter[org.apache.parquet.example.data.Group] = _
  private var deleted = 0L

  override def insert(row: InternalRow): Unit = inserts.write(row)

  /** id row = the operation's rowId() projection: (_file abs path, _pos). */
  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    if (posWriter == null)
      posWriter = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(posAbs, conf))
        .withType(posType).withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
    val g = posFactory.newGroup()
    g.add("file_path", Binary.fromString(
      GraftPosDeletes.relOf(id.getUTF8String(0).toString)))
    g.add("pos", id.getLong(1))
    posWriter.write(g)
    deleted += 1L
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new UnsupportedOperationException(
      "updates are represented as delete+insert (representUpdateAsDeleteAndInsert)")

  override def commit(): WriterCommitMessage = {
    val (dataMsg, dataEntries) = inserts.commit() match {
      case GraftStreamCommit(ps, es) => (ps, es)
      case _ => (Seq.empty[String], Seq.empty[ManifestEntry])
    }
    if (posWriter != null) { posWriter.close(); posWriter = null }
    GraftDeltaCommit(dataMsg, if (deleted > 0) Seq(posRel) else Seq.empty,
      deleted, dataEntries)
  }

  override def abort(): Unit = {
    inserts.abort()
    if (posWriter != null) { posWriter.close(); posWriter = null }
    if (deleted > 0) posAbs.getFileSystem(conf).delete(posAbs, false)
  }

  override def close(): Unit = {
    inserts.close()
    if (posWriter != null) { posWriter.close(); posWriter = null }
  }
}
