package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** STREAMING sink into the lake table:
  * `df.writeStream.format("graft").option("path", loc)` — the write half of
  * the lake-to-lake streaming story (the read half is GraftMicroBatchStream).
  *
  * Epoch protocol (exactly-once):
  *   - tasks write their rows straight to final data files under
  *     `data/b-stream-<query8>-e<epoch>/` (one parquet file per non-empty
  *     partition, task-side writer — no re-staging, no double write);
  *   - `commit(epoch)` runs driver-side: ONE distributed stats pass over
  *     exactly the committed writers' files (the same
  *     `GraftTable.statsForFiles` contract batch appends use — zombie/failed
  *     attempts' leftovers are never swept in because the stats pass reads
  *     the message file list, not a directory listing), then one O(delta)
  *     metadata commit whose operation string embeds (queryId, epochId);
  *   - a REPLAYED epoch (sink-side recovery re-runs the last batch) finds
  *     its (queryId, epochId) marker in the snapshot log, deletes the
  *     freshly re-written files and commits nothing — the table never holds
  *     an epoch twice. Offsets live in the source checkpoint; the epoch
  *     markers live in the table's own snapshot log, fronted by a per-query
  *     high-water file so detection costs one read per epoch instead of a
  *     full snapshot-log scan (see commit()).
  *
  * The data path scales like batch append: writes are per-task with no
  * shuffle, the stats pass is one distributed aggregation over the epoch's
  * files, and driver metadata stays O(files in epoch). */
class GraftStreamingWrite(location: String, queryId: String, inputSchema: StructType)
  extends StreamingWrite {

  private def epochOp(epochId: Long) = s"stream-append query=$queryId epoch=$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamWriterFactory(location, queryId, inputSchema)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val table = new GraftTable(spark, location)
    val files = messages.collect { case m: GraftStreamCommit => m.relPaths }.flatten.toSeq
    val op = epochOp(epochId)
    // Replay detection must not cost O(all snapshots) per epoch (the naive
    // full snapshot-log scan reads every snapshot json on EVERY microbatch
    // — quadratic over a stream's life). A per-query high-water marker
    // `meta/stream-epoch-<queryId>.text` = "<epoch> <version>" answers the
    // common case in one read; the marker is written AFTER the commit, so
    // the crash window (published, marker not yet advanced) is covered by
    // walking the snapshot chain only back to the marker's version — a few
    // interleaved commits, not the whole log. No marker yet = first epochs
    // or a pre-marker table: one full scan, then the marker takes over.
    val markerRel = s"meta/stream-epoch-$queryId.text"
    val replayed = table.epochReplayed(markerRel, op, epochId)
    if (replayed) {
      // replayed epoch: the original commit survives in the snapshot log;
      // drop this attempt's files instead of appending the batch twice
      files.foreach(table.io.delete)
    } else {
      table.init()
      // manifest stats were computed TASK-SIDE while each writer streamed
      // its rows (guide §1.2: one pass) — an epoch commit costs zero Spark
      // jobs. Writers predating the fused stats (empty entry list with
      // non-empty files) fall back to the distributed stats pass.
      val fused = messages.collect { case m: GraftStreamCommit => m.entries }.flatten.toSeq
      val entries =
        if (fused.map(_.file_path).sorted == files.sorted) fused
        else table.statsForFiles(files, tag = "stream")
      val snap = table.commit(entries, Set.empty, op)
      table.io.writeAtomic(markerRel, s"$epochId ${snap.version}")
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val table = new GraftTable(SparkSession.active, location)
    messages.collect { case m: GraftStreamCommit => m.relPaths }.flatten
      .foreach(table.io.delete)
  }
}

case class GraftStreamCommit(relPaths: Seq[String],
                             entries: Seq[ManifestEntry] = Seq.empty)
  extends WriterCommitMessage

class GraftStreamWriterFactory(location: String, queryId: String, inputSchema: StructType)
  extends StreamingDataWriterFactory {
  // session Hadoop overrides, captured driver-side at factory construction
  // and serialized with it — the task-side writer's bare Configuration would
  // ignore spark.hadoop.* (s3a credentials) otherwise (LakeConf scaladoc)
  private val confBag = LakeConf.capture()
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] = {
    val q8 = queryId.replace("-", "").take(8)
    val rel = f"data/b-stream-$q8-e$epochId/part-$partitionId%05d-$taskId-" +
      java.util.UUID.randomUUID().toString.take(8) + ".parquet"
    new GraftStreamDataWriter(location, rel, inputSchema, confBag)
  }
}

/** Task-side parquet writer for one streaming partition. Maps the input
  * schema onto the graft data schema case-insensitively (the V1 batch
  * bridge's resolution rule); when the input carries no `z` column the
  * Z-value is computed per row with the SAME kernels the batch path's
  * Column expression uses (Spark's XxHash64 seed-42 hash +
  * ZOrderInterleave.interleave), so streamed and batch-appended rows get
  * identical clustering values. The file is only created on the first row —
  * empty partitions commit nothing. */
class GraftStreamDataWriter(location: String, relPath: String, inputSchema: StructType,
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

  // case-insensitive input index per graft column (-1 = absent or wrong type)
  private val lower = inputSchema.fieldNames.zipWithIndex
    .map { case (n, i) => n.toLowerCase -> i }.toMap
  private val strCols = Array("repo", "path", "commit", "lang", "content")
  private val strIdx = strCols.map(c =>
    lower.get(c).filter(i => inputSchema(i).dataType == StringType).getOrElse(-1))
  private val zIdx =
    lower.get("z").filter(i => inputSchema(i).dataType == LongType).getOrElse(-1)
  private val repoIdx = strIdx(0); private val pathIdx = strIdx(1); private val langIdx = strIdx(3)

  private val messageType: MessageType = {
    val b = Types.buildMessage()
    strCols.foreach { c =>
      b.addField(Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(c))
    }
    b.addField(Types.optional(PrimitiveTypeName.INT64).named("z"))
    b.named("spark_schema")
  }
  private val factory = new SimpleGroupFactory(messageType)
  private var writer: ParquetWriter[org.apache.parquet.example.data.Group] = _
  private var wroteAny = false

  /** seed-42 xxhash64 of a string column, with Spark's null rule (a null
    * input leaves the hash at the seed). */
  private def hash(row: InternalRow, idx: Int): Long =
    if (idx < 0 || row.isNullAt(idx)) 42L
    else org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(row.getUTF8String(idx), StringType, 42L)

  // fused per-file manifest stats, collected while writing (one pass,
  // zero-job epoch commits) — shared kernels in WriteStats.TaskStats
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
    val z: java.lang.Long =
      if (zIdx >= 0) {
        if (row.isNullAt(zIdx)) null else java.lang.Long.valueOf(row.getLong(zIdx))
      } else {
        // interleave masks the lang hash to its low byte, which equals
        // pmod(hash, 256) — the batch Column expression bit for bit
        java.lang.Long.valueOf(graft.expr.ZOrderInterleave.interleave(
          hash(row, repoIdx), hash(row, pathIdx), hash(row, langIdx)))
      }
    if (z != null) g.add("z", z.longValue())
    writer.write(g)
    stats.update(row, z)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) { writer.close(); writer = null }
    if (!wroteAny) GraftStreamCommit(Seq.empty)
    else {
      val bytes = absPath.getFileSystem(conf).getFileStatus(absPath).getLen
      GraftStreamCommit(Seq(relPath), Seq(stats.entry(relPath, "stream", bytes)))
    }
  }

  override def abort(): Unit = {
    if (writer != null) { writer.close(); writer = null }
    if (wroteAny) absPath.getFileSystem(conf).delete(absPath, false)
  }

  override def close(): Unit =
    if (writer != null) { writer.close(); writer = null }
}
