package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** STREAMING sink into the lake table:
  * `df.writeStream.format("graft").option("path", loc)` — the write half of
  * the lake-to-lake streaming story (the read half is GraftMicroBatchStream).
  *
  * Epoch protocol (exactly-once):
  *   - tasks write their rows straight to final data files under
  *     `data/b-stream-<query8>-e<epoch>/` ([[GraftDataFileWriter]]: one file
  *     per non-empty partition, its manifest entry computed while writing —
  *     no re-staging, no double write, no stats job);
  *   - `commit(epoch)` runs driver-side: one O(delta) metadata commit of
  *     exactly the entries the committed writers returned, whose operation
  *     string embeds (queryId, epochId). Zombie or failed attempts' files
  *     are never swept in: the commit reads the messages, not a listing;
  *   - a REPLAYED epoch (sink-side recovery re-runs the last batch) finds
  *     its (queryId, epochId) marker in the snapshot log, deletes the
  *     freshly re-written files and commits nothing — the table never holds
  *     an epoch twice. Offsets live in the source checkpoint; the epoch
  *     markers live in the table's own snapshot log, fronted by a per-query
  *     high-water file so detection costs one read per epoch instead of a
  *     full snapshot-log scan (see commit()).
  *
  * The data path scales like batch append: writes are per-task with no
  * shuffle, and driver metadata stays O(files in epoch). */
class GraftStreamingWrite(location: String, queryId: String, inputSchema: StructType)
  extends StreamingWrite {

  private def epochOp(epochId: Long) = s"stream-append query=$queryId epoch=$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamWriterFactory(location, queryId, inputSchema)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val table = new GraftTable(spark, location)
    val entries = messages.collect { case GraftWriteCommit(es) => es }.flatten.toSeq
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
      entries.foreach(e => table.io.delete(e.file_path))
    } else {
      table.init()
      val snap = table.commit(entries, Set.empty, op)
      table.io.writeAtomic(markerRel, s"$epochId ${snap.version}")
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val table = new GraftTable(SparkSession.active, location)
    messages.collect { case GraftWriteCommit(es) => es }.flatten
      .foreach(e => table.io.delete(e.file_path))
  }
}

/** Task writers of one streaming epoch: graft's base columns, matched to
  * the input case-insensitively (the V1 batch bridge's resolution rule),
  * a LONG input `z` passing through. */
class GraftStreamWriterFactory(location: String, queryId: String, inputSchema: StructType)
  extends StreamingDataWriterFactory {
  // session Hadoop overrides, captured driver-side at factory construction
  // and serialized with it — the task-side writer's bare Configuration would
  // ignore spark.hadoop.* (s3a credentials) otherwise (LakeConf scaladoc)
  private val confBag = LakeConf.capture()
  private val ordinals =
    GraftDataFileWriter.ordinals(GraftTable.dataSchema, inputSchema, keepZ = true)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    GraftDataFileWriter(location, s"b-stream-${queryId.replace("-", "").take(8)}-e$epochId",
      partitionId, "stream", GraftTable.dataSchema, ordinals, -1, confBag)
}
