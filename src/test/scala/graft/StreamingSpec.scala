package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** Structured-streaming operators: windowed agg over a real MemoryStream
  * (incremental micro-batches + watermark) and gap-based sessionization. */
class StreamingSpec extends SparkTestBase {
  import EventStream._

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  test("windowed counts over a MemoryStream produce the same result as batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Event(1, ts(0), 1, "click", 1.0, "{}"),
      Event(2, ts(3), 1, "click", 2.0, "{}"),
      Event(3, ts(12), 2, "view", 3.0, "{}"),
      Event(4, ts(15), 2, "click", 4.0, "{}"),
      Event(5, ts(25), 1, "view", 5.0, "{}"))

    val stream = MemoryStream[Event]
    stream.addData(events.take(3): _*) // two micro-batches
    val query = windowedCounts(stream.toDF())
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    query.processAllAvailable()
    stream.addData(events.drop(3): _*)
    query.processAllAvailable()
    query.stop()

    val streamed = spark.sql("SELECT * FROM win_counts")
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = windowedCounts(events.toDF())
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(streamed.size == 4) // (w0 click), (w10 view), (w10 click), (w20 view)
  }

  test("stream-stream interval join: cross-batch matches from state, stream ≡ batch, state evicted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = attributedClicks(views.toDF(), clicks.toDF(),
        withinMinutes = 10, watermarkMinutes = 10)
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    // batch 1: view(1)@t0 + click(2)@t3 match inside the batch; view(3)@t8
    // stays buffered waiting for later clicks
    views.addData(Event(1, ts(0), 1, "view", 0.0, "{}"),
                  Event(3, ts(8), 1, "view", 0.0, "{}"))
    clicks.addData(Event(2, ts(3), 1, "click", 1.5, "{}"))
    q.processAllAvailable()
    // batch 2: click(4)@t15 must match view(3) OUT OF THE JOIN STATE
    // (its view arrived a batch earlier); t15-t0=15 > 10 so view(1) doesn't
    clicks.addData(Event(4, ts(15), 1, "click", 2.5, "{}"))
    views.addData(Event(5, ts(16), 2, "view", 0.0, "{}"))
    q.processAllAvailable()
    // batch 3: push both watermarks far ahead — every old buffered row is
    // past (other side's watermark − reach) and must be evicted
    views.addData(Event(6, ts(1000), 3, "view", 0.0, "{}"))
    clicks.addData(Event(7, ts(1000), 3, "click", 0.0, "{}"))
    q.processAllAvailable()
    views.addData(Event(8, ts(1010), 3, "view", 0.0, "{}"))
    clicks.addData(Event(9, ts(1010), 3, "click", 0.0, "{}"))
    q.processAllAvailable()
    val state = q.lastProgress.stateOperators(0)
    q.stop()
    val streamed = spark.sql("SELECT view_id, click_id FROM attrib")
      .as[(Long, Long)].collect().toSet
    // batch replay of the same input must agree (watermarks no-op in batch)
    val allV = Seq(Event(1, ts(0), 1, "view", 0.0, "{}"), Event(3, ts(8), 1, "view", 0.0, "{}"),
      Event(5, ts(16), 2, "view", 0.0, "{}"), Event(6, ts(1000), 3, "view", 0.0, "{}"),
      Event(8, ts(1010), 3, "view", 0.0, "{}"))
    val allC = Seq(Event(2, ts(3), 1, "click", 1.5, "{}"), Event(4, ts(15), 1, "click", 2.5, "{}"),
      Event(7, ts(1000), 3, "click", 0.0, "{}"), Event(9, ts(1010), 3, "click", 0.0, "{}"))
    val batch = attributedClicks(allV.toDF(), allC.toDF(), 10, 10)
      .select($"view_id", $"click_id").as[(Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.contains((3L, 4L)), "cross-microbatch match missing")
    assert(!streamed.contains((1L, 4L)), "outside-window pair leaked")
    // eviction: only rows still inside the watermark reach may be buffered
    // (the t0-t16 era is long gone); without eviction this would be 9+
    assert(state.numRowsTotal <= 4,
      s"join state not evicted: ${state.numRowsTotal} rows buffered")
  }

  test("sessionization splits on the inactivity gap") {
    import spark.implicits._
    val events = Seq(
      Event(1, ts(0), 1, "a", 1.0, "{}"),
      Event(2, ts(5), 1, "a", 2.0, "{}"),
      Event(3, ts(90), 1, "a", 3.0, "{}"),   // new session after 85 min gap
      Event(4, ts(95), 1, "a", 4.0, "{}"),
      Event(5, ts(0), 2, "b", 9.0, "{}")).toDS()
    val sessions = EventStream.sessionize(events, gapMinutes = 30).collect()
    val u1 = sessions.filter(_.user_id == 1).sortBy(_.session_end_ts)
    assert(u1.length == 2)
    assert(u1(0).n_events == 2 && u1(0).total_value == 3.0)
    assert(u1(1).n_events == 2 && u1(1).total_value == 7.0)
    assert(sessions.count(_.user_id == 2) == 1)
  }

  test("streaming sessionization: microbatch boundaries never fragment a session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStream.sessionize(stream.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // one logical session split across two microbatches (5-min event gap)
    stream.addData(Event(1, ts(0), 1, "a", 1.0, "{}"), Event(2, ts(5), 1, "a", 2.0, "{}"))
    query.processAllAvailable()
    stream.addData(Event(3, ts(10), 1, "a", 3.0, "{}"))
    query.processAllAvailable()
    // nothing emitted yet: the session is open in state, not fragmented
    assert(spark.sql("SELECT * FROM sessions").count() == 0,
      "open session was emitted/fragmented at a microbatch boundary")
    // an event after the gap closes the first session (4 would-be fragments = bug)
    stream.addData(Event(4, ts(60), 1, "a", 4.0, "{}"))
    query.processAllAvailable()
    val closed = spark.sql("SELECT * FROM sessions").as[UserSession].collect()
    query.stop()
    assert(closed.length == 1, s"expected 1 closed session, got ${closed.length}")
    assert(closed.head.n_events == 3 && closed.head.total_value == 6.0)
  }

  test("TTL dedup: greedy emission chain in batch mode") {
    import spark.implicits._
    val events = Seq(
      Event(1, ts(0), 1, "a", 1.0, "{}"),   // emit (first)
      Event(2, ts(10), 1, "a", 2.0, "{}"),  // suppressed (< 30 min after 0)
      Event(3, ts(30), 1, "a", 3.0, "{}"),  // emit (exactly ttl after 0)
      Event(4, ts(45), 1, "a", 4.0, "{}"),  // suppressed (< 30 after 30)
      Event(5, ts(59), 1, "a", 5.0, "{}"),  // suppressed — chain is vs EMITTED ts(30), not vs ts(45)
      Event(6, ts(60), 1, "a", 6.0, "{}"),  // emit
      Event(7, ts(0), 2, "b", 9.0, "{}"))   // emit (other key)
    val out = EventStream.dedupWithinTtl(events.toDS(), ttlMinutes = 30)
      .collect().sortBy(e => (e.user_id, e.event_id))
    assert(out.map(_.event_id).toSeq == Seq(1L, 3L, 6L, 7L))
  }

  test("TTL dedup: streaming microbatches match batch; state suppresses across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = Seq(
      Event(1, ts(0), 1, "a", 1.0, "{}"),
      Event(2, ts(20), 1, "a", 2.0, "{}"),   // suppressed by batch-1 state
      Event(3, ts(35), 1, "a", 3.0, "{}"),   // emitted (35 >= 0 + 30)
      Event(4, ts(40), 2, "b", 4.0, "{}"),
      Event(5, ts(64), 1, "a", 5.0, "{}"),   // suppressed (64 < 35 + 30)
      Event(6, ts(70), 2, "b", 6.0, "{}"),   // emitted (70 >= 40 + 30)
      Event(7, ts(66), 1, "a", 7.0, "{}"))   // emitted (66 >= 35 + 30) — chain is vs emitted 35, not vs 64
    val stream = MemoryStream[Event]
    val query = EventStream.dedupWithinTtl(stream.toDS(), ttlMinutes = 30)
      .writeStream.format("memory").queryName("ttl_dedup")
      .outputMode("append").start()
    // ts-ordered arrival split across three microbatches
    stream.addData(all.take(2): _*)
    query.processAllAvailable()
    stream.addData(all.slice(2, 5): _*)
    query.processAllAvailable()
    stream.addData(all.drop(5): _*)
    query.processAllAvailable()
    val streamed = spark.sql("SELECT * FROM ttl_dedup").as[EmittedEvent]
      .collect().map(_.event_id).sorted.toSeq
    query.stop()
    val batch = EventStream.dedupWithinTtl(all.toDS(), ttlMinutes = 30)
      .collect().map(_.event_id).sorted.toSeq
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(streamed == Seq(1L, 3L, 4L, 6L, 7L))
  }

  test("TTL dedup: state is evicted once the watermark passes lastEmit + ttl") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStream.dedupWithinTtl(stream.toDS(), ttlMinutes = 30)
      .writeStream.format("memory").queryName("ttl_evict")
      .outputMode("append").start()
    stream.addData(Event(1, ts(0), 1, "a", 1.0, "{}"))
    query.processAllAvailable()
    // another key far in the future drives the watermark past 0 + ttl;
    // user 1's state row must be dropped (numRowsTotal counts only user 2)
    stream.addData(Event(2, ts(120), 2, "b", 1.0, "{}"))
    query.processAllAvailable()
    stream.addData(Event(3, ts(125), 3, "c", 1.0, "{}")) // one more batch so the timeout fires
    query.processAllAvailable()
    val progress = query.lastProgress
    val stateRows = progress.stateOperators.apply(0).numRowsTotal
    query.stop()
    assert(stateRows <= 2, s"expired dedup state not evicted: $stateRows rows")
    // the expired key re-emits (suppression window genuinely over)
    assert(spark.sql("SELECT * FROM ttl_evict").count() == 3)
  }

  test("windowed counts on the real events table (batch form of the stream)") {
    val df = spark.read.parquet(s"$sfDir/events.parquet")
    val out = windowedCounts(df)
    assert(out.count() > 0)
  }

  test("lake streaming source: snapshots become microbatches, restart resumes from checkpoint") {
    import spark.implicits._
    val loc = java.nio.file.Files.createTempDirectory("graft-stream-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-stream-out").toString
    val t = new graft.lake.GraftTable(spark, loc)
    def batch(ids: Range, tag: String) = ids.toDF("i").select(
      concat(lit("repo_"), ($"i" % 4).cast("string")).as("repo"),
      concat(lit(s"$tag/"), $"i".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), lit("xml").as("lang"),
      concat(lit(s"content $tag "), $"i".cast("string")).as("content"))
    t.append(batch(0 until 100, "a"))
    t.append(batch(100 until 150, "b"))

    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(loc)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val got1 = spark.read.schema(graft.lake.GraftTable.dataSchema).parquet(out)
    assert(got1.count() == 150, s"first drain got ${got1.count()}")

    // maintenance between appends must not replay rows; the restarted
    // stream resumes from the checkpointed snapshot offset and sees ONLY
    // the new append
    graft.lake.Maintenance.compact(t, "jobs1", targetBytes = 1L << 20)
    t.append(batch(150 until 170, "c"))
    drain()
    val got2 = spark.read.schema(graft.lake.GraftTable.dataSchema).parquet(out)
    assert(got2.count() == 170, s"second drain got ${got2.count()}")
    assert(got2.filter($"path".startsWith("c/")).count() == 20)
    // no duplicates: every (path) appears exactly once
    assert(got2.select($"path").distinct().count() == 170)

    // pushed filter prunes the changelog inside the stream
    val out2 = java.nio.file.Files.createTempDirectory("graft-stream-out2").toString
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-stream-ck2").toString
    val q2 = spark.readStream.format("graft").load(loc)
      .filter($"repo" === "repo_1")
      .writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val gotF = spark.read.schema(graft.lake.GraftTable.dataSchema).parquet(out2)
    assert(gotF.count() == got2.filter($"repo" === "repo_1").count())
  }

  test("lake streaming sink: epoch commits land in the table, digests match a batch append") {
    import spark.implicits._
    val srcLoc = java.nio.file.Files.createTempDirectory("graft-sink-src").toString
    val dstLoc = java.nio.file.Files.createTempDirectory("graft-sink-dst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sink-ck").toString
    val src = new graft.lake.GraftTable(spark, srcLoc)
    def batch(ids: Range, tag: String) = ids.toDF("i").select(
      concat(lit("repo_"), ($"i" % 4).cast("string")).as("repo"),
      concat(lit(s"$tag/"), $"i".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), lit("xml").as("lang"),
      concat(lit(s"content $tag "), $"i".cast("string")).as("content"))
    src.append(batch(0 until 80, "a"))
    src.append(batch(80 until 120, "b"))

    val q = spark.readStream.format("graft")
      .option("maxVersionsPerBatch", 1).load(srcLoc)
      .writeStream.format("graft").option("path", dstLoc)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val dst = new graft.lake.GraftTable(spark, dstLoc)
    // one epoch-marked snapshot per source snapshot
    assert(dst.listSnapshots().count(_.operation.startsWith("stream-append")) == 2)
    assert(dst.scan().count() == 120)
    // the destination is a real table: scan content identical to the source
    assert(dst.scan().orderBy("path").collect().toSeq ==
      src.scan().orderBy("path").collect().toSeq)
    // per-file digests xor to an order/split-independent table digest:
    // streamed commits must carry the SAME rowHash contract as batch appends
    def tableDigest(t: graft.lake.GraftTable): Long =
      t.manifest(t.currentSnapshot.get).select("digest").as[Long]
        .collect().foldLeft(0L)(_ ^ _)
    val batchLoc = java.nio.file.Files.createTempDirectory("graft-sink-batch").toString
    val bt = new graft.lake.GraftTable(spark, batchLoc)
    bt.append(src.scan().select("repo", "path", "commit", "lang", "content"))
    assert(tableDigest(dst) == tableDigest(bt), "streamed digest drifted from batch contract")
    // record counts survive arithmetically
    assert(dst.currentSnapshot.get.recordCount == 120)
    // the FUSED task-side stats (computed while writing, zero-job epoch
    // commits) must be bit-identical to the distributed stats pass over the
    // same files: min/max in UTF8 binary order, null counts, digest, langs
    val streamed = dst.manifestEntries(dst.currentSnapshot.get)
      .map(e => e.copy(langs = e.langs.sorted)).sortBy(_.file_path)
    val recomputed = graft.lake.StatsOracle.entriesFor(dst, streamed.map(_.file_path), "stream")
      .map(e => e.copy(langs = e.langs.sorted)).sortBy(_.file_path)
    assert(streamed == recomputed,
      "fused task-side stats drifted from the distributed stats pass")

    // a restarted stream sees only new source snapshots — no re-appends
    src.append(batch(120 until 130, "c"))
    val q2 = spark.readStream.format("graft")
      .option("maxVersionsPerBatch", 1).load(srcLoc)
      .writeStream.format("graft").option("path", dstLoc)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(dst.scan().count() == 130)
    assert(dst.scan().select("path").distinct().count() == 130)
  }

  test("lake streaming sink: a replayed epoch commits nothing and drops its files") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val loc = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val schema = graft.lake.GraftTable.dataSchema
    val sw = new graft.lake.GraftStreamingWrite(loc, "replay-test-query", schema)
    val factory = sw.createStreamingWriterFactory(null)
    def row(i: Int) = new GenericInternalRow(Array[Any](
      UTF8String.fromString("r"), UTF8String.fromString(s"p/$i"),
      UTF8String.fromString("c0"), UTF8String.fromString("xml"),
      UTF8String.fromString(s"content $i"), i.toLong))
    def writeEpoch(taskId: Long): org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = factory.createWriter(0, taskId, 7L)
      (0 until 10).foreach(i => w.write(row(i)))
      w.commit()
    }
    sw.commit(7L, Array(writeEpoch(0L)))
    val t = new graft.lake.GraftTable(spark, loc)
    val v = t.currentVersion
    assert(t.scan().count() == 10)
    // sink-side recovery replays the epoch: same epochId, fresh files
    sw.commit(7L, Array(writeEpoch(1L)))
    assert(t.currentVersion == v, "replayed epoch must not commit")
    assert(t.scan().count() == 10)
    // the replayed attempt's files were removed, not orphaned
    val live = t.manifestEntries(t.currentSnapshot.get).map(_.file_path).toSet
    val onDisk = t.io.list("data").flatMap(d => t.io.list(s"data/$d").map(f => s"data/$d/$f"))
      .filter(_.endsWith(".parquet")).toSet
    assert(onDisk == live, s"orphans left by replay: ${onDisk -- live}")
  }

  test("sink replay detection survives the marker crash window and interleaved commits") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val loc = java.nio.file.Files.createTempDirectory("graft-replay-win").toString
    val schema = graft.lake.GraftTable.dataSchema
    val qid = "crashwin-query"
    val sw = new graft.lake.GraftStreamingWrite(loc, qid, schema)
    val factory = sw.createStreamingWriterFactory(null)
    def row(i: Int) = new GenericInternalRow(Array[Any](
      UTF8String.fromString("r"), UTF8String.fromString(s"p/$i"),
      UTF8String.fromString("c0"), UTF8String.fromString("xml"),
      UTF8String.fromString(s"content $i"), i.toLong))
    def writeEpoch(taskId: Long, epoch: Long) = {
      val w = factory.createWriter(0, taskId, epoch)
      (0 until 5).foreach(i => w.write(row(i)))
      w.commit()
    }
    val t = new graft.lake.GraftTable(spark, loc)
    sw.commit(1L, Array(writeEpoch(0L, 1L)))
    val markerAfter1 = t.io.readString(s"meta/stream-epoch-$qid.text")
    sw.commit(2L, Array(writeEpoch(1L, 2L)))
    assert(t.scan().count() == 10)
    // an interleaved FOREIGN commit (batch append by another writer) sits
    // between the stream's epoch and its replay — the chain walk must step
    // over it
    import spark.implicits._
    t.append(graft.synth.SourceFiles.generate(7, 5).toDF())
    // crash window: epoch 2 published but the marker never advanced —
    // rewind it to epoch 1's state and replay epoch 2
    t.io.writeAtomic(s"meta/stream-epoch-$qid.text", markerAfter1)
    val v = t.currentVersion
    sw.commit(2L, Array(writeEpoch(2L, 2L)))
    assert(t.currentVersion == v, "crash-window replay must not re-commit")
    assert(t.scan().count() == 17)
    // forward progress resumes: epoch 3 commits and the marker re-advances
    sw.commit(3L, Array(writeEpoch(3L, 3L)))
    assert(t.scan().count() == 22)
    val Array(e, mv) = t.io.readString(s"meta/stream-epoch-$qid.text").trim.split(' ')
    assert(e.toLong == 3L && mv.toLong == t.currentVersion)
  }

  test("lake streaming sink: input without z gets the batch path's z values") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val loc = java.nio.file.Files.createTempDirectory("graft-sink-noz").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sink-noz-ck").toString
    val rows = Seq(
      ("repo_a", "x/1.txt", "c0", "xml", "one"),
      ("repo_b", "x/2.txt", "c1", "json", "two"),
      ("repo_c", "x/3.txt", "c2", "html", "three"))
    val stream = MemoryStream[(String, String, String, String, String)]
    stream.addData(rows: _*)
    val q = stream.toDF().toDF("repo", "path", "commit", "lang", "content")
      .writeStream.format("graft").option("path", loc)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batchLoc = java.nio.file.Files.createTempDirectory("graft-sink-noz-b").toString
    val bt = new graft.lake.GraftTable(spark, batchLoc)
    bt.append(rows.toDF("repo", "path", "commit", "lang", "content"))
    val streamed = new graft.lake.GraftTable(spark, loc).scan()
      .orderBy("path").collect().toSeq
    val batched = bt.scan().orderBy("path").collect().toSeq
    assert(streamed == batched, "task-side z diverged from the batch Column expression")
  }
}
