package graft

import org.apache.spark.sql.{SparkSession, DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is one operator/capability from SURVEY.md §2,
  * expressed Spark-first (DataFrame/Dataset + Catalyst). `oracleSql` holds
  * the DuckDB-equivalent ANSI SQL for the driver's correctness gate; the
  * column names (and ordering) are aligned on both sides.
  */
object SparkEntry {

  // one lazy DataFrame per (session, table file): `spark.read.parquet`
  // re-lists the path and re-reads the footer schema on EVERY call, and the
  // 92 queries issue ~150 such reads. The memo holds only the logical plan
  // (no data, no .cache()) — every query still computes from the parquet
  // input; this removes repeated driver-side listing/schema work only.
  // It holds one session's frames: a different session replaces the whole
  // memo, so it pins at most the last session it served.
  private final class ReadCache(val session: SparkSession) {
    val frames = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  }
  private val readCache = new java.util.concurrent.atomic.AtomicReference[ReadCache]()

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    readCache.updateAndGet(c => if (c != null && (c.session eq s)) c else new ReadCache(s))
      .frames.computeIfAbsent(s"$dir/$name.parquet", p => s.read.parquet(p))

  /** the session whose frames the read memo holds, if any */
  private[graft] def readCacheSession: Option[SparkSession] =
    Option(readCache.get).map(_.session)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    q1Agg(spark, dir)
  }

  // ----------------------------------------------------------------------
  // Relational core (SURVEY.md §2.5): scan+filter+project (pushdown),
  // hash aggregate, broadcast join, window, semi join, top-k, distinct.
  // ----------------------------------------------------------------------

  private def q1Agg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  private def q2JoinAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders   = t(s, dir, "orders")
    val customer = t(s, dir, "customer")
    val nation   = t(s, dir, "nation")
    // customer (15k @sf0.1) and nation (25) are broadcast by Catalyst;
    // hint explicitly so the plan survives a 100x orders scale-up.
    orders
      .join(broadcast(customer), $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_orders"),
           round(sum($"o_totalprice"), 2).as("total_price"))
      .orderBy($"n_name")
  }

  private def q3TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
           count(lit(1)).as("n_orders"))
      .orderBy($"spend".desc, $"o_custkey".asc)
      .limit(10)
  }

  private def q4Window(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_custkey",
              $"o_orderkey".as("last_orderkey"),
              date_format($"o_orderdate", "yyyy-MM-dd").as("last_orderdate"))
      .orderBy($"o_custkey")
  }

  private def q5SemiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"c_mktsegment")
  }

  private def q6Filter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1994-01-01").cast("timestamp") &&
              $"l_shipdate" <  lit("1995-01-01").cast("timestamp") &&
              $"l_discount".between(0.05, 0.07) &&
              $"l_quantity" < 24)
      .agg(round(sum($"l_extendedprice" * $"l_discount"), 2).as("revenue"),
           count(lit(1)).as("n_rows"))
  }

  private def q7EventsAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
           countDistinct($"user_id").as("n_users"),
           round(sum($"value"), 2).as("total_value"))
      .orderBy($"event_type")
  }

  private def q8EventsHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy(date_format($"ts", "yyyy-MM-dd HH").as("hour"))
      .agg(count(lit(1)).as("n_events"),
           round(sum($"value"), 2).as("total_value"))
      .orderBy($"hour")
  }

  // ----------------------------------------------------------------------
  // xmq payload queries (SURVEY.md §2.1-2.4): round-trip, tokenize, convert
  // over the deterministic synthesized source_files table.
  // ----------------------------------------------------------------------

  private def synthFiles(s: SparkSession, n: Int) = {
    import s.implicits._
    graft.synth.SourceFiles.generate(n, seed = 42).toDF()
  }

  private def q9XmqRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.expr.XmqFunctions._
    synthFiles(s, 2000)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(xmq_roundtrip_ok($"content", $"lang"), 1L).otherwise(0L)).as("n_roundtrip_ok"),
           sum(length($"content")).as("total_bytes"))
      .orderBy($"lang")
  }

  private def q10XmqTokenize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.expr.XmqFunctions._
    synthFiles(s, 500).filter($"lang" === "xmq")
      .select(explode(xmq_tokenize($"content")).as("t"))
      .groupBy($"t.type".as("token_type"))
      .agg(count(lit(1)).as("n_tokens"))
      .orderBy($"token_type")
  }

  private def q11XmqConvert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.expr.XmqFunctions._
    synthFiles(s, 1000)
      .select($"lang", $"repo",
        xmq_convert($"content", $"lang", lit("json"), lit(false)).as("as_json"),
        xmq_convert($"content", $"lang", lit("xmq"), lit(true)).as("as_xmq_compact"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(length($"as_json")).as("json_bytes"),
           sum(length($"as_xmq_compact")).as("xmq_bytes"))
      .orderBy($"lang")
  }

  private def q12XmqDetect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.expr.XmqFunctions._
    synthFiles(s, 1000)
      .select(xmq_detect($"content").as("detected"), $"lang")
      .groupBy($"detected", $"lang").agg(count(lit(1)).as("n"))
      .orderBy($"detected", $"lang")
  }

  private def q26XmqGetters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.expr.XmqFunctions._
    // typed getters + predicate xpath + well-formedness + offset annotation
    // over the deterministic synthesized corpus; a half-truncated copy
    // exercises the malformed path (html stays lenient, like htmlReadMemory).
    // Plan shape: xmq_probe parses each document ONCE and fans out all four
    // derived values (count/wellformed/getter/annotated) — the corrupted
    // copy is a different input and keeps its own single parse: 2 parses
    // per row instead of 6 single-output expressions.
    synthFiles(s, 500)
      .withColumn("corrupted", substring($"content", lit(1), (length($"content") / 2).cast("int")))
      .withColumn("p", xmq_probe($"content", $"lang", lit("//*"), lit("//*/text()"), lit("o")))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum($"p.n_matches").as("n_elems"),
           sum(when($"p.wellformed", 1L).otherwise(0L)).as("n_wellformed"),
           sum(when(is_wellformed($"corrupted", $"lang"), 1L).otherwise(0L)).as("n_corrupt_ok"),
           sum($"p.first_long").as("sum_first_num"),
           sum(length($"p.annotated")).as("annotated_bytes"))
      .orderBy($"lang")
  }

  // ----------------------------------------------------------------------
  // Training-data pipeline operators over documents/embeddings.
  // ----------------------------------------------------------------------

  private def q13DedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.pipeline.Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      .orderBy($"keep_id")
      .select($"text_hash", $"keep_id", $"dup_count")
  }

  /** q80: normalization-aware exact dedup — CCNet-style normalize (lower,
    * digits→0, punctuation→space, trim) then one hash-aggregate. The corpus
    * is `documents` unioned with a deterministically "messied" variant of
    * every doc (leading whitespace, uppercased, trailing punctuation, id
    * offset), so every normalized group must absorb ≥2 RAW-distinct texts —
    * exactly what normalization buys beyond plain exact dedup (q13). */
  private def q80NormDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"text")
    val messy = docs.select(($"doc_id" + 100000L).as("doc_id"),
      concat(lit("  "), upper($"text"), lit(" !!")).as("text"))
    graft.pipeline.Dedup.normalizedExact(docs.unionAll(messy), "doc_id", "text")
      .orderBy($"keep_id")
      .select($"norm_hash", $"keep_id", $"dup_count", $"raw_variants")
  }

  /** q81: SemDeDup-style semantic dedup over `embeddings` — deterministic
    * coarse clustering (the IVF quantizer, so DuckDB rebuilds the identical
    * index) then within-cluster epsilon-ball pruning at cosine >= 0.35:
    * a doc is dropped iff an earlier doc in its cluster is that similar
    * (dup_of names it). tau sits 2.5e-4 from the nearest within-cluster
    * pair, so the float threshold cannot flip cross-engine. */
  private def q81SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.pipeline.Dedup
      .semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding", 0.35)
      .orderBy($"id")
      .select($"id", $"cid", $"dup_of", $"kept")
  }

  private def q14TokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id",
        length($"text").cast("long").as("n_chars_actual"),
        (length($"text") - length(regexp_replace($"text", " ", "")) + 1).cast("long").as("n_words"))
      .orderBy($"doc_id")
  }

  private def q15QualityByLang(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           round(avg(length($"text")), 4).as("avg_chars"),
           round(avg(length($"text") - length(regexp_replace($"text", " ", "")) + 1), 4).as("avg_words"),
           min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"))
      .orderBy($"lang")
  }

  private def q16TextAnalysis(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.TextFunctions._
    t(s, dir, "documents")
      .select($"doc_id", $"text")
      .withColumn("lang_guess", language_id($"text"))
      .withColumn("quality", round(quality_score($"text"), 4))
      .withColumn("tokens", token_estimate($"text"))
      .withColumn("fingerprint", text_fingerprint($"text"))
      .groupBy($"lang_guess")
      .agg(count(lit(1)).as("n_docs"),
           round(avg($"quality"), 4).as("avg_quality"),
           sum($"tokens").as("total_tokens"),
           countDistinct($"fingerprint").as("distinct_fingerprints"))
      .orderBy($"lang_guess")
  }

  private def q17AnnTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val query = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).toArray
    graft.pipeline.Ann.bruteForceTopK(emb.filter($"vec_id" =!= 0), "vec_id", "embedding", query, 10)
      .select($"vec_id", round($"cos", 4).as("cos_sim"))
  }

  private def q18MinhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.pipeline.Dedup.minHashPairs(t(s, dir, "documents"), "doc_id", "text",
        bands = 16, rowsPerBand = 4, shingleSize = 2, threshold = 0.2)
      .select($"id_a", $"id_b", round($"jaccard", 4).as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  private def q32NearDupGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the (member → group-representative) output shape — the 100-TB default
    // for near-dup dedup: linear in corpus size even for degenerate
    // same-hash cliques where pair emission is quadratic (q18 keeps the
    // pair view for debugging). Same minhash-LSH pair derivation as q18,
    // then distributed connected components.
    val docs = t(s, dir, "documents")
    val pairs = graft.pipeline.Dedup.minHashPairs(docs, "doc_id", "text",
      bands = 16, rowsPerBand = 4, shingleSize = 2, threshold = 0.2)
    graft.pipeline.Dedup.nearDupGroups(docs, "doc_id", pairs)
      .orderBy($"member_id")
  }

  private def q73CanonicalKeep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // which COPY survives dedup: same minhash pair graph as q32, but the
    // output names the LONGEST member of each near-dup group as its keeper
    // (ties to the smallest doc_id) — the canonical-selection step between
    // grouping and dropping that production pipelines actually run. One
    // partial-aggregable max_by per group + one keep-id join; the full
    // (member, keep) mapping is the audit trail.
    val docs = t(s, dir, "documents")
    val pairs = graft.pipeline.Dedup.minHashPairs(docs, "doc_id", "text",
      bands = 16, rowsPerBand = 4, shingleSize = 2, threshold = 0.2)
    graft.pipeline.Dedup.canonicalPerGroup(docs, "doc_id", pairs,
        length($"text"))
      .orderBy($"member_id")
  }

  private def q74NdvSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ANALYZE-style distinct-count statistics: per-lang NDV of `text` from a
    // K-minimum-values sketch (k=64 smallest distinct sha60 hashes — the
    // bounded-shuffle shape: partitions × k longs cross the wire, never the
    // values), next to the exact distinct count the small-scale oracle can
    // afford. DuckDB replays the identical k-th smallest distinct hash and
    // the identical integer-floor estimate, so the estimate itself is under
    // the hash gate, not just "close". Feeds Maintenance.analyze / the DSv2
    // scan's reported column statistics (CBO).
    val docs = t(s, dir, "documents")
    val kmv = udaf(new graft.pipeline.KmvNdvAgg(64),
      org.apache.spark.sql.Encoders.scalaLong)
    docs.groupBy($"lang")
      .agg(
        kmv(coalesce(graft.pipeline.Sketch.sha60($"text"), lit(-1L))).as("ndv_est"),
        countDistinct($"text").as("ndv_exact"))
      .orderBy($"lang")
  }

  private def q75QuantileFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.TextFunctions.token_estimate
    // quantile-threshold curation: DROP the bottom 1/4 of each language by
    // token count (ties by doc_id) — the "keep the top 75% by score per
    // stratum" filtering step. Rank-exact with integer arithmetic end to
    // end (rational q, DIV threshold), computed without a per-stratum
    // global sort: score-range buckets + broadcast prefix counts + a
    // window only within each (lang, bucket).
    val docs = t(s, dir, "documents").select($"doc_id", $"lang", $"text")
    graft.pipeline.Curation.dropBottomQuantile(
        docs, "doc_id", "lang", token_estimate($"text"), 1L, 4L, buckets = 64)
      .select($"doc_id", $"lang", $"score".as("tokens"), $"rank")
      .orderBy($"doc_id")
  }

  private def q44NearDupStar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // same pair derivation and output contract as q32, but grouped by the
    // edge-contracting large-star/small-star algorithm — the scale path for
    // adversarial graph shapes (power-law hubs, giant components) where
    // pointer doubling's full-edge-set re-join round is the bottleneck.
    // Both implementations are pinned to ONE DuckDB transitive closure.
    val docs = t(s, dir, "documents")
    val pairs = graft.pipeline.Dedup.minHashPairs(docs, "doc_id", "text",
      bands = 16, rowsPerBand = 4, shingleSize = 2, threshold = 0.2)
    graft.pipeline.Dedup.nearDupGroupsStar(docs, "doc_id", pairs)
      .orderBy($"member_id")
  }

  private def q33StreamWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the STREAMING ENGINE under the oracle gate: replay the events table
    // through a file-source stream (AvailableNow, maxFilesPerTrigger forces
    // several microbatches), 10-minute tumbling event-time windows,
    // foreachBatch parquet sink; DuckDB recomputes the aggregate
    // relationally. Complete output mode makes the end-of-stream sink
    // contents deterministic — append would withhold windows the final
    // watermark hasn't passed. Production uses the same windowedCounts with
    // append+watermark for bounded state (StreamingSpec pins eviction).
    val out = java.nio.file.Files.createTempDirectory("graft-q33").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q33-ckpt").toString
    // stage the table into a landing directory of several files — the shape
    // a production stream actually arrives in (the sf table is one file,
    // and the file-stream source ingests directories). The NTZ→instant ts
    // cast is value-preserving under the UTC session TZ; watermarks
    // require an instant type.
    val staged = java.nio.file.Files.createTempDirectory("graft-q33-in").toString
    val events = t(s, dir, "events").withColumn("ts", $"ts".cast("timestamp"))
    events.repartition(4).write.mode("overwrite").parquet(staged)
    // dedicated stream session: the windowed state is a few hundred rows, so
    // 32 shuffle partitions would pay 32 state stores × N microbatches of
    // pure fixed overhead; 4 keeps the same multi-batch semantics
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val stream = ss.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    val agg = graft.streaming.EventStream.windowedCounts(stream)
    // NOTE: no coalesce(1) here — it would merge the stateful aggregation
    // stage itself into one task (all state stores loaded serially)
    val sink = (batch: DataFrame, _: Long) =>
      batch.write.mode("overwrite").parquet(out)
    agg.writeStream
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch(sink)
      .start()
      .awaitTermination()
    s.read.parquet(out)
      .select(date_format($"window_start", "yyyy-MM-dd HH:mm").as("window_start"),
        $"event_type", $"n_events", round($"total_value", 2).as("total_value"))
      .orderBy($"window_start", $"event_type")
  }

  /** q82: STREAM-STREAM interval join through the real engine — views and
    * clicks read as two file-source streams from the same landing directory
    * (maxFilesPerTrigger=1 forces several microbatches; matches whose sides
    * arrive in DIFFERENT microbatches must come out of the join's buffered
    * state, which is exactly what this gates), attribution window 30
    * minutes, append sink accumulating each batch's newly-matched pairs.
    * The staged files are randomly partitioned, so replay disorder spans
    * the table; the watermark is set past that span, making the inner join
    * emit exactly the batch join for the oracle (production uses a
    * disorder-sized watermark — StreamingSpec pins stream ≡ batch there
    * and the state-eviction bound). */
  private def q82StreamJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-q82").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q82-ckpt").toString
    val staged = java.nio.file.Files.createTempDirectory("graft-q82-in").toString
    val events = t(s, dir, "events").withColumn("ts", $"ts".cast("timestamp"))
    events.repartition(4).write.mode("overwrite").parquet(staged)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val src = ss.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val joined = graft.streaming.EventStream.attributedClicks(
      src.filter($"event_type" === "view"),
      src.filter($"event_type" === "click"),
      withinMinutes = 30, watermarkMinutes = 50000)
    joined.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch((b: DataFrame, _: Long) => b.write.mode("append").parquet(out))
      .start()
      .awaitTermination()
    s.read.parquet(out).select($"user_id", $"view_id", $"click_id",
        date_format($"view_ts", "yyyy-MM-dd HH:mm:ss").as("view_ts"),
        date_format($"click_ts", "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        round($"click_value", 2).as("click_value"))
      .orderBy($"view_id", $"click_id")
  }

  /** q83: STREAM-STATIC enrichment against a LIVE lake-table dimension —
    * each microbatch joins the event stream to a per-user tier dimension
    * read through the DSv2 connector INSIDE foreachBatch, so every batch
    * re-resolves the table head (the production pattern for slowly-changing
    * dimensions: a broadcast join per batch, dimension freshness = one
    * microbatch). Between the two AvailableNow passes a CoW MERGE INTO
    * retiers every user_id % 10 == 3 — pass-2 batches must see the merged
    * dimension while pass-1 rows keep the tiers they were enriched with
    * (the checkpoint makes the file→pass split exact: pass 1 stages only
    * the first-half events). DuckDB replays both joins relationally. */
  private def q83StreamEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-q83").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q83-ckpt").toString
    val staged = java.nio.file.Files.createTempDirectory("graft-q83-in").toString
    val loc = java.nio.file.Files.createTempDirectory("graft-q83-dim").toString
    val events = t(s, dir, "events").withColumn("ts", $"ts".cast("timestamp"))
    val half = (events.agg(max($"event_id")).head().getLong(0) + 1L) / 2L
    // the dimension lives IN THE LAKE: key in repo ("user_<id>"), tier in
    // lang — maintained by the same commit machinery as every other table
    val dim = new graft.lake.GraftTable(s, loc)
    def dimRows(tier: org.apache.spark.sql.Column) = events.select($"user_id").distinct()
      .select(concat(lit("user_"), $"user_id").as("repo"), lit("profile").as("path"),
        lit("c0").as("commit"), tier.as("lang"), lit("").as("content"))
    dim.append(dimRows(concat(lit("tier_"), pmod($"user_id", lit(4)))))
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    def runPass(): Unit = {
      val src = ss.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      src.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // connector read built PER BATCH: plans against the current head
          val d = batch.sparkSession.read.format("graft").load(loc)
            .select(substring(col("repo"), 6, 20).cast("long").as("user_id"),
                    col("lang").as("tier"))
          // stats-gated broadcast (r5 VERDICT #8): hint only while the
          // dimension's plan-stats estimate is broadcast-sized — a 100-TB
          // user dimension falls back to Spark's own join choice instead
          // of an OOM-by-hint
          val dimHinted =
            if (d.queryExecution.optimizedPlan.stats.sizeInBytes <= (32L << 20))
              broadcast(d)
            else d
          batch.join(dimHinted, Seq("user_id"))
            .select(col("tier"), col("event_type"), col("value"))
            .coalesce(1).write.mode("append").parquet(out)
        }
        .start().awaitTermination()
    }
    events.filter($"event_id" < half).repartition(2)
      .write.mode("append").parquet(staged)
    runPass()
    // mid-stream dimension maintenance: CoW MERGE retiers user_id % 10 == 3
    graft.lake.Maintenance.mergeInto(dim, "q83-retier",
      dimRows(lit("tier_x")).filter(substring($"repo", 6, 20).cast("long") % 10 === 3))
    events.filter($"event_id" >= half).repartition(2)
      .write.mode("append").parquet(staged)
    runPass()
    s.read.parquet(out)
      .groupBy($"tier", $"event_type")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("total_value"))
      .orderBy($"tier", $"event_type")
  }

  /** q84: backward AS-OF join over `events` — each click attributes to the
    * single most recent view by the same user within 24 hours (ties at
    * identical (user, ts) pre-collapsed to max event_id so both engines
    * pick the same row; the tolerance drops ~60% of matches at every SF so
    * the gate exercises both the pick and the bound). The operator is the
    * union-window form — ONE exchange of |clicks|+|views| rows keyed by
    * user, no candidate pairs — vs q82's interval join which materializes
    * every in-window pair. DuckDB replays it with its native ASOF JOIN
    * (tolerance applied outside the ASOF ON, which admits one inequality). */
  private def q84AsofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events").withColumn("ts", $"ts".cast("timestamp"))
    val views = ev.filter($"event_type" === "view")
      .groupBy($"user_id", $"ts").agg(max($"event_id").as("view_id"))
      .withColumnRenamed("ts", "view_ts")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"ts".as("click_ts"), $"value")
    graft.pipeline.AsOf.join(clicks, views, Seq("user_id"),
        "click_ts", "view_ts", toleranceSeconds = 86400)
      .select($"user_id", $"click_id", $"view_id",
        date_format($"click_ts", "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        date_format($"view_ts", "yyyy-MM-dd HH:mm:ss").as("view_ts"),
        round($"value", 2).as("click_value"))
      .orderBy($"click_id")
  }

  /** deterministic messy-URL synthesis for q85/q86: six variant classes per
    * doc (plain, SHOUTING+trailing-slash, utm param, www+:443+#fragment,
    * real param + utm param, real param) over a shared page space, so
    * canonicalization must collapse exactly the classes that differ only by
    * rule-removable noise. Replayed verbatim in the DuckDB oracle. */
  private def syntheticUrl(): Column = {
    val v = pmod(col("doc_id"), lit(6))
    val host = concat(col("source"), lit(".example.com"))
    val path = concat(lit("/page/"), pmod(col("doc_id"), lit(37)).cast("string"))
    concat(
      when(v === 1, lit("HTTPS://")).otherwise(lit("https://")),
      when(v === 0 || v === 3, lit("www.")).otherwise(lit("")),
      when(v === 1, upper(host)).otherwise(host),
      when(v === 3, lit(":443")).otherwise(lit("")),
      when(v === 1, concat(upper(path), lit("/"))).otherwise(path),
      when(v === 2, lit("?utm_source=feed")).when(v === 3, lit("#frag"))
        .when(v === 4, lit("?a=1&utm_campaign=x")).when(v === 5, lit("?a=1"))
        .otherwise(lit("")))
  }

  /** q85: canonical-URL dedup — the cheapest dedup stage of a web corpus,
    * collapsing tracking/port/www/fragment/slash variants before any text
    * hashing. One hash-aggregate; DuckDB re-derives the canonical form. */
  private def q85UrlDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.pipeline.Web.urlDedup(
        t(s, dir, "documents").withColumn("url", syntheticUrl()), "doc_id", "url")
      .orderBy($"keep_id")
      .select($"canonical_url", $"keep_id", $"dup_count")
  }

  /** q86: per-domain corpus profile (docs, distinct canonical pages, mean
    * size) — the aggregate a domain blocklist / sampling policy reads. */
  private def q86DomainStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.pipeline.Web.domainStats(
        t(s, dir, "documents").withColumn("url", syntheticUrl()), "url", "n_chars")
      .orderBy($"domain")
  }

  /** deterministic extraction-noise synthesis for q87: each document
    * becomes a 7-line "page" — nav bar, content slice, SHOUTED slice,
    * cookie banner, second content slice (empty for short docs), copyright
    * footer, button stub — so the line filter must drop exactly the five
    * noise classes and keep the one-or-two content lines. Replayed
    * verbatim in the DuckDB oracle. */
  private def syntheticPage(): Column = concat_ws("\n",
    lit("HOME | ABOUT | CONTACT US"),
    substring(col("text"), 1, 120),
    upper(substring(col("text"), 121, 80)),
    lit("Please accept cookies to continue"),
    substring(col("text"), 201, 120),
    lit("Copyright (c) 2024 All rights reserved"),
    lit("OK"))

  /** q87: line-level boilerplate filtering — the RefinedWeb "line-wise
    * correction" stage that repairs extraction noise INSIDE pages before
    * any document-level scoring. The sha256 of the cleaned text is the
    * strong check: every kept byte and dropped line must agree. */
  private def q87LineFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = graft.pipeline.Web
    t(s, dir, "documents").withColumn("page", syntheticPage())
      .select($"doc_id",
        size(split($"page", "\n")).cast("long").as("n_lines"),
        size(filter(split($"page", "\n"), W.keepLine _)).cast("long").as("n_kept"),
        sha2(W.cleanLines($"page"), 256).as("clean_sha"))
      .orderBy($"doc_id")
  }

  /** q88: corpus-wide top-25 frequent word bigrams via the Misra–Gries
    * sketch-then-verify path — the stop-shingle / boilerplate-n-gram
    * statistic a curation policy reads. The corpus' ~930 distinct bigrams
    * sit far inside m=4096, so the sketch is in its guaranteed-exact
    * regime and DuckDB's exhaustive GROUP BY must agree row-for-row;
    * the sub-bound regime is exercised by PipelineSpec's skewed corpus. */
  private def q88HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ws = split($"text", " ")
    val bigrams = when(size(ws) >= 2,
        zip_with(slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
          (a, b) => concat(a, lit(" "), b)))
      .otherwise(array())
    val items = t(s, dir, "documents").select(explode(bigrams).as("bigram"))
    graft.pipeline.HeavyHitters.topKExact(items, "bigram", k = 25, m = 4096)
  }

  /** q89: per-language EXACT length quantiles — the distribution profile a
    * curation policy reads before setting length cutoffs (q75's quantile
    * FILTER consumes exactly such thresholds). Spark's `percentile` is the
    * exact sort-based aggregate with linear interpolation at p·(n-1) —
    * the same definition as DuckDB's quantile_cont, so the oracle is
    * deterministic (approx sketches would not cross-engine hash-match).
    * Scale shape: partial+final typed aggregation keyed by lang; the sort
    * is per-group inside the aggregate buffer, never a global sort. For
    * 100-TB corpora swap in approx_percentile (same plan shape, bounded
    * memory) — exact here because the gate needs bit-equality. */
  private def q89LengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(expr("percentile(n_chars, 0.5)"), 2).as("p50"),
        round(expr("percentile(n_chars, 0.9)"), 2).as("p90"),
        round(expr("percentile(n_chars, 0.99)"), 2).as("p99"))
      .orderBy($"lang")
  }

  /** q90: deterministic exactly-k weighted sample per language — the
    * "pick 20 representative docs per stratum, longer docs weighted
    * heavier" curation step. Integer-exact WRS (min-of-w splitmix64 keys,
    * see [[graft.pipeline.Sampling]]); the oracle re-derives every key in
    * DuckDB HUGEINT arithmetic and must select the identical set. */
  private def q90WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .withColumn("wt_in", least(lit(4L), lit(1L) + expr("n_chars div 500")))
    graft.pipeline.Sampling
      .weightedSample(docs, "doc_id", "lang", $"wt_in", k = 20, seed = 777L)
      .withColumnRenamed("stratum", "lang")
      .withColumnRenamed("id", "doc_id")
      .orderBy($"lang", $"key", $"doc_id")
  }

  /** q91: top-3 salient terms per document by the log-free tf–idf score
    * tf/df (see [[graft.pipeline.Salience]]) — exact small-integer ratios,
    * so the DuckDB oracle reproduces score AND rank order bit-exactly. */
  private def q91SalientTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.pipeline.Salience
      .salientTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy($"doc_id", $"rank")
  }

  /** q92: reference-bigram coverage — the log-free LM quality filter (see
    * [[graft.pipeline.LmScore]]). The reference slice is the deterministic
    * doc_id % 5 == 0 split (the "trusted corpus" a real pipeline would take
    * from Wikipedia); every other document is scored by how much of its
    * bigram stream that slice's vocabulary covers. Integer counts + one
    * IEEE division per row, so DuckDB re-derives every sha60 bigram hash
    * and must agree bit-exactly on all three columns. */
  private def q92LmCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    graft.pipeline.LmScore
      .bigramCoverage(docs.filter($"doc_id" % 5 =!= 0), "doc_id", "text",
        docs.filter($"doc_id" % 5 === 0), "doc_id", "text", minRefDocs = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy($"doc_id")
  }

  private def q40StreamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // STREAMING TTL dedup under the oracle gate: replay the events table as
    // a ts-range-ordered file stream (one file per microbatch, mtimes pin
    // the order) through dedupWithinTtl — emit an event iff nothing of the
    // same key was emitted within 24h (event time) before it; state evicted
    // by event-time timeout. DuckDB recomputes the greedy emission chain
    // per key with a recursive CTE + LATERAL "next eligible" step.
    val out = java.nio.file.Files.createTempDirectory("graft-q40").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q40-ckpt").toString
    val staged = java.nio.file.Files.createTempDirectory("graft-q40-in").toString
    val events = t(s, dir, "events").withColumn("ts", $"ts".cast("timestamp"))
    // 4 ts-range files = 4 microbatches: still a genuine multi-batch replay
    // with cross-batch state suppression (25k rows/batch), at half the
    // per-batch orchestration cost of the previous 8
    events.repartitionByRange(4, $"ts").write.mode("overwrite").parquet(staged)
    // deterministic batch order: range partition index == file-name order,
    // and ascending mtimes make the file source replay them in ts order
    val parts = new java.io.File(staged).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(1700000000000L + i * 2000L); ()
    }
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val stream = ss.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
      .as[graft.streaming.EventStream.Event]
    val emitted = graft.streaming.EventStream.dedupWithinTtl(stream, ttlMinutes = 1440)
    emitted.toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch((batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out))
      .start()
      .awaitTermination()
    s.read.parquet(out)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"))
      .orderBy($"user_id", $"ts_us", $"event_id")
  }

  private def q41CorpusSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // training-corpus curation: quality floor, then a deterministic
    // per-language token-budget sample via the two-pass distributed prefix
    // sum (bucketed by the top bits of mix64(doc_id)). DuckDB recomputes
    // the same greedy fill with ONE global window per language — the
    // cross-engine check that offset + local prefix == the global prefix.
    val docs = t(s, dir, "documents").filter(length($"text") >= 100)
    val toks = (length($"text") - length(regexp_replace($"text", " ", "")) + 1).cast("long")
    graft.pipeline.Curation
      .tokenBudgetSample(docs, "doc_id", "lang", toks, budgetPerLang = 5000L, buckets = 64)
      .select($"doc_id", $"lang", $"tokens", $"cum_before")
      .orderBy($"lang", $"cum_before", $"doc_id")
  }

  private def q43NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // EXACT n-gram Jaccard dedup as its own oracled operator (q18 verifies
    // jaccard only on minhash candidates; this one is approximation-free):
    // inverted-index pairing + count arithmetic, boilerplate shingles cut
    // at docfreq 50. DuckDB rebuilds the identical shingle space and pair
    // counts relationally.
    graft.pipeline.Dedup
      .ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.25, maxDocFreq = 50)
      .select($"id_a", $"id_b", round($"jaccard", 4).as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  private def q49Decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // benchmark decontamination: corpus docs sharing >= 2 distinct word-3-
    // shingles with any "benchmark" doc (the deterministic doc_id % 97
    // slice, excluding self-hits). The benchmark shingle table broadcasts;
    // DuckDB rebuilds the identical shingle space and join.
    val docs = t(s, dir, "documents")
    val bench = docs.filter($"doc_id" % 97 === 0)
    graft.pipeline.Dedup
      .decontaminate(docs, "doc_id", "text", bench, "doc_id", "text",
        n = 3, minShared = 2)
      .filter($"doc_id" =!= $"bench_id")
      .orderBy($"doc_id", $"bench_id")
  }

  private def q50DupRatio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // duplicated-shingle ratio (the CCNet-style repetition signal): per doc,
    // the fraction of its distinct word-3-shingles seen in >= 2 docs.
    graft.pipeline.Dedup
      .duplicationRatio(t(s, dir, "documents"), "doc_id", "text", n = 3)
      .select($"id".as("doc_id"), $"nsh", $"dup_sh",
        round($"dup_ratio", 4).as("dup_ratio"))
      .orderBy($"doc_id")
  }

  private def q51PiiScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.TextFunctions.{scrub_pii, pii_counts}
    // PII redaction (the pre-release curation pass): emails → <email>,
    // IPv4s → <ip>, 7+-digit runs → <phone>, in that order (the order is
    // part of the contract — email local parts contain digits, IPs are
    // dotted digits). PII is INJECTED deterministically (the corpus text is
    // word soup), and DuckDB replays the identical RE2-subset regexes +
    // injection to re-derive counts and the scrubbed-text hash per row.
    val injected = t(s, dir, "documents").select($"doc_id", concat(
      $"text",
      when($"doc_id" % 7 === 0,
        concat(lit(" contact user"), $"doc_id".cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when($"doc_id" % 11 === 0,
        concat(lit(" host 10.0."), ($"doc_id" % 256).cast("string"),
               lit("."), ($"doc_id" % 100).cast("string")))
        .otherwise(lit("")),
      when($"doc_id" % 13 === 0,
        concat(lit(" tel 555"), lpad(($"doc_id" % 10000).cast("string"), 5, "0")))
        .otherwise(lit(""))).as("text"))
    injected.select($"doc_id", pii_counts($"text").as("c"),
        sha2(scrub_pii($"text"), 256).as("scrub_sha"))
      .select($"doc_id", $"c.n_emails", $"c.n_ips", $"c.n_phones", $"scrub_sha")
      .orderBy($"doc_id")
  }

  private def q52Repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Gopher-style within-document repetition signals: word totals,
    // distinct-word count, longest same-word run, and the count of the most
    // frequent word bigram. Pure per-row scan projection (no shuffle);
    // DuckDB re-derives max_run with the gaps-and-islands window and
    // top_bigram with an unnest + group.
    t(s, dir, "documents")
      .select($"doc_id", graft.pipeline.TextFunctions.repetition_stats($"text").as("r"))
      .select($"doc_id", $"r.total_words", $"r.distinct_words", $"r.max_run",
        $"r.n_bigrams", $"r.top_bigram")
      .orderBy($"doc_id")
  }

  private def q53ChunkDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // corpus-level exact span dedup at 8-word chunk granularity (the
    // paragraph-dedup pass): identical chunks keep only their first
    // (doc_id, idx) occurrence corpus-wide; documents reassemble from
    // surviving chunks. The shuffle carries (hash, id, idx) only — the
    // survivor text is re-sliced from the original document.
    graft.pipeline.Dedup.dedupChunks(t(s, dir, "documents"), "doc_id", "text", w = 8)
      .select($"id".as("doc_id"), $"n_chunks", $"kept_chunks",
        sha2($"kept_text", 256).as("kept_sha"))
      .orderBy($"doc_id")
  }

  private def q54IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // incremental exact dedup of a synthetic ingest batch against the full
    // corpus through a Bloom prefilter: batch rows are corpus docs with
    // doc_id % 10 == 0, re-keyed +1_000_000, where every third row keeps
    // its original text VERBATIM (a true duplicate the filter must drop)
    // and the rest get a unique suffix (definitely-new rows that should
    // skip the verify join on the Bloom-negative fast path).
    val corpus = t(s, dir, "documents")
    val batch = corpus.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        when($"doc_id" % 3 === 0, $"text")
          .otherwise(concat($"text", lit(" new"), $"doc_id".cast("string"))).as("text"),
        $"lang")
    graft.pipeline.Dedup.incrementalExact(batch, corpus, "doc_id", "text")
      .select($"doc_id", $"lang", sha2($"text", 256).as("text_sha"))
      .orderBy($"doc_id")
  }

  private def q42PackSequences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // sequence packing for training loaders: every document assigned a
    // (bin, offset) inside fixed 2048-token windows, in the deterministic
    // mix64 curation order — same two-pass prefix sum as q41, exercised
    // WITHOUT the budget cut so every row's cumulative position is checked.
    val docs = t(s, dir, "documents")
    val toks = (length($"text") - length(regexp_replace($"text", " ", "")) + 1).cast("long")
    graft.pipeline.Curation
      .packSequences(docs, "doc_id", "lang", toks, windowTokens = 2048L, buckets = 64)
      .select($"doc_id", $"lang", $"tokens", $"bin", $"bin_offset", $"spans_next")
      .orderBy($"lang", $"bin", $"bin_offset", $"doc_id")
  }

  private def q36Sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // event-time sessionization through the TYPED flatMapGroupsWithState
    // path (EventStream.sessionize — the same function streaming runs;
    // batch execution closes trailing sessions at end of input). DuckDB
    // recomputes sessions relationally: lag-gap flags → cumulative session
    // ids → per-session aggregate.
    val events = t(s, dir, "events")
      .withColumn("ts", $"ts".cast("timestamp"))
      .as[graft.streaming.EventStream.Event]
    graft.streaming.EventStream.sessionize(events, gapMinutes = 30)
      .toDF()
      .select($"user_id", $"n_events",
        round($"total_value", 2).as("total_value"), $"session_end_ts")
      .orderBy($"user_id", $"session_end_ts")
  }

  /** XMQCoreType scalar vocabulary (xmq.h:382-407) over derived columns:
    * every core type validated (and one cast summed) on deterministic
    * values built from the documents table; DuckDB recomputes each verdict
    * with the same regexes / string-math bounds. */
  private def q34CoreTypes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.expr.CoreTypes
    val d = t(s, dir, "documents")
      .withColumn("v_bool", when($"doc_id" % 3 === 0, lit("true"))
        .when($"doc_id" % 3 === 1, lit("false")).otherwise(lit("True")))
      .withColumn("v_int", ($"doc_id" * 37 - 40000).cast("string"))
      .withColumn("v_pow", concat(when($"doc_id" % 2 === 0, lit("")).otherwise(lit("-")),
        lit("1"), expr("repeat('0', cast(doc_id % 45 as int))")))
      .withColumn("v_float", concat($"n_chars".cast("string"), lit(".25e"),
        ($"doc_id" % 45).cast("string")))
      .withColumn("v_b64", when($"doc_id" % 4 === 0, lit("QUJD"))
        .when($"doc_id" % 4 === 1, lit("QUJDRQ=="))
        .when($"doc_id" % 4 === 2, lit("QQ=")).otherwise($"source"))
      .withColumn("v_email", when($"doc_id" % 4 === 0,
        concat($"source", lit("@example.com"))).otherwise($"source"))
      .withColumn("v_url", when($"doc_id" % 5 === 0,
        concat(lit("https://"), $"source", lit(".org/x")))
        .otherwise(concat(lit("ftp:/broken "), $"source")))
      .withColumn("v_ip4", concat(($"doc_id" % 300).cast("string"), lit("."),
        ($"n_chars" % 300).cast("string"), lit(".7.1")))
      .withColumn("v_ip6", when($"doc_id" % 3 === 0, lit("fe80::1a2b"))
        .when($"doc_id" % 3 === 1, lit("::1")).otherwise(lit("g::1")))
      .withColumn("v_ip", when($"doc_id" % 2 === 0, $"v_ip4").otherwise($"v_ip6"))
    def n(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    d.groupBy($"lang").agg(
      count(lit(1)).as("n_docs"),
      n(CoreTypes.valid($"v_bool", "bool")).as("ok_bool"),
      n(CoreTypes.valid($"v_int", "i8")).as("ok_i8"),
      n(CoreTypes.valid($"v_int", "i16")).as("ok_i16"),
      n(CoreTypes.valid($"v_int", "i32")).as("ok_i32"),
      n(CoreTypes.valid($"v_pow", "i64")).as("ok_i64"),
      n(CoreTypes.valid($"v_pow", "i128")).as("ok_i128"),
      n(CoreTypes.valid($"v_int", "u8")).as("ok_u8"),
      n(CoreTypes.valid($"v_int", "u16")).as("ok_u16"),
      n(CoreTypes.valid($"v_int", "u32")).as("ok_u32"),
      n(CoreTypes.valid($"v_pow", "u64")).as("ok_u64"),
      n(CoreTypes.valid($"v_pow", "u128")).as("ok_u128"),
      n(CoreTypes.valid($"v_float", "f32")).as("ok_f32"),
      n(CoreTypes.valid($"v_float", "f64")).as("ok_f64"),
      n(CoreTypes.valid($"text", "string")).as("ok_string"),
      n(CoreTypes.valid($"v_b64", "base64")).as("ok_b64"),
      n(CoreTypes.valid($"v_email", "email")).as("ok_email"),
      n(CoreTypes.valid($"v_url", "uri")).as("ok_uri"),
      n(CoreTypes.valid($"v_url", "url")).as("ok_url"),
      n(CoreTypes.valid($"v_ip4", "ipv4_address")).as("ok_ipv4"),
      n(CoreTypes.valid($"v_ip6", "ipv6_address")).as("ok_ipv6"),
      n(CoreTypes.valid($"v_ip", "ip_address")).as("ok_ip"),
      sum(CoreTypes.castTo($"v_int", "i32")).as("sum_i32"))
      .orderBy($"lang")
  }

  private def q19SimhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // maxHamming=3 with maxHamming+1 chunk blocking — full recall by
    // pigeonhole (round 1 used maxHamming=16 over 4 chunks: silent misses)
    graft.pipeline.Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
      .select($"id_a", $"id_b", $"hamming".cast("long").as("hamming"))
      .orderBy($"id_a", $"id_b")
  }

  private def q20EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // top-20 most-similar pairs (the data has no pairs above 0.52, so a
    // fixed threshold would be empty; top-k is deterministic and oracle-able)
    graft.pipeline.Dedup.embeddingPairs(t(s, dir, "embeddings"), "vec_id", "embedding", -1.0)
      .orderBy($"cos".desc, $"id_a".asc, $"id_b".asc)
      .limit(20)
      .select($"id_a", $"id_b", round($"cos", 4).as("cos_sim"))
  }

  private def q21AnnLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val query = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).toArray
    graft.pipeline.Ann.lshTopK(emb.filter($"vec_id" =!= 0), "vec_id", "embedding", query, 10)
      .select($"vec_id", round($"cos", 4).as("cos_sim"))
  }

  private def q35AnnIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // IVF-flat ANN (the second scale path besides q21's LSH): deterministic
    // coarse centroids (id % 50 == 1), nProbe=4 — the DuckDB oracle rebuilds
    // the identical inverted index and probe set from scratch
    val emb = t(s, dir, "embeddings")
    val query = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).toArray
    graft.pipeline.Ann.ivfTopK(emb.filter($"vec_id" =!= 0), "vec_id", "embedding",
        query, k = 10, centroidEvery = 50, centroidResidue = 1, nProbe = 4)
      .select($"vec_id", round($"cos", 4).as("cos_sim"))
  }

  private def q63PqAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // PRODUCT-QUANTIZATION ANN (the third scale path): vectors compress to
    // 8 sub-space code indices, the query ranks by ADC lookup-table sums —
    // no float vectors touched at query time, codes index 64-384× smaller
    // than the corpus. Deterministic codebook (16 smallest ids ≡ 2 mod 5
    // per sub-space) so DuckDB rebuilds codebook + codes + ranking from
    // scratch; output carries the integer codes, no FP in the compare.
    val emb = t(s, dir, "embeddings")
    val query = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).toArray
    graft.pipeline.Pq.pqTopK(emb.filter($"vec_id" =!= 0), "vec_id", "embedding",
        query, k = 10, m = 8, kCodes = 16, every = 5, residue = 2)
      .select($"vec_id", $"codes")
  }

  private def q23LshNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the 100-TB near-dup path: LSH-banded blocking (linear work) + exact
    // cosine verify; the DuckDB oracle replicates the ±1 plane matrix, so
    // the gate checks the full bucketing + verify pipeline cross-engine.
    graft.pipeline.Dedup.embeddingPairsLsh(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, planes = 8, bands = 4)
      .select($"id_a", $"id_b", round($"cos", 4).as("cos_sim"))
      .orderBy($"id_a", $"id_b")
  }

  private def q22Multimodal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // REAL decode: PNG/JPEG via ImageIO, WAV via javax.sound, animated-GIF
    // video via ImageIO's frame-sequence reader — a row counts as
    // decode_ok only when the codec recovered the dimensions / sample rate
    // / frame count the synthesizer actually encoded
    val media = graft.pipeline.Multimodal.synthesize(s, 300)
    val decoded = graft.pipeline.Multimodal.decode(media)
    val ok = $"decode_ok" &&
      ($"kind" =!= "image" || ($"decoded_width" === $"meta.width" &&
                               $"decoded_height" === $"meta.height")) &&
      ($"kind" =!= "audio" || ($"decoded_rate" === $"meta.sample_rate" &&
                               $"decoded_frames" === $"meta.n_frames")) &&
      ($"kind" =!= "video" || ($"decoded_width" === $"meta.width" &&
                               $"decoded_frames" === $"meta.n_frames"))
    decoded.groupBy($"kind")
      .agg(count(lit(1)).as("n_media"),
           sum(when(ok, 1L).otherwise(0L)).as("n_decode_ok"),
           sum($"decoded_frames").as("total_frames"))
      .orderBy($"kind")
  }

  private def q30MediaAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // real image features (luma histogram of DECODED pixels) through the
    // LSH-bucketed ANN path; the query vector is computed by the same pure
    // codec kernel on the driver — no data collect()
    val media = graft.pipeline.Multimodal.synthesize(s, 300)
    val imgs = graft.pipeline.Multimodal.features(
      media.filter($"kind" === "image"), dim = 8)
    val qid = (0 until 300).find(i =>
      graft.pipeline.MediaCodec.synthRow(i.toLong, 42).kind == "image").get
    val qRow = graft.pipeline.MediaCodec.synthRow(qid.toLong, 42)
    val q = graft.pipeline.MediaCodec.features(qRow.blob, "image", 8)
    graft.pipeline.Ann.lshTopK(imgs, "media_id", "feat", q, k = 10,
        planes = 8, probeRadius = 3)
      .select($"media_id", round($"cos", 4).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"media_id") // rounded sort: oracle-replicable
  }

  // ----------------------------------------------------------------------
  // Lakehouse maintenance as driver-gated queries: a deterministic
  // mini-pipeline (append -> MERGE INTO -> compact -> Z-order cluster ->
  // manifest rewrite -> snapshot expire) derived from the documents table,
  // with DuckDB recomputing the expected post-maintenance row set.
  // ----------------------------------------------------------------------

  // the pipeline output is a pure function of the sf dir, so q24 and q25
  // share one built table per (session, dir) instead of re-running the six
  // maintenance phases twice per Verify/Bench pass
  private val lakeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), graft.lake.GraftTable]()

  private def lakeTableFor(s: SparkSession, dir: String, tag: String): graft.lake.GraftTable =
    lakeCache.computeIfAbsent((s, dir), _ => buildLakeTable(s, dir, tag))

  private def buildLakeTable(s: SparkSession, dir: String, tag: String): graft.lake.GraftTable = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    def shaped(df: DataFrame, v2: Boolean) = df.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang",
      (if (v2) concat(lit("v2 "), $"text") else $"text").as("content"))
    val base = shaped(docs.filter($"doc_id" % 3 =!= 0), v2 = false)
    val source = shaped(docs.filter($"doc_id" % 5 === 0), v2 = true)
    val loc = java.nio.file.Files.createTempDirectory(s"graft-$tag").toString
    val table = new graft.lake.GraftTable(s, loc)
    table.append(base.repartition(8))
    graft.lake.Maintenance.mergeInto(table, tag, source)
    graft.lake.Maintenance.compact(table, tag, smallBytes = Long.MaxValue, targetBytes = 4L << 20)
    graft.lake.Maintenance.cluster(table, tag)
    table.rewriteManifests()
    table.expireSnapshots(System.currentTimeMillis() + 1000)
    table
  }

  /** IXML parse distributed over a corpus: grammar compiled once (foldable
    * literal), every row's text parsed on the executors with the Earley
    * engine; the exact xmq output of every successful parse (and the
    * failure detection for the corrupted rows) is cross-checked by DuckDB
    * rebuilding the expected strings in SQL. SURVEY.md §2.7. */
  private val ixmlPairGrammar =
    "pair = key, -\":\", value.\nkey = ~[\":\"]+.\nvalue = [\"0\"-\"9\"]+.\n"

  private def q27IxmlParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.expr.XmqFunctions._
    t(s, dir, "documents")
      // deterministic malformed subset: doc_id % 10 == 7 gets a trailing '!'
      .withColumn("inp",
        concat($"source", lit(":"), $"n_chars".cast("string"),
          when($"doc_id" % 10 === 7, lit("!")).otherwise(lit(""))))
      .withColumn("parsed", ixml_parse(lit(ixmlPairGrammar), $"inp"))
      .select($"doc_id",
        when($"parsed".startsWith("ixml(ixml:state = failed"), 0L).otherwise(1L).as("ok"),
        when($"parsed".startsWith("ixml(ixml:state = failed"), lit(null: String))
          .otherwise($"parsed").as("parsed"))
      .orderBy($"doc_id")
  }

  /** Error-recovering iXML parse over a dirty corpus: doc_id%10==7 rows get
    * junk injected inside the numeric value (recovery skips exactly one
    * codepoint), doc_id%10==3 rows lose the ':'+digits entirely
    * (unrecoverable for this grammar — skipping can never conjure the
    * required ':'), the rest are clean. A 100-TB dirty-text pipeline wants
    * this partial-parse column instead of q27's all-or-nothing failure doc. */
  private def q31IxmlRecover(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.expr.XmqFunctions._
    val digits = $"n_chars".cast("string")
    t(s, dir, "documents")
      .withColumn("inp",
        when($"doc_id" % 10 === 3, $"source")
          .when($"doc_id" % 10 === 7,
            concat($"source", lit(":"), substring(digits, 1, 1), lit("!"),
              expr("substring(cast(n_chars as string), 2)")))
          .otherwise(concat($"source", lit(":"), digits)))
      .withColumn("r", ixml_parse_recover(lit(ixmlPairGrammar), $"inp"))
      .select($"doc_id",
        when($"r.recovered", 1L).otherwise(0L).as("recovered"),
        $"r.skipped".cast("long").as("skipped"),
        $"r.parsed".as("parsed"))
      .orderBy($"doc_id")
  }

  /** XSLT as a distributed column operator: per-row XML built from the
    * documents table, transformed by a compiled-once stylesheet (method=
    * text extraction); DuckDB rebuilds the expected extraction per row. */
  private val q28Stylesheet =
    """<xsl:stylesheet version="1.0" xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      |<xsl:output method="text"/>
      |<xsl:template match="/doc"><xsl:value-of select="id"/>-<xsl:value-of select="src"/></xsl:template>
      |</xsl:stylesheet>""".stripMargin

  private def q28XsltExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.expr.XmqFunctions._
    t(s, dir, "documents")
      .withColumn("xml",
        concat(lit("<doc><id>"), $"doc_id".cast("string"), lit("</id><src>"),
               $"source", lit("</src></doc>")))
      .select($"doc_id",
        xslt_transform($"xml", lit("xml"), lit(q28Stylesheet), lit("text")).as("extracted"))
      .orderBy($"doc_id")
  }

  /** XSD validation as a distributed predicate: rows with doc_id % 7 == 3
    * get a non-integer id (type violation); DuckDB recomputes the verdict. */
  private val q29Schema =
    """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      |<xs:element name="doc"><xs:complexType><xs:sequence>
      |<xs:element name="id" type="xs:integer"/>
      |<xs:element name="src" type="xs:string"/>
      |</xs:sequence></xs:complexType></xs:element>
      |</xs:schema>""".stripMargin

  private def q29XsdValidate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.expr.XmqFunctions._
    t(s, dir, "documents")
      .withColumn("xml",
        concat(lit("<doc><id>"), $"doc_id".cast("string"),
               when($"doc_id" % 7 === 3, lit("x")).otherwise(lit("")),
               lit("</id><src>"), $"source", lit("</src></doc>")))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(xsd_valid($"xml", lit("xml"), lit(q29Schema)), 1L).otherwise(0L)).as("n_valid"))
      .orderBy($"lang")
  }

  private def q24MergeRowset(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lakeTableFor(s, dir, "q24").scan()
      .select($"repo", $"path", $"commit", $"lang", sha2($"content", 256).as("content_sha"))
      .orderBy($"repo", $"path")
  }

  private def q37Dsv2Scan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the DataSourceV2 connector itself under the gate: read the maintained
    // lake table through spark.read.format("graft") with a pushed repo
    // filter (distributed manifest pruning + footer-driven projection),
    // DuckDB recomputing the expected row set relationally
    val table = lakeTableFor(s, dir, "q37")
    s.read.format("graft").load(table.location)
      .filter($"repo" === "repo_7")
      .select($"repo", $"path", $"commit", $"lang", sha2($"content", 256).as("content_sha"))
      .orderBy($"path")
  }

  private def q45AggPushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ZERO-SCAN aggregates through the public connector: COUNT(*)/MIN/MAX
    // answered entirely from the manifest stats (Σ record_count, exact
    // untruncated per-file bounds, exact langs sets) — no data file opened.
    // The query REQUIRES the pushdown to have actually planned (the oracle
    // row is only green if the zero-scan path produced the numbers DuckDB
    // re-derives from the raw rows).
    val table = lakeTableFor(s, dir, "q45")
    val df = s.read.format("graft").load(table.location)
      .agg(count(lit(1)).as("n_rows"),
           min($"repo").as("mn_repo"), max($"repo").as("mx_repo"),
           min($"path").as("mn_path"), max($"path").as("mx_path"),
           min($"lang").as("mn_lang"), max($"lang").as("mx_lang"))
    val plan = df.queryExecution.executedPlan.toString
    require(plan.contains("PushedAggregates=[COUNT(*)"),
      s"aggregate pushdown did not plan:\n$plan")
    df
  }

  private val limitCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), graft.lake.GraftTable]()

  /** LIMIT pushdown through the public connector: a `LIMIT k` over a
    * many-file table plans only the fewest files whose committed
    * record_counts cover k and caps every partition reader at k rows —
    * at 100 TB the difference between opening one small file and scanning
    * the table. The query REQUIRES the pushdown to have planned AND to have
    * truncated the file list; the returned row is deterministic (count +
    * containment proof) even though which k rows arrive is not. */
  private def q78LimitPushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = limitCache.computeIfAbsent((s, dir), _ => {
      val docs = t(s, dir, "documents")
      val shaped = docs.select(
        concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
        concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
        lit("c0").as("commit"), $"lang", $"text".as("content"))
      val loc = java.nio.file.Files.createTempDirectory("graft-q78").toString
      val tb = new graft.lake.GraftTable(s, loc)
      tb.append(shaped.repartition(8)) // 8 files: truncation has work to do
      tb
    })
    def read() = s.read.format("graft").load(table.location)
      .select($"repo", $"path", $"commit", sha2($"content", 256).as("sha"))
    val limited = read().limit(37)
    limited.count() // execute once so the scan's planning stats are recorded
    val desc = limited.queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString
    require(desc.contains("PushedLimit=37"), s"limit pushdown did not plan:\n$desc")
    val files = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
      .getOrElse(sys.error(s"no pruning ratio in scan description:\n$desc"))
    require(files.group(1).toInt < files.group(2).toInt,
      s"pushed limit did not truncate planning (files=${files.matched}):\n$desc")
    // whichever 37 rows the scan chose: count is exact, none may leak from
    // outside the table (anti-join containment), total cross-checks DuckDB
    limited.agg(count(lit(1)).as("limited_rows"))
      .crossJoin(read().agg(count(lit(1)).as("total_rows")))
      .crossJoin(limited.join(read(), Seq("repo", "path", "commit", "sha"),
        "left_anti").agg(count(lit(1)).as("leaked")))
  }

  private val topnCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), graft.lake.GraftTable]()

  /** TopN pushdown through the public connector: `ORDER BY repo LIMIT 25`
    * over a bucket-SORTED table caps every reader at its bucket's first 25
    * rows (a sorted file's prefix IS its local top-k) — the global sort
    * then merges k rows per bucket instead of the whole table. The query
    * REQUIRES the capped plan; the oracle checks the deterministic
    * projection (the repo multiset of the top 25, ties included). */
  private def q79TopnPushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = topnCache.computeIfAbsent((s, dir), _ => {
      val docs = t(s, dir, "documents")
      val shaped = docs.select(
        concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
        concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
        lit("c0").as("commit"), $"lang", $"text".as("content"))
      val loc = java.nio.file.Files.createTempDirectory("graft-q79").toString
      val tb = new graft.lake.GraftTable(s, loc)
      tb.append(shaped.repartition(4))
      graft.lake.Maintenance.bucketize(tb, 8, "repo")
      tb
    })
    val topk = s.read.format("graft").load(table.location)
      .orderBy($"repo").limit(25)
    topk.count() // execute once so the scan's planning state is recorded
    val desc = topk.queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString
    require(desc.contains("PushedTopN=repo ASC LIMIT 25 (capped)"),
      s"TopN pushdown did not plan capped:\n$desc")
    topk.select($"repo").orderBy($"repo")
  }

  private val incrCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (graft.lake.GraftTable, Long)]()

  /** append-only table shared by q46/q47: base append → (checkpoint v1) →
    * delta append → compaction. Three snapshots, two of them row-adding. */
  private def incrTableFor(s: SparkSession, dir: String): (graft.lake.GraftTable, Long) =
    incrCache.computeIfAbsent((s, dir), _ => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      def shaped(df: DataFrame, v2: Boolean) = df.select(
        concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
        concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
        lit("c0").as("commit"), $"lang",
        (if (v2) concat(lit("v2 "), $"text") else $"text").as("content"))
      val loc = java.nio.file.Files.createTempDirectory("graft-q46").toString
      val tbl = new graft.lake.GraftTable(s, loc)
      tbl.append(shaped(docs.filter($"doc_id" % 3 =!= 0), v2 = false).repartition(8))
      val v1 = tbl.currentVersion
      tbl.append(shaped(docs.filter($"doc_id" % 5 === 0), v2 = true).repartition(4))
      graft.lake.Maintenance.compact(tbl, "q46",
        smallBytes = Long.MaxValue, targetBytes = 4L << 20)
      (tbl, v1)
    })

  private def q47StreamLake(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the lake table AS A STREAM, under the gate: snapshot versions are the
    // offsets, maxVersionsPerBatch=1 forces one microbatch per snapshot
    // (append, append, compaction — the last contributes zero rows), the
    // parquet sink accumulates the appends-only changelog from v0. Rows
    // appended twice (a doc in both the base and the delta) appear twice —
    // the log semantics — and DuckDB rebuilds the same multiset with a
    // UNION ALL.
    val (table, _) = incrTableFor(s, dir)
    val out = java.nio.file.Files.createTempDirectory("graft-q47-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q47-ck").toString
    val q = s.readStream.format("graft")
      .option("maxVersionsPerBatch", 1).load(table.location)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = new java.io.File(s"$ckpt/offsets").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    require(batches >= 3, s"expected one microbatch per snapshot, saw $batches")
    s.read.schema(graft.lake.GraftTable.dataSchema).parquet(out)
      .select($"repo", $"path", $"lang", sha2($"content", 256).as("content_sha"))
      .orderBy($"path", $"content_sha")
  }

  private def q48StreamSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // LAKE-TO-LAKE streaming, both halves through the public connector: the
    // source turns the q46 table's snapshots into microbatches, the SINK
    // commits each epoch into a brand-new graft table (task-side parquet
    // writes + one stats pass + an epoch-marked snapshot — exactly-once).
    // The destination's full scan must rebuild the same appends-only
    // multiset the q47 parquet sink accumulated, which DuckDB re-derives
    // with a UNION ALL. The destination is a REAL table: the scan goes
    // through manifest planning, so a drifted stat or digest surfaces here.
    val (table, _) = incrTableFor(s, dir)
    val dst = java.nio.file.Files.createTempDirectory("graft-q48-dst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q48-ck").toString
    val q = s.readStream.format("graft")
      .option("maxVersionsPerBatch", 1).load(table.location)
      .writeStream.format("graft").option("path", dst)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dstTable = new graft.lake.GraftTable(s, dst)
    val eps = dstTable.listSnapshots().count(_.operation.startsWith("stream-append"))
    require(eps >= 3, s"expected one epoch commit per snapshot, saw $eps")
    s.read.format("graft").load(dst)
      .select($"repo", $"path", $"lang", sha2($"content", 256).as("content_sha"))
      .orderBy($"path", $"content_sha")
  }

  private def q46IncrementalScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the APPEND-ONLY CHANGELOG through the public connector: a downstream
    // pipeline reads only what arrived since its checkpoint snapshot instead
    // of rescanning the table. Base append → checkpoint v1 → delta append →
    // compaction (rowset-preserving, must contribute NOTHING) → incremental
    // read of (v1, current] returns exactly the delta rows, which DuckDB
    // re-derives from the source table.
    val (table, fromV) = incrTableFor(s, dir)
    val df = s.read.format("graft").option("fromSnapshot", fromV)
      .load(table.location)
      .select($"repo", $"path", $"commit", $"lang", sha2($"content", 256).as("content_sha"))
      .orderBy($"path")
    require(df.queryExecution.executedPlan.toString.contains("incrementalFrom=v"),
      "incremental planning did not engage")
    df
  }

  private def q38TypedGet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.expr.XmqFunctions.xmq_typed_get
    // CoreTypes reachable FROM DOCUMENTS (VERDICT r4 #6): deterministic XML
    // is synthesized per documents row with typed fields planted inside it;
    // xmq_typed_get must parse the document, recover each field by xpath,
    // and produce the verdict + ANSI-safe typed cast. DuckDB re-derives the
    // planted values arithmetically and applies the identical lexical rules
    // — a raw/ok/value mismatch catches parse, xpath, validation or cast
    // drift per row.
    val d = t(s, dir, "documents").select($"doc_id",
        ($"doc_id" * 37 - 40000).cast("string").as("v_int"),
        when($"doc_id" % 3 === 0, lit("true")).when($"doc_id" % 3 === 1, lit("false"))
          .otherwise(lit("True")).as("v_bool"),
        concat(($"n_chars" % 1000).cast("string"), lit(".5e"),
          ($"doc_id" % 40).cast("string")).as("v_float"),
        concat(lit("user"), $"doc_id".cast("string"), lit("@example"),
          when($"doc_id" % 4 === 0, lit(".com")).otherwise(lit("_com"))).as("v_email"),
        concat(($"doc_id" % 300).cast("string"), lit("."),
          ($"n_chars" % 300).cast("string"), lit(".7.1")).as("v_ip"))
      .withColumn("xml", concat(lit("<doc><n>"), $"v_int", lit("</n><b>"), $"v_bool",
        lit("</b><f>"), $"v_float", lit("</f><m>"), $"v_email",
        lit("</m><ip>"), $"v_ip", lit("</ip></doc>")))
    d.select($"doc_id",
        xmq_typed_get($"xml", lit("xml"), lit("/doc/n"), "i32").as("g_i32"),
        xmq_typed_get($"xml", lit("xml"), lit("/doc/n"), "i8").as("g_i8"),
        xmq_typed_get($"xml", lit("xml"), lit("/doc/b"), "bool").as("g_bool"),
        xmq_typed_get($"xml", lit("xml"), lit("/doc/f"), "f32").as("g_f32"),
        xmq_typed_get($"xml", lit("xml"), lit("/doc/f"), "f64").as("g_f64"),
        xmq_typed_get($"xml", lit("xml"), lit("/doc/m"), "email").as("g_email"),
        xmq_typed_get($"xml", lit("xml"), lit("/doc/ip"), "ipv4_address").as("g_ip"),
        xmq_typed_get($"xml", lit("xml"), lit("/doc/missing"), "i64").as("g_miss"))
      .select($"doc_id",
        $"g_i32.raw".as("raw_i32"), $"g_i32.ok".as("ok_i32"),
        $"g_i32.value".cast("long").as("val_i32"),
        $"g_i8.ok".as("ok_i8"), $"g_i8.value".cast("long").as("val_i8"),
        $"g_bool.ok".as("ok_bool"), $"g_bool.value".as("val_bool"),
        $"g_f32.ok".as("ok_f32"),
        $"g_f64.ok".as("ok_f64"), $"g_f64.value".as("val_f64"),
        $"g_email.raw".as("raw_email"), $"g_email.ok".as("ok_email"),
        $"g_ip.raw".as("raw_ip"), $"g_ip.ok".as("ok_ip"),
        $"g_miss.raw".as("raw_miss"), $"g_miss.ok".as("ok_miss"),
        $"g_miss.value".cast("long").as("val_miss"))
      .orderBy($"doc_id")
  }

  private def q39SqlDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // SQL `DELETE FROM` through the catalog plugin under the oracle gate:
    // build a fresh lake table from documents, delete two repos' slices via
    // one SQL statement (repo_3 whole → the metadata-only tier can fire;
    // repo_7 partial on path → copy-on-write rewrite), then read the
    // survivors back through the same SQL surface. DuckDB recomputes the
    // expected post-delete row set relationally.
    val docs = t(s, dir, "documents")
    val rows = docs.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q39-wh").toString
    val table = new graft.lake.GraftTable(s, s"$wh/ns/t")
    // range partitioning on repo keeps most files repo-pure, so the DELETE
    // exercises the metadata-drop tier, not only the CoW tier
    table.append(rows.repartitionByRange(10, $"repo"))
    // unique catalog name per invocation: Spark caches catalog instances by
    // name, and each run points at a fresh warehouse
    val cat = "g39_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"DELETE FROM $cat.ns.t WHERE repo = 'repo_3' OR (repo = 'repo_7' AND path < 'f/5')")
    s.sql(s"SELECT repo, path, lang, sha2(content, 256) AS content_sha FROM $cat.ns.t")
      .orderBy($"repo", $"path")
  }

  private def q55Update(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.sources.{EqualTo, LessThan}
    // row-level UPDATE under the oracle gate: build a fresh lake table from
    // documents (range-partitioned on repo so stats pruning has pure files
    // to exclude), update one repo's early paths — version-stamp the commit
    // column and prefix the content — then read the table back. DuckDB
    // recomputes the post-update rows with the same CASE expression.
    val docs = t(s, dir, "documents")
    val rows = docs.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q55-wh").toString
    val table = new graft.lake.GraftTable(s, s"$wh/t")
    table.append(rows.repartitionByRange(10, $"repo"))
    val res = graft.lake.Update.updateWhere(table,
      Array(EqualTo("repo", "repo_4"), LessThan("path", "f/5")),
      Map("commit" -> lit("c1"),
          "content" -> concat(lit("upd "), $"content")))
    assert(res.prunedFiles > 0, "stats pruning must exclude other repos' files")
    assert(res.updatedRows > 0)
    table.scan()
      .select($"repo", $"path", $"commit", $"lang", sha2($"content", 256).as("content_sha"))
      .orderBy($"repo", $"path")
  }

  private def q71SqlMorDml(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // SQL DML through the DELTA row-level path under the oracle gate: with
    // dml-mode = merge-on-read (set via CALL), plain SQL UPDATE / DELETE /
    // MERGE plan as Spark WriteDelta — the scan serves (_file, _pos) row
    // ids, deletes land as position-delete address shards, inserts as data
    // files, ONE snapshot per statement, no target file rewritten. Three
    // stacked statements with no materialization in between; DuckDB
    // recomputes the final state with CASE/anti-join/UNION.
    val docs = t(s, dir, "documents")
    val rows = docs.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q71").toString
    val cat = "g71_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val table = new graft.lake.GraftTable(s, s"$wh/ns/t")
    table.append(rows.repartitionByRange(10, $"repo"))
    val v1 = table.currentVersion
    s.sql(s"CALL $cat.system.set_dml_mode(`table` => 'ns.t', mode => 'merge-on-read')")

    s.sql(s"UPDATE $cat.ns.t SET lang = 'upd' WHERE repo = 'repo_5'")
    s.sql(s"DELETE FROM $cat.ns.t WHERE repo = 'repo_8' AND path < 'f/5'")
    rows.filter($"repo" === "repo_3" && $"path" < "f/3")
      .withColumn("content", concat(lit("merged "), $"content"))
      .withColumn("z", lit(0L))
      .createOrReplaceTempView("q71_src")
    s.sql(
      s"""MERGE INTO $cat.ns.t t USING q71_src s
         |ON t.repo = s.repo AND t.path = s.path AND t.commit = s.commit
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin)

    // three statements = exactly three snapshots, none rewriting a file
    // (the translatable DELETE routes through the positional-delete fast
    // path — metadata-only; untranslatable predicates go through the
    // delta plan as sql-mor-delete, covered by SqlMorDmlSpec)
    assert(table.currentVersion == v1 + 3, "one snapshot per SQL statement")
    val ops = table.listSnapshots().map(_.operation).toSet
    assert(Set("sql-mor-update", "mor-posdelete", "sql-mor-merge").subsetOf(ops))
    s.sql(s"SELECT repo, path, commit, lang, sha2(content, 256) AS content_sha " +
        s"FROM $cat.ns.t ORDER BY repo, path")
  }

  private def q70MorUpdate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.sources.EqualTo
    // MERGE-ON-READ row changes under the oracle gate: an UPDATE rewrites
    // NO target file (old addresses position-deleted + new rows appended in
    // ONE snapshot), then a MoR MERGE takes matched keys' source values and
    // inserts the new keys — each also one snapshot. The connector read
    // (per-task address probe) answers; DuckDB recomputes the final state
    // relationally with CASE/UNION over the same doc_id derivations.
    val docs = t(s, dir, "documents")
    val rows = docs.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q70-wh").toString
    val table = new graft.lake.GraftTable(s, s"$wh/t")
    table.append(rows.repartitionByRange(10, $"repo"))
    val v1 = table.currentVersion

    val upd = graft.lake.MorUpdate.updateWhereMor(table,
      Array[org.apache.spark.sql.sources.Filter](EqualTo("repo", "repo_4")),
      Map("lang" -> lit("upd")))
    assert(upd.updatedRows > 0, "the MoR update must match rows")
    assert(table.currentVersion == v1 + 1, "one snapshot per MoR update")

    val source = rows.filter($"repo" === "repo_1" && $"path" < "f/5")
      .withColumn("content", concat(lit("merged "), $"content"))
      .unionByName(rows.filter($"repo" === "repo_9" && $"path" < "f/3")
        .withColumn("path", concat(lit("new/"), $"path")))
    val mrg = graft.lake.MorUpdate.mergeIntoMor(table, source)
    assert(mrg.updated > 0 && mrg.inserted > 0, "merge must update and insert")
    assert(table.currentVersion == v1 + 2, "one snapshot per MoR merge")
    // no pre-existing data file was rewritten by either row change
    assert(table.currentSnapshot.exists(table.hasPosDeletes))

    s.read.format("graft").load(table.location)
      .select($"repo", $"path", $"commit", $"lang",
        sha2($"content", 256).as("content_sha"))
      .orderBy($"repo", $"path")
  }

  private def q69PosDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.sources.{And, EqualTo, LessThan, Or}
    // POSITIONAL merge-on-read delete under the oracle gate: the same
    // lifecycle as q58 but through (file, row-ordinal) address shards — no
    // data file rewritten, no sequence rule (a re-inserted slice survives
    // because addresses bind to physical files), the DSv2 per-task
    // position-filtering reader answers the read, the change-data-feed
    // recovers the FULL deleted rows from their addresses, and applyDeletes
    // must leave the row set byte-identical (order-independent digest).
    val docs = t(s, dir, "documents")
    val rows = docs.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q69-wh").toString
    val table = new graft.lake.GraftTable(s, s"$wh/t")
    table.append(rows.repartitionByRange(10, $"repo"))
    val v1 = table.currentVersion

    val matched = graft.lake.MorDelete.deleteWherePositional(table,
      Array[org.apache.spark.sql.sources.Filter](Or(EqualTo("repo", "repo_2"),
        And(EqualTo("repo", "repo_6"), LessThan("path", "f/5")))))
    assert(matched > 0, "the positional delete must match rows")
    assert(table.currentSnapshot.exists(table.hasPosDeletes))

    // the CDF recovers full rows (values, not just keys) from the addresses
    val cdfDels = table.changelogScan(v1)
      .filter($"_change_type" === "delete")
    assert(cdfDels.filter($"content".isNull).count() == 0,
      "positional CDF rows must carry the retracted values")
    assert(cdfDels.count() == matched)

    // re-insert a deleted slice: NEW physical files, immune by construction
    table.append(rows.filter($"repo" === "repo_2" && $"path" < "f/2")
      .withColumn("commit", lit("c1"))
      .withColumn("content", concat(lit("reborn "), $"content")))

    val result = s.read.format("graft").load(table.location)
      .select($"repo", $"path", $"commit", $"lang",
        sha2($"content", 256).as("content_sha"))
      .orderBy($"repo", $"path", $"commit")

    def digest(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        expr("bit_xor(xxhash64(repo, path, commit, lang, content_sha))"),
        count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    val before = digest(result)
    graft.lake.MorDelete.applyDeletes(table)
    assert(!table.hasPendingDeletes)
    val after = digest(table.scan()
      .select($"repo", $"path", $"commit", $"lang", sha2($"content", 256).as("content_sha")))
    assert(before == after, s"applyDeletes changed the row set: $before vs $after")
    s.read.format("graft").load(table.location)
      .select($"repo", $"path", $"commit", $"lang",
        sha2($"content", 256).as("content_sha"))
      .orderBy($"repo", $"path", $"commit")
  }

  private def q58MorDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.sources.{And, EqualTo, LessThan, Or}
    // MERGE-ON-READ delete under the oracle gate: build a fresh lake table
    // from documents, retract two repos' slices as a key-only eqdel commit
    // (no data file rewritten), re-insert a slice of the deleted keys (the
    // sequence rule must keep them alive), and read the table back through
    // the DSv2 connector — the per-task equality-delete filtering reader is
    // what answers the oracle. Afterwards applyDeletes materializes and the
    // result is asserted BYTE-IDENTICAL via an order-independent digest.
    val docs = t(s, dir, "documents")
    val rows = docs.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q58-wh").toString
    val table = new graft.lake.GraftTable(s, s"$wh/t")
    table.append(rows.repartitionByRange(10, $"repo"))

    val matched = graft.lake.MorDelete.deleteWhere(table,
      Array[org.apache.spark.sql.sources.Filter](Or(EqualTo("repo", "repo_3"),
        And(EqualTo("repo", "repo_7"), LessThan("path", "f/5")))))
    assert(matched > 0, "the MoR delete must match rows")
    assert(table.currentSnapshot.exists(table.hasEqDeletes))

    // re-insert a deleted slice with NEW content at a higher add seq
    table.append(rows.filter($"repo" === "repo_3" && $"path" < "f/2")
      .withColumn("commit", lit("c1"))
      .withColumn("content", concat(lit("reborn "), $"content")))

    val result = s.read.format("graft").load(table.location)
      .select($"repo", $"path", $"commit", $"lang",
        sha2($"content", 256).as("content_sha"))
      .orderBy($"repo", $"path", $"commit")

    // materialization must not change the row set: order-independent digest
    def digest(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        expr("bit_xor(xxhash64(repo, path, commit, lang, content_sha))"),
        count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    val before = digest(result)
    graft.lake.MorDelete.applyDeletes(table)
    assert(!table.hasPendingDeletes)
    val after = digest(table.scan()
      .select($"repo", $"path", $"commit", $"lang", sha2($"content", 256).as("content_sha")))
    assert(before == after, s"applyDeletes changed the row set: $before vs $after")
    // the returned plan re-reads the table POST-materialization (same rows,
    // now through the columnar path — both reader paths end up under the gate)
    s.read.format("graft").load(table.location)
      .select($"repo", $"path", $"commit", $"lang",
        sha2($"content", 256).as("content_sha"))
      .orderBy($"repo", $"path", $"commit")
  }

  private def q59Changelog(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.sources.{And, EqualTo, LessThan}
    // CHANGE-DATA-FEED under the oracle gate: two appends, a merge-on-read
    // delete, then a compaction (which auto-materializes the delete — two
    // rowset-preserving commits the changelog must SKIP). changelogScan
    // returns insert rows per append version and key-only delete rows from
    // the eqdel shard; DuckDB re-derives all three slices relationally.
    val docs = t(s, dir, "documents")
    val rows = docs.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q59-wh").toString
    val table = new graft.lake.GraftTable(s, s"$wh/t")
    table.append(rows.filter($"repo" < "repo_5").repartitionByRange(5, $"repo")) // v1
    table.append(rows.filter($"repo" >= "repo_5").repartitionByRange(5, $"repo")) // v2
    graft.lake.MorDelete.deleteWhere(table,
      Array[org.apache.spark.sql.sources.Filter](
        And(EqualTo("repo", "repo_2"), LessThan("path", "f/5")))) // v3
    graft.lake.Maintenance.compact(table, "q59", smallBytes = Long.MaxValue) // v4+v5 skipped
    assert(table.currentVersion >= 5, "compact must have materialized + compacted")
    table.changelogScan(0L)
      .select($"_commit_version".as("v"), $"_change_type".as("change"),
        $"repo", $"path", $"commit", $"lang",
        sha2($"content", 256).as("content_sha"))
      .orderBy($"v", $"change", $"repo", $"path")
  }

  private def q60Spj(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // STORAGE-PARTITIONED JOIN under the oracle gate: two lake tables are
    // bucket-clustered on repo (Maintenance.bucketize), then joined on repo
    // through the SQL catalog — the scan reports KeyGroupedPartitioning over
    // bucket(8, repo) and the join runs with ZERO exchanges (pinned below:
    // no shuffle, no broadcast). At 100 TB this is the difference between
    // re-shuffling the fact table on every join and reading co-located
    // buckets in place. DuckDB recomputes the join + aggregate relationally.
    val docs = t(s, dir, "documents")
    val rowsA = docs.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val rowsB = docs.filter($"doc_id" % 3 === 0).select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("g/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c1").as("commit"), $"lang", concat(lit("dim "), $"text").as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q60-wh").toString
    val ta = new graft.lake.GraftTable(s, s"$wh/ns/a")
    val tb = new graft.lake.GraftTable(s, s"$wh/ns/b")
    ta.append(rowsA)
    tb.append(rowsB)
    graft.lake.Maintenance.bucketize(ta, 8)
    graft.lake.Maintenance.bucketize(tb, 8)
    val cat = "g60_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // the scan plans OCCUPIED buckets only; pushPartValues lets Spark align
    // the two sides' partition-value sets (filling gaps with empty tasks)
    // instead of falling back to a shuffle when the sets differ
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    // plan pin: the raw join (MERGE hint keeps the small side from
    // broadcasting) must contain no Exchange of any kind. SPJ is a STATIC
    // planning decision (KeyGroupedPartitioning is recognized before any
    // adaptive re-optimization), so the pin asserts on the planned physical
    // tree without executing a probe join — the old `probe.count()` paid a
    // full extra join execution for the same evidence
    val probe = s.sql(
      s"""SELECT /*+ MERGE(b) */ a.repo FROM $cat.ns.a a
         |JOIN $cat.ns.b b ON a.repo = b.repo""".stripMargin)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"storage-partitioned join did not plan a sort-merge join:\n$plan")
    assert(!plan.contains("Exchange"),
      s"storage-partitioned join must not shuffle or broadcast:\n$plan")
    s.sql(
      s"""SELECT /*+ MERGE(b) */ a.repo, count(*) AS pairs,
         |  cast(sum(cast(length(a.content) AS bigint) * length(b.content)) AS bigint) AS chk
         |FROM $cat.ns.a a JOIN $cat.ns.b b ON a.repo = b.repo
         |GROUP BY a.repo ORDER BY a.repo""".stripMargin)
  }

  private def q61SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // SCHEMA EVOLUTION under the oracle gate: base rows append → ADD COLUMN
    // stars (metadata-only commit, zero data IO) → typed rows append → a
    // full compaction rewrite (CoW must carry the evolved column through
    // every rewritten file). Pre-evolution rows must read stars as NULL,
    // post-evolution rows as doc_id % 7 — DuckDB recomputes the final
    // evolved row set relationally.
    val docs = t(s, dir, "documents")
    val base = docs.filter($"doc_id" % 3 =!= 0).select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val evolved = docs.filter($"doc_id" % 3 === 0).select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"),
      ($"doc_id" % 7).cast("int").as("stars"))
    val loc = java.nio.file.Files.createTempDirectory("graft-q61").toString
    val table = new graft.lake.GraftTable(s, loc)
    table.append(base.repartition(4))
    table.evolveSchema("stars INT")
    table.append(evolved.repartition(2))
    // the CoW pass: every surviving file is rewritten post-evolution
    graft.lake.Maintenance.compact(table, "q61",
      smallBytes = Long.MaxValue, targetBytes = 8L << 20)
    // read back through the PUBLIC connector (columnar path, evolved schema)
    s.read.format("graft").load(table.location)
      .select($"repo", $"path", $"lang", $"stars",
        sha2($"content", 256).as("content_sha"))
      .orderBy($"repo", $"path")
  }

  private def q62BloomLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // BLOOM-SIDECAR POINT LOOKUP under the oracle gate: commits are
    // hash-distributed, so min/max stats prune NOTHING for
    // `WHERE commit = <sha>` — every file's range covers every key. The
    // BloomIndex sidecar (one filter per data file, built in one
    // distributed pass) turns the lookup into "open ~1 file of 16":
    // definite negatives never open, appends after the build can never be
    // wrongly pruned. The pruning is pinned in-query from the plan's
    // files=kept/total ratio; DuckDB replays the lookup key relationally.
    val docs = t(s, dir, "documents")
    val rows = docs.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      sha2($"doc_id".cast("string"), 256).as("commit"),
      $"lang", $"text".as("content"))
    val loc = java.nio.file.Files.createTempDirectory("graft-q62").toString
    val table = new graft.lake.GraftTable(s, loc)
    table.append(rows.repartition(16))
    graft.lake.BloomIndex.build(table, "commit")

    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest("7".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val q = s.read.format("graft").load(table.location)
      .filter($"commit" === key)
      .select($"repo", $"path", $"lang", sha2($"content", 256).as("content_sha"))
      .orderBy($"path")
    // plan pin: the sidecar must have pruned the 16-file table to ≤3 opens
    val desc = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    require(m.exists(g => g.group(2).toInt == 16 && g.group(1).toInt <= 3),
      s"bloom pruning did not plan:\n$desc")
    q
  }

  private def q64SqlMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // SQL MERGE INTO under the oracle gate: the same base/source rowsets as
    // q24's library merge, but driven entirely through Spark's row-level
    // operation framework (group-based copy-on-write ReplaceData) — the
    // runtime group filter narrows the rewrite to files holding matched
    // keys, the write replaces exactly the scanned group. DuckDB recomputes
    // the merged row set relationally (the identical CTE q24 uses).
    val docs = t(s, dir, "documents")
    def shaped(df: DataFrame, v2: Boolean) = df.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang",
      (if (v2) concat(lit("v2 "), $"text") else $"text").as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q64").toString
    val table = new graft.lake.GraftTable(s, s"$wh/ns/t")
    table.append(shaped(docs.filter($"doc_id" % 3 =!= 0), v2 = false).repartition(8))
    val cat = "g64_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    shaped(docs.filter($"doc_id" % 5 === 0), v2 = true)
      .createOrReplaceTempView("q64_src")
    s.sql(
      s"""MERGE INTO $cat.ns.t t USING q64_src s
         |ON t.repo = s.repo AND t.path = s.path AND t.commit = s.commit
         |WHEN MATCHED THEN UPDATE SET t.content = s.content, t.lang = s.lang
         |WHEN NOT MATCHED THEN INSERT (repo, path, commit, lang, content)
         |  VALUES (s.repo, s.path, s.commit, s.lang, s.content)""".stripMargin)
    s.read.format("graft").load(table.location)
      .select($"repo", $"path", $"commit", $"lang",
        sha2($"content", 256).as("content_sha"))
      .orderBy($"repo", $"path")
  }

  private def q65SqlProcedures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the whole maintenance lifecycle driven through SQL CALL procedures
    // (the orchestrator surface): tag the first append, append more, then
    // compact + cluster + rewrite_manifests + expire via CALL — the tag
    // must keep its snapshot alive through the expiry, and the current
    // rowset must survive every rewrite byte-exactly. DuckDB recomputes
    // both row sets relationally.
    val docs = t(s, dir, "documents")
    def shaped(df: DataFrame) = df.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q65").toString
    val table = new graft.lake.GraftTable(s, s"$wh/ns/t")
    table.append(shaped(docs.filter($"doc_id" % 2 === 0)).repartition(6))
    val v1 = table.currentVersion
    val cat = "g65_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CALL $cat.system.set_tag(`table` => 'ns.t', tag => 'raw', version => $v1)")
    table.append(shaped(docs.filter($"doc_id" % 2 =!= 0)).repartition(6))
    s.sql(s"CALL $cat.system.compact(`table` => 'ns.t', small_mb => 8, target_mb => 64)")
    s.sql(s"CALL $cat.system.cluster(`table` => 'ns.t', hilbert => false)")
    s.sql(s"CALL $cat.system.rewrite_manifests(`table` => 'ns.t')")
    // expire everything old — the tagged v1 must survive
    s.sql(s"CALL $cat.system.expire_snapshots(`table` => 'ns.t', older_than_ms => ${Long.MaxValue - 1})")
    def shas(df: DataFrame, src: String) = df.select(
      lit(src).as("src"), $"repo", $"path", $"commit", $"lang",
      sha2($"content", 256).as("content_sha"))
    shas(s.sql(s"SELECT * FROM $cat.ns.t"), "current")
      .unionAll(shas(s.sql(s"SELECT * FROM $cat.ns.t VERSION AS OF 'raw'"), "tagged"))
      .orderBy($"src", $"repo", $"path")
  }

  private def q66MetadataTables(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // metadata tables under the oracle gate: two deterministic appends, then
    // the SNAPSHOTS history and the live FILES manifest read back through
    // the SQL suffix tables (`t.snapshots` / `t.files`). Per-snapshot
    // record/file counts must reconcile with the source row counts and the
    // fixed write partitioning, and the manifest's min/max column stats must
    // bound the actual data. DuckDB recomputes the history relationally from
    // the same split.
    val docs = t(s, dir, "documents")
    def shaped(df: DataFrame) = df.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q66").toString
    val table = new graft.lake.GraftTable(s, s"$wh/ns/t")
    table.append(shaped(docs.filter($"doc_id" % 10 < 7)).repartition(4))
    table.append(shaped(docs.filter($"doc_id" % 10 >= 7)).repartition(2))
    val cat = "g66_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val snaps = s.sql(
      s"""SELECT version, operation, record_count, file_count, is_current
         |FROM $cat.ns.t.snapshots""".stripMargin)
    val files = s.sql(
      s"""SELECT count(*) AS live_files, sum(record_count) AS live_rows,
         |  min(min_repo) AS lo_repo, max(max_repo) AS hi_repo
         |FROM $cat.ns.t.files""".stripMargin)
    snaps.crossJoin(files).orderBy($"version")
  }

  private def q67Branches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // branch lifecycle under the oracle gate: main holds split A; a branch
    // forks (CALL create_branch), stages split B through the CONNECTOR
    // (.option("branch")) plus a whole compaction on its isolated line, and
    // main must not see any of it until CALL fast_forward publishes
    // atomically. Output = (phase, lang, n_rows, sum_len) for the branch
    // view pre-publish, the main view pre-publish (read AFTER the branch
    // work — the isolation evidence), and the main view post-publish.
    // DuckDB recomputes all three phases from the same doc_id split.
    val docs = t(s, dir, "documents")
    def shaped(df: DataFrame) = df.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q67").toString
    val table = new graft.lake.GraftTable(s, s"$wh/ns/t")
    table.append(shaped(docs.filter($"doc_id" % 10 < 7)).repartition(4))
    val cat = "g67_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CALL $cat.system.create_branch(`table` => 'ns.t', branch => 'audit', version => -1)")
    shaped(docs.filter($"doc_id" % 10 >= 7)).repartition(2)
      .write.format("graft").option("branch", "audit")
      .mode("append").save(table.location)
    graft.lake.Maintenance.compact(table.forBranch("audit"), "q67",
      smallBytes = Long.MaxValue, targetBytes = 64L << 20)
    def counts(df: DataFrame, phase: String) =
      df.groupBy($"lang").agg(count(lit(1)).as("n_rows"),
        sum(length($"content")).as("sum_len"))
        .select(lit(phase).as("phase"), $"lang", $"n_rows", $"sum_len")
    // the pre-publish views must MATERIALIZE before the publish (a lazy
    // plan would re-resolve main's head after the fast-forward and see the
    // published rows — that's the isolation being tested, not a detail)
    val branchPre = counts(s.sql(s"SELECT * FROM $cat.ns.t VERSION AS OF 'audit'"), "branch_pre")
      .localCheckpoint(true)
    val mainPre = counts(s.sql(s"SELECT * FROM $cat.ns.t"), "main_pre")
      .localCheckpoint(true)
    s.sql(s"CALL $cat.system.fast_forward(`table` => 'ns.t', branch => 'audit')")
    val mainPost = counts(s.sql(s"SELECT * FROM $cat.ns.t"), "main_post")
    branchPre.unionAll(mainPre).unionAll(mainPost).orderBy($"phase", $"lang")
  }

  private def q76CherryPick(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the rollback+cherry-pick lifecycle under the oracle gate: three
    // appends land (base, bad, good), rollback erases everything after
    // base, cherry-pick re-applies ONLY the good append's delta onto the
    // restored head — metadata-only, no data file rewritten. Output = the
    // per-lang view after the rollback (base alone) and after the pick
    // (base + good, bad still gone), plus the snapshot operation string.
    // DuckDB recomputes both phases from the same doc_id split.
    val docs = t(s, dir, "documents")
    def shaped(df: DataFrame) = df.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q76").toString
    val table = new graft.lake.GraftTable(s, s"$wh/t")
    table.append(shaped(docs.filter($"doc_id" % 5 <= 2)).repartition(4)) // v1 base
    table.append(shaped(docs.filter($"doc_id" % 5 === 3)).repartition(2)) // v2 bad
    table.append(shaped(docs.filter($"doc_id" % 5 === 4)).repartition(2)) // v3 good
    table.rollback(1L)                                                    // v4
    val cp = table.cherryPick(3L)                                         // v5
    def counts(df: DataFrame, phase: String) =
      df.groupBy($"lang").agg(count(lit(1)).as("n_rows"),
        sum(length($"content")).as("sum_len"))
        .select(lit(phase).as("phase"), $"lang", $"n_rows", $"sum_len")
    val postRollback = counts(
      s.read.format("graft").option("snapshot", 4L).load(table.location),
      "post_rollback")
    val postPick = counts(table.scan(), "post_pick")
    postRollback.unionAll(postPick)
      .withColumn("op", lit(cp.operation))
      .orderBy($"phase", $"lang")
  }

  private def q77CdcUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // CDC upsert-mode ingestion under the oracle gate: three epochs with
    // overlapping keys land through the foreachBatch upsert sink (equality
    // delete on live-matched keys + append, ONE merge-on-read snapshot per
    // epoch, no file rewritten), epoch 1 is deliberately replayed (the
    // sink-recovery case) and must not double-apply. The final table holds
    // the LATEST version per key; DuckDB recomputes the winner per doc_id
    // from the same splits.
    val docs = t(s, dir, "documents")
    def shaped(df: DataFrame, prefix: String) = df.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang",
      concat(lit(prefix), $"text").as("content"))
    val loc = java.nio.file.Files.createTempDirectory("graft-q77").toString + "/t"
    val sink = graft.lake.MorUpdate.upsertSink(loc, "q77")
    sink(shaped(docs.filter($"doc_id" % 2 === 0), ""), 0L)
    sink(shaped(docs.filter($"doc_id" % 3 === 0), "v2 "), 1L)
    sink(shaped(docs.filter($"doc_id" % 3 === 0), "v2 "), 1L) // replayed epoch
    sink(shaped(docs.filter($"doc_id" % 5 === 0), "v3 "), 2L)
    val table = new graft.lake.GraftTable(s, loc)
    table.scan()
      .select($"repo", $"path", $"lang", sha2($"content", 256).as("content_sha"))
      .orderBy($"path")
  }

  private def q68OccCommits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // optimistic concurrency under the oracle gate: four UNCOORDINATED
    // writers (each its own table handle, as separate processes would be)
    // race disjoint doc_id slices into one table through the edge-claim
    // protocol. Every append must land exactly once on ONE linear chain —
    // the output carries the final per-lang row counts plus the chain-shape
    // evidence (append count, distinct parents — pairwise distinct because
    // at most one commit ever extends a given parent — and forks off the
    // main ancestry, provably zero). DuckDB recomputes it all relationally;
    // the row counts catch lost updates, the constants catch forks.
    val docs = t(s, dir, "documents")
    def shaped(df: DataFrame) = df.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q68").toString
    val table = new graft.lake.GraftTable(s, s"$wh/t")
    val slices = (0 until 4).map(i =>
      shaped(docs.filter($"doc_id" % 4 === i)).repartition(2))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val start = new java.util.concurrent.CountDownLatch(1)
    val fs = slices.map { sl =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          start.await()
          new graft.lake.GraftTable(s, table.location).append(sl); ()
        }
      })
    }
    start.countDown()
    fs.foreach(_.get(600, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val appends = table.listSnapshots().filter(_.operation == "append")
    val chain = table.ancestorsOf(table.currentVersion)
    val meta = Seq((appends.size.toLong,
      appends.map(_.parent).distinct.size.toLong,
      appends.count(a => !chain(a.version)).toLong,
      table.currentSnapshot.map(_.recordCount).getOrElse(0L)))
      .toDF("n_appends", "distinct_parents", "forks", "committed_rows")
    table.scan().groupBy($"lang")
      .agg(count(lit(1)).as("n_rows"), sum(length($"content")).as("sum_len"))
      .crossJoin(meta)
      .orderBy($"lang")
  }

  private def q72RewriteRebase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // validated rebase under the oracle gate: a compaction planned against
    // snapshot S commits AFTER an interleaved append WITHOUT re-planning —
    // GraftTable.commitRewrite, the Iceberg-RewriteFiles stance. Four doc_id
    // slices are appended, a full re-pack of their files is planned against
    // that head, a fifth slice lands mid-rewrite, and the rebased compaction
    // commits on top of it. The final table must reassemble `documents`
    // exactly (rebase lost nothing, duplicated nothing); the constants prove
    // the rebase really happened: rebase_gap = compaction.parent −
    // basis.version = 1 (it committed one snapshot PAST its planning basis),
    // n_appends = 5 on one linear chain.
    val docs = t(s, dir, "documents")
    def shaped(df: DataFrame) = df.select(
      concat(lit("repo_"), ($"doc_id" % 10).cast("string")).as("repo"),
      concat(lit("f/"), $"doc_id".cast("string"), lit(".txt")).as("path"),
      lit("c0").as("commit"), $"lang", $"text".as("content"))
    val wh = java.nio.file.Files.createTempDirectory("graft-q72").toString
    val table = new graft.lake.GraftTable(s, s"$wh/t")
    (0 until 4).foreach { i =>
      table.append(shaped(docs.filter($"doc_id" % 5 === i)).repartition(2))
    }
    val basis = table.currentSnapshot
    val paths = table.manifest(basis.get).select("file_path").as[String].collect().toSeq
    val packed = table.readFiles(paths)
      .repartitionByRange(2, col("z")).sortWithinPartitions("z")
    val added = table.writeDataFiles(packed, "compact")
    // the interleaved ingest: lands between the rewrite's plan and commit
    table.append(shaped(docs.filter($"doc_id" % 5 === 4)).repartition(2))
    val snap = table.commitRewrite(basis, added, paths.toSet, "compact",
      removedRecords = basis.get.recordCount)
    val chain = table.ancestorsOf(table.currentVersion)
    val meta = Seq((
      table.listSnapshots().count(s0 => s0.operation == "append" && chain(s0.version)).toLong,
      snap.parent - basis.get.version,
      table.currentSnapshot.map(_.recordCount).getOrElse(0L)))
      .toDF("n_appends", "rebase_gap", "committed_rows")
    table.scan().groupBy($"lang")
      .agg(count(lit(1)).as("n_rows"), sum(length($"content")).as("sum_len"))
      .crossJoin(meta)
      .orderBy($"lang")
  }

  private def q56ShardExport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.TextFunctions.mix64
    // deterministic training-order export: a seeded global shuffle
    // (order = splitmix64(doc_id xor seed)) assigns every document a shard
    // and a position inside that shard. Shard = hash mod nshards (each
    // shard an independent partition at write time); pos = rank within the
    // shard — the window partitions BY SHARD, so no global sort and every
    // shard sorts in parallel. DuckDB replays the identical hash.
    val seed = 42L
    val nshards = 8
    val h = mix64($"doc_id".cast("long").bitwiseXOR(lit(seed)))
    val withShard = t(s, dir, "documents")
      .select($"doc_id", $"lang", h.as("h"), pmod(h, lit(nshards.toLong)).as("shard"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"h", $"doc_id")
    withShard
      .select($"doc_id", $"lang", $"shard",
        (row_number().over(w) - 1).cast("long").as("pos"))
      .orderBy($"shard", $"pos")
  }

  private def q57Mixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // weighted source mixture (epoch weighting): src0 repeated 2.5x, src1
    // 1x, src2 quarter-sampled, everything else half-sampled. Fractions are
    // exact binary doubles and the Bernoulli draw is the top 53 bits of the
    // shared splitmix64, so DuckDB reproduces the selection bit-exactly.
    graft.pipeline.Curation.mixture(t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25),
        defaultWeight = 0.5, seed = 42L)
      .orderBy($"doc_id", $"copy")
  }

  private def q25PostMaintenanceScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = lakeTableFor(s, dir, "q25")
    // manifest-stat pruning on the repo-hash bounds, then the row predicate
    val rh = s.range(1).select(xxhash64(lit("repo_3"))).head().getLong(0)
    val (df, total, kept) = table.prunedScan(col("min_rh") <= rh && col("max_rh") >= rh)
    assert(kept <= total)
    df.filter($"repo" === "repo_3")
      .select($"repo", $"path", $"commit", $"lang", sha2($"content", 256).as("content_sha"))
      .orderBy($"path")
  }

  /** the expected post-merge row set, recomputed by DuckDB from documents. */
  private def duckMergedCte: String =
    """WITH base AS (SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
      |   'f/' || doc_id::VARCHAR || '.txt' AS path, 'c0' AS "commit", lang, text AS content
      | FROM documents WHERE doc_id % 3 <> 0),
      |src AS (SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
      |   'f/' || doc_id::VARCHAR || '.txt' AS path, 'c0' AS "commit", lang, 'v2 ' || text AS content
      | FROM documents WHERE doc_id % 5 = 0),
      |merged AS (
      | SELECT * FROM src
      | UNION ALL
      | SELECT b.* FROM base b ANTI JOIN src s
      |   ON b.repo = s.repo AND b.path = s.path AND b."commit" = s."commit")""".stripMargin

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"           -> (q1Agg(_, _)),
    "q2_join_agg"      -> (q2JoinAgg(_, _)),
    "q3_topk"          -> (q3TopK(_, _)),
    "q4_window"        -> (q4Window(_, _)),
    "q5_semijoin"      -> (q5SemiJoin(_, _)),
    "q6_filter_agg"    -> (q6Filter(_, _)),
    "q7_events_agg"    -> (q7EventsAgg(_, _)),
    "q8_events_hourly" -> (q8EventsHourly(_, _)),
    "q9_xmq_roundtrip"  -> (q9XmqRoundtrip(_, _)),
    "q10_xmq_tokenize"  -> (q10XmqTokenize(_, _)),
    "q11_xmq_convert"   -> (q11XmqConvert(_, _)),
    "q12_xmq_detect"    -> (q12XmqDetect(_, _)),
    "q13_dedup_exact"   -> (q13DedupExact(_, _)),
    "q14_token_stats"   -> (q14TokenStats(_, _)),
    "q15_quality_by_lang" -> (q15QualityByLang(_, _)),
    "q16_text_analysis" -> (q16TextAnalysis(_, _)),
    "q17_ann_topk"      -> (q17AnnTopK(_, _)),
    "q18_minhash_pairs" -> (q18MinhashPairs(_, _)),
    "q19_simhash_pairs" -> (q19SimhashPairs(_, _)),
    "q20_embedding_neardup" -> (q20EmbeddingNearDup(_, _)),
    "q21_ann_lsh"       -> (q21AnnLsh(_, _)),
    "q22_multimodal"    -> (q22Multimodal(_, _)),
    "q23_lsh_neardup"   -> (q23LshNearDup(_, _)),
    "q24_merge_rowset"  -> (q24MergeRowset(_, _)),
    "q26_xmq_getters"   -> (q26XmqGetters(_, _)),
    "q25_post_maintenance_scan" -> (q25PostMaintenanceScan(_, _)),
    "q27_ixml_parse"    -> (q27IxmlParse(_, _)),
    "q28_xslt_extract"  -> (q28XsltExtract(_, _)),
    "q29_xsd_validate"  -> (q29XsdValidate(_, _)),
    "q30_media_ann"     -> (q30MediaAnn(_, _)),
    "q31_ixml_recover"  -> (q31IxmlRecover(_, _)),
    "q32_neardup_groups" -> (q32NearDupGroups(_, _)),
    "q73_canonical_keep" -> (q73CanonicalKeep(_, _)),
    "q33_stream_window"  -> (q33StreamWindow(_, _)),
    "q34_core_types"     -> (q34CoreTypes(_, _)),
    "q35_ann_ivf"        -> (q35AnnIvf(_, _)),
    "q36_sessionize"     -> (q36Sessionize(_, _)),
    "q37_dsv2_scan"      -> (q37Dsv2Scan(_, _)),
    "q38_typed_get"      -> (q38TypedGet(_, _)),
    "q39_sql_delete"     -> (q39SqlDelete(_, _)),
    "q40_stream_dedup"   -> (q40StreamDedup(_, _)),
    "q41_corpus_sample"  -> (q41CorpusSample(_, _)),
    "q42_pack_sequences" -> (q42PackSequences(_, _)),
    "q43_ngram_jaccard"  -> (q43NgramJaccard(_, _)),
    "q44_neardup_star"   -> (q44NearDupStar(_, _)),
    "q45_agg_pushdown"   -> (q45AggPushdown(_, _)),
    "q46_incremental"    -> (q46IncrementalScan(_, _)),
    "q47_stream_lake"    -> (q47StreamLake(_, _)),
    "q48_stream_sink"    -> (q48StreamSink(_, _)),
    "q49_decontaminate"  -> (q49Decontaminate(_, _)),
    "q50_dup_ratio"      -> (q50DupRatio(_, _)),
    "q51_pii_scrub"      -> (q51PiiScrub(_, _)),
    "q52_repetition"     -> (q52Repetition(_, _)),
    "q53_chunk_dedup"    -> (q53ChunkDedup(_, _)),
    "q54_incremental_dedup" -> (q54IncrementalDedup(_, _)),
    "q55_update"         -> (q55Update(_, _)),
    "q56_shard_export"   -> (q56ShardExport(_, _)),
    "q57_mixture"        -> (q57Mixture(_, _)),
    "q58_mor_delete"     -> (q58MorDelete(_, _)),
    "q59_changelog"      -> (q59Changelog(_, _)),
    "q60_spj"            -> (q60Spj(_, _)),
    "q61_schema_evolution" -> (q61SchemaEvolution(_, _)),
    "q62_bloom_lookup"   -> (q62BloomLookup(_, _)),
    "q63_pq_ann"         -> (q63PqAnn(_, _)),
    "q64_sql_merge"      -> (q64SqlMerge(_, _)),
    "q65_sql_procedures" -> (q65SqlProcedures(_, _)),
    "q66_metadata_tables" -> (q66MetadataTables(_, _)),
    "q67_branches"       -> (q67Branches(_, _)),
    "q68_occ_commits"    -> (q68OccCommits(_, _)),
    "q72_rewrite_rebase" -> (q72RewriteRebase(_, _)),
    "q69_pos_delete"     -> (q69PosDelete(_, _)),
    "q70_mor_update"     -> (q70MorUpdate(_, _)),
    "q71_sql_mor_dml"    -> (q71SqlMorDml(_, _)),
    "q74_ndv_sketch"     -> (q74NdvSketch(_, _)),
    "q75_quantile_filter" -> (q75QuantileFilter(_, _)),
    "q76_cherrypick"     -> (q76CherryPick(_, _)),
    "q77_cdc_upsert"     -> (q77CdcUpsert(_, _)),
    "q78_limit_pushdown" -> (q78LimitPushdown(_, _)),
    "q79_topn_pushdown"  -> (q79TopnPushdown(_, _)),
    "q80_norm_dedup"     -> (q80NormDedup(_, _)),
    "q81_semantic_dedup" -> (q81SemanticDedup(_, _)),
    "q82_stream_join"    -> (q82StreamJoin(_, _)),
    "q83_stream_enrich"  -> (q83StreamEnrich(_, _)),
    "q84_asof_join"      -> (q84AsofJoin(_, _)),
    "q85_url_dedup"      -> (q85UrlDedup(_, _)),
    "q86_domain_stats"   -> (q86DomainStats(_, _)),
    "q87_line_filter"    -> (q87LineFilter(_, _)),
    "q88_heavy_hitters"  -> (q88HeavyHitters(_, _)),
    "q89_length_quantiles" -> (q89LengthQuantiles(_, _)),
    "q90_weighted_sample" -> (q90WeightedSample(_, _)),
    "q91_salient_terms"  -> (q91SalientTerms(_, _)),
    "q92_lm_coverage"    -> (q92LmCoverage(_, _)),
  )

  /** shared q85/q86 oracle prelude: re-synthesize the six messy-URL variant
    * classes from doc_id (verbatim replay of [[syntheticUrl]]) and re-derive
    * the canonical form by the same six rules as
    * [[graft.pipeline.Web.canonicalUrl]] — lower, strip #fragment, strip
    * default :443/:80, strip leading www., drop tracking (utm_ prefix,
    * fbclid, gclid, ref=) and empty query params (order-preserving), strip
    * trailing slash. */
  private val UrlSynthAndCanonSql: String =
    """WITH u AS (SELECT doc_id,
      |  CASE WHEN doc_id % 6 = 1 THEN 'HTTPS://' ELSE 'https://' END ||
      |  CASE WHEN doc_id % 6 IN (0,3) THEN 'www.' ELSE '' END ||
      |  CASE WHEN doc_id % 6 = 1 THEN upper(source || '.example.com')
      |       ELSE source || '.example.com' END ||
      |  CASE WHEN doc_id % 6 = 3 THEN ':443' ELSE '' END ||
      |  CASE WHEN doc_id % 6 = 1
      |       THEN upper('/page/' || (doc_id % 37)::VARCHAR) || '/'
      |       ELSE '/page/' || (doc_id % 37)::VARCHAR END ||
      |  CASE doc_id % 6 WHEN 2 THEN '?utm_source=feed' WHEN 3 THEN '#frag'
      |    WHEN 4 THEN '?a=1&utm_campaign=x' WHEN 5 THEN '?a=1'
      |    ELSE '' END AS url
      |  FROM documents),
      |s AS (SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    lower(url), '#.*$', ''),
      |    '^(https://[^/?#:]*):443($|[/?#])', '\1\2'),
      |    '^(http://[^/?#:]*):80($|[/?#])', '\1\2'),
      |    '^(https?://)www\.', '\1') AS u
      |  FROM u),
      |p AS (SELECT doc_id,
      |  regexp_replace(string_split(u, '?')[1], '/$', '') AS pre,
      |  CASE WHEN len(string_split(u, '?')) > 1 THEN string_split(u, '?')[2]
      |       ELSE '' END AS q
      |  FROM s),
      |k AS (SELECT doc_id, pre,
      |  array_to_string(list_filter(string_split(q, '&'),
      |    p2 -> len(p2) > 0
      |      AND NOT regexp_matches(p2, '^(utm_|fbclid|gclid|ref=)')),
      |    '&') AS kept
      |  FROM p),
      |canon AS (SELECT doc_id,
      |  CASE WHEN len(kept) > 0 THEN pre || '?' || kept ELSE pre END
      |    AS canonical_url FROM k)
      |""".stripMargin

  // ---- generated DuckDB SQL fragments for the LSH oracles: the ±1 plane
  // matrix (TextOps.planeSign) is emitted as SQL literals so DuckDB
  // recomputes the identical buckets independently. ----

  private def duckPlane(band: Int, p: Int, dim: Int = 64, seed: Long = 0L): String =
    (0 until dim).map(d =>
        if (graft.pipeline.TextOps.planeSign(seed, band, p, d) < 0) "-1" else "1")
      .mkString("[", ",", "]") + "::DOUBLE[]"

  private def duckBucket(e: String, planes: Int, band: Int): String =
    (0 until planes).map(p =>
      s"(CASE WHEN list_dot_product($e, ${duckPlane(band, p)}) >= 0 THEN ${1L << p} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** squared euclidean distance of sub-space `s` between two DOUBLE[] list
    * expressions, 8 explicit left-associated terms (1-based list indexing)
    * — the identical ascending-dimension FP accumulation PqEncodeExpr runs. */
  private def duckSqd(a: String, b: String, s: Int, sub: Int = 8): String =
    (0 until sub).map { d =>
      val i = s * sub + d + 1
      s"($a[$i]-$b[$i])*($a[$i]-$b[$i])"
    }.mkString("(", " + ", ")")

  /** the full q63 oracle: DuckDB rebuilds the deterministic PQ codebook,
    * encodes every vector (argmin per sub-space, ties to the smaller code),
    * and ranks by ADC using the reconstruction identity with per-sub-space
    * parenthesized groups (bit-identical accumulation to the engine). */
  private lazy val duckPqSql: String = {
    val m = 8
    val encCase = "CASE ss.s " +
      (0 until m).map(s => s"WHEN $s THEN ${duckSqd("v.e", "cb.ce", s)}").mkString(" ") +
      " END"
    val jCols = (0 until m).map(s => s"max(CASE WHEN s=$s THEN j END) AS j$s").mkString(",\n   ")
    val cbJoins = (0 until m).map(s => s"JOIN cb cb$s ON cb$s.j = pc.j$s").mkString(" ")
    // reconstruction concatenates each chosen code's OWN sub-space slice
    // (1-based inclusive list_slice), not the full source vectors
    val reconcat = (0 until m)
      .map(s => s"list_slice(cb$s.ce, ${s * 8 + 1}, ${(s + 1) * 8})").mkString(" || ")
    val adc = (0 until m).map(s => duckSqd("q.qe", "re.r", s)).mkString(" + ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id <> 0),
       |q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
       |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding::DOUBLE[] AS ce
       |       FROM (SELECT vec_id, embedding FROM embeddings
       |             WHERE vec_id <> 0 AND vec_id % 5 = 2 ORDER BY vec_id LIMIT 16)),
       |enc AS (SELECT vec_id, s, j FROM (
       |  SELECT v.vec_id, ss.s, cb.j,
       |    row_number() OVER (PARTITION BY v.vec_id, ss.s
       |      ORDER BY $encCase ASC, cb.j ASC) AS rn
       |  FROM v, (SELECT unnest(range($m)) AS s) ss, cb) WHERE rn = 1),
       |pc AS (SELECT vec_id, string_agg(j::VARCHAR, ',' ORDER BY s) AS codes,
       |   $jCols
       |   FROM enc GROUP BY vec_id),
       |re AS (SELECT pc.vec_id, pc.codes, $reconcat AS r
       |   FROM pc $cbJoins)
       |SELECT re.vec_id, re.codes
       |FROM re, q
       |ORDER BY $adc ASC, re.vec_id ASC
       |LIMIT 10""".stripMargin
  }

  // ---- DuckDB fragments replicating the text feature hashes (TextOps):
  // sha60 = first 15 hex chars of sha256 (always-positive 60-bit BIGINT),
  // splitmix64 finalizer via HUGEINT modular arithmetic (DuckDB BIGINT
  // arithmetic is overflow-checked, so 64-bit wraparound needs % 2^64). ----

  private val duckWords =
    """list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"""
  private def duckSha60(s: String): String =
    s"('0x' || substr(sha256($s), 1, 15))::BIGINT"

  /** the 60 per-bit majority-vote terms of TextOps.simHash, as one SQL sum. */
  private def duckSimhashBits: String =
    (0 until graft.pipeline.TextOps.SimHashBits).map(b =>
      s"(CASE WHEN sum(CASE WHEN (wh >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString("(", "\n + ", ")")

  /** (z * c) mod 2^64 in SQL: a full 64x64 product can overflow INT128, so
    * split z into 32-bit halves — every intermediate stays under 2^97. */
  private def duckMulMod(c: String): String = {
    val M = "18446744073709551616::HUGEINT" // 2^64
    s"""((((z & 4294967295)::HUGEINT * $c::HUGEINT) % $M
       |  + (((z >> 32)::HUGEINT * $c::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT)
       | % $M)::UBIGINT""".stripMargin
  }

  /** splitmix64 (TextOps.mix) fully inlined over an input expression — for
    * use inside SQL lambdas where CTE staging isn't available. The xor/shift
    * stages double the text per level (~32 copies of the input), which is
    * fine when the input is a short column/lambda reference. */
  private def duckMixInline(x: String): String = {
    val M = "18446744073709551616::HUGEINT"
    def xorShift(e: String, s: Int) = s"xor($e, ($e) >> $s)"
    def mulMod(e: String, c: String) =
      s"((((($e) & 4294967295)::HUGEINT * $c::HUGEINT) % $M + " +
        s"(((($e) >> 32)::HUGEINT * $c::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % $M)::UBIGINT"
    val m2 = s"((($x)::HUGEINT + 11400714819323198485::HUGEINT) % $M)::UBIGINT"
    val m3 = xorShift(m2, 30)
    val m4 = mulMod(m3, "13787848793156543929")
    val m5 = xorShift(m4, 27)
    val m6 = mulMod(m5, "10723151780598845931")
    xorShift(m6, 31)
  }

  /** splitmix64 finalizer (TextOps.mix) as chained CTEs over column z. */
  private def duckMixCtes: String = {
    val M = "18446744073709551616::HUGEINT" // 2^64
    s"""m2 AS (SELECT doc_id, i, ((z::HUGEINT + 11400714819323198485::HUGEINT) % $M)::UBIGINT AS z FROM m1),
       |m3 AS (SELECT doc_id, i, xor(z, z >> 30) AS z FROM m2),
       |m4 AS (SELECT doc_id, i, ${duckMulMod("13787848793156543929")} AS z FROM m3),
       |m5 AS (SELECT doc_id, i, xor(z, z >> 27) AS z FROM m4),
       |m6 AS (SELECT doc_id, i, ${duckMulMod("10723151780598845931")} AS z FROM m5),
       |m7 AS (SELECT doc_id, i, xor(z, z >> 31) AS z FROM m6)""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_join_agg" ->
      """SELECT n_name, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q3_topk" ->
      """SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
        | count(*) AS n_orders
        |FROM orders GROUP BY 1
        |ORDER BY spend DESC, o_custkey ASC LIMIT 10""".stripMargin,
    "q4_window" ->
      """SELECT o_custkey, o_orderkey AS last_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS last_orderdate
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q5_semijoin" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6_filter_agg" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        | count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01'
        |  AND l_shipdate <  TIMESTAMP '1995-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q7_events_agg" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users,
        | round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q8_events_hourly" ->
      """SELECT strftime(ts, '%Y-%m-%d %H') AS hour,
        | count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_dedup_exact" ->
      """SELECT sha256(text) AS text_hash, min(doc_id) AS keep_id,
        | count(*) AS dup_count
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "q14_token_stats" ->
      """SELECT doc_id, length(text) AS n_chars_actual,
        | length(text) - length(replace(text, ' ', '')) + 1 AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q15_quality_by_lang" ->
      """SELECT lang, count(*) AS n_docs,
        | round(avg(length(text)), 4) AS avg_chars,
        | round(avg(length(text) - length(replace(text, ' ', '')) + 1), 4) AS avg_words,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q17_ann_topk" ->
      """SELECT vec_id,
        | round(list_cosine_similarity(embedding::DOUBLE[], q.qe), 4) AS cos_sim
        |FROM embeddings, (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0) q
        |WHERE vec_id <> 0
        |ORDER BY list_cosine_similarity(embedding::DOUBLE[], q.qe) DESC, vec_id ASC
        |LIMIT 10""".stripMargin,
    "q20_embedding_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
        |         id_a ASC, id_b ASC
        |LIMIT 20""".stripMargin,
    "q24_merge_rowset" ->
      s"""$duckMergedCte
         |SELECT repo, path, "commit", lang, sha256(content) AS content_sha
         |FROM merged ORDER BY repo, path""".stripMargin,
    "q25_post_maintenance_scan" ->
      s"""$duckMergedCte
         |SELECT repo, path, "commit", lang, sha256(content) AS content_sha
         |FROM merged WHERE repo = 'repo_3' ORDER BY path""".stripMargin,
    "q37_dsv2_scan" ->
      s"""$duckMergedCte
         |SELECT repo, path, "commit", lang, sha256(content) AS content_sha
         |FROM merged WHERE repo = 'repo_7' ORDER BY path""".stripMargin,
    // the post-DELETE survivor set, recomputed relationally: NOT the SQL
    // statement q39 ran — the same predicate applied to the source rows
    "q39_sql_delete" ->
      """SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |  'f/' || doc_id::VARCHAR || '.txt' AS path, lang,
        |  sha256(text) AS content_sha
        |FROM documents
        |WHERE NOT ((doc_id % 10) = 3
        |  OR ((doc_id % 10) = 7 AND 'f/' || doc_id::VARCHAR || '.txt' < 'f/5'))
        |ORDER BY repo, path""".stripMargin,
    // post-MoR-delete row set, recomputed relationally: survivors of the
    // delete predicate at commit c0 plus the re-inserted slice at c1 (the
    // sequence rule keeps re-inserts alive through the older delete)
    // q71: the final state after three stacked SQL MoR statements —
    // repo_5's lang flipped, repo_8's early slice deleted, repo_3's early
    // slice content replaced by the merge
    "q71_sql_mor_dml" ->
      """WITH base AS (
        |  SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |    'f/' || doc_id::VARCHAR || '.txt' AS path, lang, text
        |  FROM documents)
        |SELECT repo, path, 'c0' AS "commit",
        |  CASE WHEN repo = 'repo_5' THEN 'upd' ELSE lang END AS lang,
        |  CASE WHEN repo = 'repo_3' AND path < 'f/3'
        |       THEN sha256('merged ' || text) ELSE sha256(text) END AS content_sha
        |FROM base
        |WHERE NOT (repo = 'repo_8' AND path < 'f/5')
        |ORDER BY repo, path""".stripMargin,
    // q70: the final state after the MoR UPDATE (repo_4's lang flipped) and
    // the MoR MERGE (repo_1's early slice takes the merged content, repo_9's
    // early slice re-inserted under new/ paths)
    "q70_mor_update" ->
      """WITH base AS (
        |  SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |    'f/' || doc_id::VARCHAR || '.txt' AS path, lang, text
        |  FROM documents)
        |SELECT repo, path, 'c0' AS "commit",
        |  CASE WHEN repo = 'repo_4' THEN 'upd' ELSE lang END AS lang,
        |  CASE WHEN repo = 'repo_1' AND path < 'f/5'
        |       THEN sha256('merged ' || text) ELSE sha256(text) END AS content_sha
        |FROM base
        |UNION ALL
        |SELECT repo, 'new/' || path, 'c0', lang, sha256(text)
        |FROM base WHERE repo = 'repo_9' AND path < 'f/3'
        |ORDER BY repo, path""".stripMargin,
    // q69: the positional-delete lifecycle's final row set — the deleted
    // slices gone, the re-inserted c1 slice alive (addresses bind to
    // physical files, so the re-insert needs no sequence rule)
    "q69_pos_delete" ->
      """WITH base AS (
        |  SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |    'f/' || doc_id::VARCHAR || '.txt' AS path, lang, text
        |  FROM documents)
        |SELECT repo, path, 'c0' AS "commit", lang, sha256(text) AS content_sha
        |FROM base
        |WHERE NOT (repo = 'repo_2' OR (repo = 'repo_6' AND path < 'f/5'))
        |UNION ALL
        |SELECT repo, path, 'c1' AS "commit", lang,
        |  sha256('reborn ' || text) AS content_sha
        |FROM base
        |WHERE repo = 'repo_2' AND path < 'f/2'
        |ORDER BY repo, path, "commit"""".stripMargin,
    "q58_mor_delete" ->
      """WITH base AS (
        |  SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |    'f/' || doc_id::VARCHAR || '.txt' AS path, lang, text
        |  FROM documents)
        |SELECT repo, path, 'c0' AS "commit", lang, sha256(text) AS content_sha
        |FROM base
        |WHERE NOT (repo = 'repo_3' OR (repo = 'repo_7' AND path < 'f/5'))
        |UNION ALL
        |SELECT repo, path, 'c1' AS "commit", lang,
        |  sha256('reborn ' || text) AS content_sha
        |FROM base
        |WHERE repo = 'repo_3' AND path < 'f/2'
        |ORDER BY repo, path, "commit"""".stripMargin,
    // the change-data-feed, re-derived relationally: insert slices per
    // append version, key-only delete rows (null lang/content) at v3
    "q59_changelog" ->
      """WITH base AS (
        |  SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |    'f/' || doc_id::VARCHAR || '.txt' AS path, lang, text
        |  FROM documents)
        |SELECT 1::BIGINT AS v, 'insert' AS change, repo, path,
        |  'c0' AS "commit", lang, sha256(text) AS content_sha
        |FROM base WHERE repo < 'repo_5'
        |UNION ALL
        |SELECT 2::BIGINT, 'insert', repo, path, 'c0', lang, sha256(text)
        |FROM base WHERE repo >= 'repo_5'
        |UNION ALL
        |SELECT 3::BIGINT, 'delete', repo, path, 'c0', NULL::VARCHAR, NULL::VARCHAR
        |FROM base WHERE repo = 'repo_2' AND path < 'f/5'
        |ORDER BY v, change, repo, path""".stripMargin,
    // the storage-partitioned join's result, recomputed as a plain
    // relational join over the same derivation (the zero-exchange plan
    // property is pinned inside the query; the oracle checks the ROWS)
    "q60_spj" ->
      """WITH a AS (
        |  SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo, text AS content
        |  FROM documents),
        |b AS (
        |  SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo, 'dim ' || text AS content
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT a.repo, count(*)::BIGINT AS pairs,
        |  sum(length(a.content)::BIGINT * length(b.content))::BIGINT AS chk
        |FROM a JOIN b ON a.repo = b.repo
        |GROUP BY a.repo ORDER BY a.repo""".stripMargin,
    // the SQL MERGE's row set — the identical relational recompute q24's
    // library merge is gated on
    "q64_sql_merge" ->
      s"""$duckMergedCte
         |SELECT repo, path, "commit", lang, sha256(content) AS content_sha
         |FROM merged ORDER BY repo, path""".stripMargin,
    // q65: CALL-driven maintenance never changes the rowset; the tag keeps
    // the first append's snapshot readable through the expiry
    "q65_sql_procedures" ->
      """WITH rows AS (SELECT doc_id, 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |   'f/' || doc_id::VARCHAR || '.txt' AS path, 'c0' AS "commit", lang, text AS content
        | FROM documents)
        |SELECT 'current' AS src, repo, path, "commit", lang, sha256(content) AS content_sha FROM rows
        |UNION ALL
        |SELECT 'tagged', repo, path, "commit", lang, sha256(content) FROM rows WHERE doc_id % 2 = 0
        |ORDER BY src, repo, path""".stripMargin,
    // q66: the snapshot history two fixed-partitioning appends produce —
    // record_count/file_count are cumulative LIVE totals per snapshot, the
    // files view carries one row per live data file with column stats
    // bounding the data
    "q66_metadata_tables" ->
      """WITH n AS (
        |  SELECT count(*) FILTER (WHERE doc_id % 10 < 7)::BIGINT AS n1,
        |         count(*) FILTER (WHERE doc_id % 10 >= 7)::BIGINT AS n2
        |  FROM documents)
        |SELECT 1::BIGINT AS version, 'append' AS operation, n1 AS record_count,
        |  4::BIGINT AS file_count, false AS is_current, 6::BIGINT AS live_files,
        |  (n1 + n2)::BIGINT AS live_rows, 'repo_0' AS lo_repo, 'repo_9' AS hi_repo
        |FROM n
        |UNION ALL
        |SELECT 2::BIGINT, 'append', (n1 + n2)::BIGINT, 6::BIGINT, true,
        |  6::BIGINT, (n1 + n2)::BIGINT, 'repo_0', 'repo_9'
        |FROM n
        |ORDER BY version""".stripMargin,
    // q67: three phase views of the branch lifecycle — the branch line
    // (fork + staged split B + compaction) sees everything, main sees only
    // split A until the fast-forward publish flips it to everything
    "q67_branches" ->
      """SELECT phase, lang, count(*)::BIGINT AS n_rows,
        |  sum(length(text))::BIGINT AS sum_len
        |FROM documents
        |CROSS JOIN (SELECT unnest(['branch_pre', 'main_pre', 'main_post']) AS phase)
        |WHERE phase <> 'main_pre' OR doc_id % 10 < 7
        |GROUP BY phase, lang
        |ORDER BY phase, lang""".stripMargin,
    // q76: after rollback the view is base only; after cherry-pick it is
    // base + the picked append — the bad slice (doc_id % 5 = 3) never returns
    "q76_cherrypick" ->
      """SELECT phase, lang, count(*)::BIGINT AS n_rows,
        |  sum(length(text))::BIGINT AS sum_len, 'cherrypick-v3' AS op
        |FROM documents
        |CROSS JOIN (SELECT unnest(['post_rollback', 'post_pick']) AS phase)
        |WHERE (phase = 'post_rollback' AND doc_id % 5 <= 2)
        |   OR (phase = 'post_pick' AND doc_id % 5 <> 3)
        |GROUP BY phase, lang
        |ORDER BY phase, lang""".stripMargin,
    // q77: latest upsert epoch wins per key — v3 where doc_id%5=0, else v2
    // where doc_id%3=0, else the original where doc_id%2=0; the replayed
    // epoch contributes nothing extra (row count = the distinct key count)
    "q77_cdc_upsert" ->
      """SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |  'f/' || doc_id::VARCHAR || '.txt' AS path, lang,
        |  sha256(CASE WHEN doc_id % 5 = 0 THEN 'v3 ' || text
        |              WHEN doc_id % 3 = 0 THEN 'v2 ' || text
        |              ELSE text END) AS content_sha
        |FROM documents
        |WHERE doc_id % 2 = 0 OR doc_id % 3 = 0 OR doc_id % 5 = 0
        |ORDER BY path""".stripMargin,
    // q78: LIMIT pushdown — which 37 rows the truncated scan returns is
    // nondeterministic, so the oracle checks the deterministic projection:
    // exactly min(37, |table|) rows arrived, every one of them is a real
    // table row (leaked = 0 by anti-join), and the full count cross-checks
    "q78_limit_pushdown" ->
      """SELECT least(37, count(*))::BIGINT AS limited_rows,
        |  count(*)::BIGINT AS total_rows, 0::BIGINT AS leaked
        |FROM documents""".stripMargin,
    // q79: TopN pushdown — ties make the top-25 ROWS nondeterministic, but
    // the repo multiset of any valid top-25 under `repo ASC` is unique
    "q79_topn_pushdown" ->
      """SELECT repo FROM (
        |  SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo
        |  FROM documents ORDER BY repo LIMIT 25
        |) ORDER BY repo""".stripMargin,
    // q80: the oracle re-derives the identical CCNet normalization
    // (lower, digits→0, punct→space, trim) over the same messied union
    "q80_norm_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, '  ' || upper(text) || ' !!' FROM documents),
        |norm AS (SELECT doc_id, sha256(text) AS raw_hash,
        |  trim(regexp_replace(regexp_replace(lower(text), '[0-9]', '0', 'g'),
        |                      '[^a-z0-9]+', ' ', 'g')) AS n
        |  FROM corpus)
        |SELECT sha256(n) AS norm_hash, min(doc_id) AS keep_id,
        |  count(*) AS dup_count, count(DISTINCT raw_hash) AS raw_variants
        |FROM norm GROUP BY n ORDER BY keep_id""".stripMargin,
    // q82: the oracle is the BATCH interval join — the streaming replay's
    // watermark covers the staged disorder, so the inner stream-stream
    // join must emit exactly this row set
    "q82_stream_join" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |           FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts,
        |             value AS click_value
        |      FROM events WHERE event_type = 'click')
        |SELECT v.user_id, v.view_id, c.click_id,
        |  strftime(v.view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
        |  strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |  round(c.click_value, 2) AS click_value
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND c.click_ts >= v.view_ts
        |  AND c.click_ts <= v.view_ts + INTERVAL 30 MINUTE
        |ORDER BY v.view_id, c.click_id""".stripMargin,
    // q83: both dimension versions replayed relationally — first-half
    // events join the original tiers, second-half events the post-MERGE
    // tiers (user_id % 10 = 3 retiered to tier_x between the passes)
    "q83_stream_enrich" ->
      """WITH half AS (SELECT (max(event_id) + 1) // 2 AS h FROM events),
        |d1 AS (SELECT DISTINCT user_id,
        |         'tier_' || (user_id % 4)::VARCHAR AS tier FROM events),
        |d2 AS (SELECT user_id,
        |         CASE WHEN user_id % 10 = 3 THEN 'tier_x' ELSE tier END AS tier
        |       FROM d1),
        |enriched AS (
        |  SELECT d1.tier, e.event_type, e.value FROM events e
        |    JOIN d1 USING (user_id) WHERE e.event_id < (SELECT h FROM half)
        |  UNION ALL
        |  SELECT d2.tier, e.event_type, e.value FROM events e
        |    JOIN d2 USING (user_id) WHERE e.event_id >= (SELECT h FROM half))
        |SELECT tier, event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM enriched GROUP BY tier, event_type
        |ORDER BY tier, event_type""".stripMargin,
    // q84: DuckDB's native ASOF JOIN picks the same greatest-view_ts-<=-
    // click_ts row; the 24h tolerance is applied OUTSIDE the join (DuckDB's
    // ASOF ON admits exactly one inequality) — identical semantics to the
    // Spark side, which also gates tolerance after the match
    "q84_asof_join" ->
      """WITH v0 AS (SELECT user_id, ts AS view_ts, event_id FROM events
        |            WHERE event_type = 'view'),
        |v AS (SELECT user_id, view_ts, max(event_id) AS view_id
        |      FROM v0 GROUP BY user_id, view_ts),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts, value
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT c.user_id, c.click_id, v.view_id, c.click_ts,
        |             v.view_ts, c.value
        |      FROM c ASOF JOIN v
        |        ON c.click_ts >= v.view_ts AND c.user_id = v.user_id)
        |SELECT user_id, click_id, view_id,
        |  strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |  strftime(view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
        |  round(value, 2) AS click_value
        |FROM j WHERE epoch(click_ts) - epoch(view_ts) <= 86400
        |ORDER BY click_id""".stripMargin,
    // q85/q86: DuckDB replays BOTH halves — the messy-URL synthesis (same
    // six doc_id%6 variant classes) AND the canonicalization rule set
    // (lower, de-fragment, default-port, www, tracking params, trailing
    // slash) — so the oracle independently re-derives every canonical URL
    "q85_url_dedup" ->
      (UrlSynthAndCanonSql +
      """SELECT canonical_url, min(doc_id)::BIGINT AS keep_id,
        |  count(*)::BIGINT AS dup_count
        |FROM canon GROUP BY canonical_url ORDER BY keep_id""".stripMargin),
    "q86_domain_stats" ->
      (UrlSynthAndCanonSql +
      """, dom AS (SELECT regexp_extract(canonical_url,
        |    '^https?://([^/?#]+)', 1) AS domain, canonical_url, d2.n_chars
        |  FROM canon JOIN documents d2 USING (doc_id))
        |SELECT domain, count(*)::BIGINT AS n_docs,
        |  count(DISTINCT canonical_url)::BIGINT AS n_pages,
        |  round(avg(n_chars), 2) AS avg_n_chars
        |FROM dom GROUP BY domain ORDER BY domain""".stripMargin),
    // q87: DuckDB replays the 7-line page synthesis AND all three line
    // rules (word count, uppercase-majority, boilerplate markers); the
    // sha256 of the rejoined survivors pins every kept byte
    "q87_line_filter" ->
      """WITH pg AS (SELECT doc_id, concat_ws(chr(10),
        |  'HOME | ABOUT | CONTACT US', substr(text, 1, 120),
        |  upper(substr(text, 121, 80)), 'Please accept cookies to continue',
        |  substr(text, 201, 120), 'Copyright (c) 2024 All rights reserved',
        |  'OK') AS page FROM documents),
        |ln AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM pg),
        |kt AS (SELECT doc_id, len(ls) AS n_lines,
        |  list_filter(ls, l ->
        |    (CASE WHEN trim(regexp_replace(l, ' +', ' ', 'g')) = '' THEN 0
        |          ELSE len(string_split(
        |            trim(regexp_replace(l, ' +', ' ', 'g')), ' '))
        |     END) >= 3
        |    AND NOT (len(regexp_replace(l, '[^A-Za-z]', '', 'g')) > 0
        |      AND 2 * len(regexp_replace(l, '[^A-Z]', '', 'g'))
        |          > len(regexp_replace(l, '[^A-Za-z]', '', 'g')))
        |    AND NOT regexp_matches(lower(l),
        |      'cookie|copyright|all rights reserved|terms of (use|service)|privacy policy')
        |  ) AS kept FROM ln)
        |SELECT doc_id, n_lines::BIGINT AS n_lines,
        |  len(kept)::BIGINT AS n_kept,
        |  sha256(array_to_string(kept, chr(10))) AS clean_sha
        |FROM kt ORDER BY doc_id""".stripMargin,
    // q90: the oracle re-derives every WRS key — splitmix64 via HUGEINT
    // modular arithmetic (the q57 recipe), min over the row's wt copies —
    // and must select the identical 20-per-stratum set, keys included
    "q90_weighted_sample" -> {
      val mix = duckMixInline("xor(doc_id * 1000003 + copy, 777)")
      s"""WITH w AS (SELECT doc_id, lang,
         |    least(4, 1 + n_chars // 500)::BIGINT AS wt FROM documents),
         |e AS (SELECT doc_id, lang, wt, unnest(range(0, wt)) AS copy FROM w),
         |h AS (SELECT doc_id, lang, wt,
         |    min((($mix) >> 11)::BIGINT) AS key
         |  FROM e GROUP BY 1, 2, 3),
         |r AS (SELECT lang, doc_id, wt, key,
         |    row_number() OVER (PARTITION BY lang ORDER BY key, doc_id) AS rn
         |  FROM h)
         |SELECT lang, doc_id, wt, key FROM r WHERE rn <= 20
         |ORDER BY lang, key, doc_id""".stripMargin
    },
    // q91: score = tf/df is one IEEE division of two small integers per
    // row — both engines produce identical doubles, so the rank ORDER
    // (unrounded score desc, term asc) agrees bit-exactly, not just the
    // rounded display value
    "q91_salient_terms" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(text, '\s+')) AS term FROM documents),
        |tk AS (SELECT doc_id, term FROM toks WHERE len(term) > 0),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |       FROM tk GROUP BY 1, 2),
        |dfx AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |r AS (SELECT doc_id, term, tf, df,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf::DOUBLE / df::DOUBLE DESC, term) AS rn
        |  FROM tf JOIN dfx USING (term))
        |SELECT doc_id, term, tf, df,
        |  round(tf::DOUBLE / df::DOUBLE, 6) AS score, rn::BIGINT AS rank
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin,
    // q92: DuckDB re-derives every sha60 bigram hash, rebuilds the
    // reference vocabulary (doc frequency >= 2 over the doc_id%5=0 slice)
    // and recomputes the integer hit/total counts; coverage is one IEEE
    // division, so all columns hash-match (the q91 log-free discipline)
    "q92_lm_coverage" ->
      s"""WITH ws AS (SELECT doc_id, $duckWords AS w FROM documents),
         |big AS (SELECT doc_id, ${duckSha60("sgl")} AS sh FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
         |    ELSE list_transform(range(1, len(w)),
         |           i -> w[i] || ' ' || w[i+1]) END) AS sgl
         |  FROM ws WHERE len(w) > 0)),
         |vocab AS (SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM big
         |                          WHERE doc_id % 5 = 0)
         |          GROUP BY sh HAVING count(*) >= 2),
         |tot AS (SELECT doc_id, (CASE WHEN len(w) = 0 THEN 0
         |          WHEN len(w) = 1 THEN 1 ELSE len(w) - 1 END)::BIGINT
         |          AS n_bigrams
         |        FROM ws WHERE doc_id % 5 <> 0),
         |hit AS (SELECT doc_id, count(*)::BIGINT AS n_hits
         |        FROM big JOIN vocab USING (sh)
         |        WHERE doc_id % 5 <> 0 GROUP BY doc_id)
         |SELECT t.doc_id, n_bigrams, coalesce(n_hits, 0)::BIGINT AS n_hits,
         |  CASE WHEN n_bigrams = 0 THEN 0.0 ELSE
         |    round(coalesce(n_hits, 0)::DOUBLE / n_bigrams::DOUBLE, 6)
         |  END AS coverage
         |FROM tot t LEFT JOIN hit USING (doc_id) ORDER BY doc_id""".stripMargin,
    // q89: both engines define the exact continuous quantile identically
    // (sort, linear interpolation at p·(n-1)), so the profile hash-matches
    "q89_length_quantiles" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  round(quantile_cont(n_chars, 0.5), 2) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 2) AS p90,
        |  round(quantile_cont(n_chars, 0.99), 2) AS p99
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // q88: the oracle is the EXHAUSTIVE bigram count — the sketch path
    // must reproduce the true top-25 exactly (930 distinct << m=4096 keeps
    // Misra–Gries in its zero-error regime; ties closed by bigram ASC)
    "q88_heavy_hitters" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |bg AS (SELECT unnest(list_transform(range(1, len(ws)),
        |         i -> ws[i] || ' ' || ws[i+1])) AS bigram FROM w)
        |SELECT bigram, count(*)::BIGINT AS freq FROM bg
        |GROUP BY bigram ORDER BY freq DESC, bigram LIMIT 25""".stripMargin,
    // q81: DuckDB rebuilds the identical deterministic clustering (IVF
    // quantizer: id % 50 = 1 are the centroids, argmax ties to cid asc)
    // and the within-cluster epsilon-ball rule at the same tau
    "q81_semantic_dedup" ->
      """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
        |c AS (SELECT id AS cid, e AS ce FROM v WHERE id % 50 = 1),
        |asg AS (SELECT id, e, cid FROM (
        |  SELECT v.id, v.e, c.cid,
        |    row_number() OVER (PARTITION BY v.id
        |      ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cid ASC) AS rn
        |  FROM v, c) WHERE rn = 1),
        |dups AS (SELECT a.id, min(b.id) AS dup_of
        |  FROM asg a JOIN asg b ON a.cid = b.cid AND b.id < a.id
        |    AND list_cosine_similarity(a.e, b.e) >= 0.35
        |  GROUP BY a.id)
        |SELECT a.id, a.cid, d.dup_of, d.dup_of IS NULL AS kept
        |FROM asg a LEFT JOIN dups d ON a.id = d.id ORDER BY a.id""".stripMargin,
    // q68: four racing appends of disjoint doc_id slices must reassemble
    // exactly `documents` — n_appends/distinct_parents = 4 and forks = 0
    // are the chain-shape constants the optimistic protocol guarantees
    "q68_occ_commits" ->
      """SELECT lang, count(*)::BIGINT AS n_rows,
        |  sum(length(text))::BIGINT AS sum_len,
        |  4::BIGINT AS n_appends, 4::BIGINT AS distinct_parents,
        |  0::BIGINT AS forks,
        |  (SELECT count(*) FROM documents)::BIGINT AS committed_rows
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // q72: a compaction planned before an interleaved append commits after
    // it via validated rebase — the final table is exactly `documents`
    // (nothing lost, nothing duplicated) and rebase_gap = 1 proves the
    // commit landed one snapshot past its planning basis without re-planning
    "q72_rewrite_rebase" ->
      """SELECT lang, count(*)::BIGINT AS n_rows,
        |  sum(length(text))::BIGINT AS sum_len,
        |  5::BIGINT AS n_appends, 1::BIGINT AS rebase_gap,
        |  (SELECT count(*) FROM documents)::BIGINT AS committed_rows
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // the final evolved row set: pre-evolution rows read the added column
    // as NULL, post-evolution rows carry their typed value through the
    // compaction rewrite
    "q61_schema_evolution" ->
      """SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |  'f/' || doc_id::VARCHAR || '.txt' AS path, lang,
        |  CASE WHEN doc_id % 3 = 0 THEN (doc_id % 7)::INTEGER END AS stars,
        |  sha256(text) AS content_sha
        |FROM documents ORDER BY repo, path""".stripMargin,
    // the bloom point lookup's row set: DuckDB replays the key derivation
    // (commit = sha256 of the doc id) and selects the matching document
    "q62_bloom_lookup" ->
      """SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |  'f/' || doc_id::VARCHAR || '.txt' AS path, lang,
        |  sha256(text) AS content_sha
        |FROM documents
        |WHERE sha256(doc_id::VARCHAR) = sha256('7')
        |ORDER BY path""".stripMargin,
    "q28_xslt_extract" ->
      """SELECT doc_id, doc_id::VARCHAR || '-' || source AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q29_xsd_validate" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        | sum(CASE WHEN doc_id % 7 = 3 THEN 0 ELSE 1 END)::BIGINT AS n_valid
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // the full xmq output of every successful ixml parse is rebuilt in SQL:
    // a genuine cross-engine check of grammar+Earley+printer per row
    "q27_ixml_parse" ->
      """SELECT doc_id,
        | (CASE WHEN doc_id % 10 = 7 THEN 0 ELSE 1 END)::BIGINT AS ok,
        | CASE WHEN doc_id % 10 <> 7 THEN
        |   'pair {' || chr(10) || '    key   = ' || source || chr(10) ||
        |   '    value = ' || n_chars::VARCHAR || chr(10) || '}' || chr(10)
        | END AS parsed
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the recovered parse (junk skipped) is rebuilt in SQL per row; the
    // unrecoverable class must come back null with recovered=0
    "q31_ixml_recover" ->
      """SELECT doc_id,
        | (CASE WHEN doc_id % 10 = 3 THEN 0 ELSE 1 END)::BIGINT AS recovered,
        | (CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END)::BIGINT AS skipped,
        | CASE WHEN doc_id % 10 <> 3 THEN
        |   'pair {' || chr(10) || '    key   = ' || source || chr(10) ||
        |   '    value = ' || n_chars::VARCHAR || chr(10) || '}' || chr(10)
        | END AS parsed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q26_xmq_getters" ->
      """SELECT lang, n_docs::BIGINT AS n_docs, n_elems::BIGINT AS n_elems,
        | n_wellformed::BIGINT AS n_wellformed, n_corrupt_ok::BIGINT AS n_corrupt_ok,
        | sum_first_num::BIGINT AS sum_first_num, annotated_bytes::BIGINT AS annotated_bytes
        |FROM (VALUES ('html', 139, 1364, 139, 132, 14019034, 59819),
        |             ('json', 143, 1233, 143, 7, 18940617, 61745),
        |             ('xml', 101, 702, 101, 1, 10955173, 35689),
        |             ('xmq', 117, 975, 117, 2, 13294748, 48932))
        | t(lang, n_docs, n_elems, n_wellformed, n_corrupt_ok, sum_first_num, annotated_bytes)
        |ORDER BY lang""".stripMargin,
    // q9-q12 and q22 run on deterministically synthesized inputs (seed 42,
    // independent of the sf dir), so their outputs are fixed. The VALUES
    // oracles below are precomputed fixture truths: the underlying xmq
    // semantics are verified byte-for-byte against the reference corpus +
    // compiled binary in the sbt suite; these rows gate driver-loop
    // regressions of the Spark plumbing on every round.
    "q9_xmq_roundtrip" ->
      """SELECT lang, n_docs::BIGINT AS n_docs, n_roundtrip_ok::BIGINT AS n_roundtrip_ok,
        | total_bytes::BIGINT AS total_bytes
        |FROM (VALUES ('html', 527, 527, 267947), ('json', 511, 511, 230151),
        |             ('xml', 494, 494, 230373), ('xmq', 468, 468, 284067))
        | t(lang, n_docs, n_roundtrip_ok, total_bytes)
        |ORDER BY lang""".stripMargin,
    "q10_xmq_tokenize" ->
      """SELECT token_type, n_tokens::BIGINT AS n_tokens
        |FROM (VALUES ('apar_left', 646), ('apar_right', 646), ('attr_key', 960),
        |  ('attr_value_quote', 960), ('brace_left', 432), ('brace_right', 432),
        |  ('comment', 160), ('element_key', 169), ('element_name', 806),
        |  ('element_value_quote', 411), ('element_value_text', 132),
        |  ('equals', 1503), ('whitespace', 5319)) t(token_type, n_tokens)
        |ORDER BY token_type""".stripMargin,
    "q11_xmq_convert" ->
      """SELECT lang, n_docs::BIGINT AS n_docs, json_bytes::BIGINT AS json_bytes,
        | xmq_bytes::BIGINT AS xmq_bytes
        |FROM (VALUES ('html', 272, 130517, 110335), ('json', 254, 112850, 96381),
        |             ('xml', 233, 93785, 80165), ('xmq', 241, 109372, 93548))
        | t(lang, n_docs, json_bytes, xmq_bytes)
        |ORDER BY lang""".stripMargin,
    "q12_xmq_detect" ->
      """SELECT detected, lang, n::BIGINT AS n
        |FROM (VALUES ('html', 'html', 272), ('json', 'json', 254),
        |             ('xml', 'xml', 233), ('xmq', 'xmq', 241)) t(detected, lang, n)
        |ORDER BY detected, lang""".stripMargin,
    "q22_multimodal" ->
      """SELECT kind, n_media::BIGINT AS n_media, n_decode_ok::BIGINT AS n_decode_ok,
        | total_frames::BIGINT AS total_frames
        |FROM (VALUES ('audio', 108, 108, 189359), ('image', 109, 109, 109),
        |             ('video', 83, 83, 2991)) t(kind, n_media, n_decode_ok, total_frames)
        |ORDER BY kind""".stripMargin,
    // q30: REAL ImageIO decode + luma-histogram features through LSH ANN on a
    // deterministic synthesized corpus (seed 42) — precomputed fixture truth,
    // same pattern as q22; the codec itself is pixel-exactness-tested in sbt.
    "q30_media_ann" ->
      """SELECT media_id::BIGINT AS media_id, cos_sim::DOUBLE AS cos_sim
        |FROM (VALUES (1, 1.0), (276, 0.9997), (14, 0.9992), (24, 0.9992),
        |             (73, 0.9955), (68, 0.9941), (19, 0.9926), (293, 0.9921),
        |             (138, 0.9902), (87, 0.9881)) t(media_id, cos_sim)
        |ORDER BY cos_sim DESC, media_id""".stripMargin,
    "q16_text_analysis" -> {
      // full cross-engine replication of the text-analysis expressions:
      // language-ID (stopword argmax, fixed tie order; the corpus is pure
      // ASCII so the CJK branch is vacuous — verified), quality score,
      // token estimate (lookahead-free RE2 regex counts the same tokens as
      // the Java regex: the lookahead only moves the boundary inside an
      // UPPER+camel run, never the match count), rolling sha60 fingerprint.
      val sw = Map(
        "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "was"),
        "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
        "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"),
        "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "de", "que", "por"))
      def cnt(lang: String) =
        s"len(list_filter(lw, x -> list_contains(${sw(lang).map("'" + _ + "'").mkString("[", ",", "]")}, x)))"
      val langCase =
        s"""CASE WHEN ${cnt("en")} >= ${cnt("de")} AND ${cnt("en")} >= ${cnt("fr")}
           |       AND ${cnt("en")} >= ${cnt("es")} AND ${cnt("en")} > 0 THEN 'en'
           |     WHEN ${cnt("de")} >= ${cnt("fr")} AND ${cnt("de")} >= ${cnt("es")}
           |       AND ${cnt("de")} > 0 THEN 'de'
           |     WHEN ${cnt("fr")} >= ${cnt("es")} AND ${cnt("fr")} > 0 THEN 'fr'
           |     WHEN ${cnt("es")} > 0 THEN 'es' ELSE 'und' END""".stripMargin
      val enSw = sw("en").map("'" + _ + "'").mkString("[", ",", "]")
      val mixed = duckMixInline(s"('0x' || substr(sha256(w), 1, 15))::BIGINT")
      s"""WITH d AS (
         | SELECT doc_id, text, $duckWords AS ws,
         |   list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS lw
         | FROM documents),
         |feat AS (
         | SELECT doc_id, $langCase AS lang_guess,
         |  round((greatest(0.0, 1.0 - abs(list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws) - 5.0) / 10.0)
         |   + least(1.0, (len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE / length(text)) * 10)
         |   + greatest(0.0, 1.0 - (len(regexp_extract_all(text, '[A-Z]'))::DOUBLE / length(text)) * 4)
         |   + least(1.0, (len(list_filter(ws, w -> list_contains($enSw, lower(w))))::DOUBLE / len(ws)) * 4)
         |  ) / 4.0, 4) AS quality,
         |  len(regexp_extract_all(text, '[A-Z]?[a-z]+|[A-Z]+|[0-9]{1,4}|[^\\sA-Za-z0-9]'))::BIGINT AS tokens,
         |  list_reduce(list_prepend(1125899906842597::UBIGINT, list_transform(ws, w -> $mixed)),
         |    (a, x) -> (((a)::HUGEINT * 31::HUGEINT + (x)::HUGEINT) % 18446744073709551616::HUGEINT)::UBIGINT) AS fp
         | FROM d)
         |SELECT lang_guess, count(*)::BIGINT AS n_docs, round(avg(quality), 4) AS avg_quality,
         | sum(tokens)::BIGINT AS total_tokens, count(DISTINCT fp)::BIGINT AS distinct_fingerprints
         |FROM feat GROUP BY lang_guess ORDER BY lang_guess""".stripMargin
    },
    "q19_simhash_pairs" -> {
      // recompute the 60-bit simhash from word-level sha60 features, then
      // chunk-block exactly like Dedup.simHashPairs (4 chunks of 15 bits)
      s"""WITH w AS (
         | SELECT doc_id, ${duckSha60("word")} AS wh
         | FROM (SELECT doc_id, unnest($duckWords) AS word FROM documents)),
         |s AS (SELECT doc_id, $duckSimhashBits AS sh FROM w GROUP BY doc_id),
         |c AS (SELECT doc_id, sh, unnest(range(4)) AS chunk,
         |        unnest([(sh >> 0) & 32767, (sh >> 15) & 32767,
         |                (sh >> 30) & 32767, (sh >> 45) & 32767]) AS chunk_val
         |      FROM s)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         | bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
         |FROM c a JOIN c b ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
         |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
    },
    "q18_minhash_pairs" -> duckMinhashPairsSql,
    "q32_neardup_groups" -> duckCcGroupsSql,
    "q44_neardup_star"   -> duckCcGroupsSql,
    "q73_canonical_keep" -> duckCanonicalSql,
    // q74: DuckDB replays the KMV sketch estimate exactly — same sha60
    // hash, same k-th smallest distinct value, same integer-floor estimator
    // ((k-1)·2^60 // h_k) in HUGEINT arithmetic
    "q74_ndv_sketch" ->
      """WITH h AS (
        |  SELECT DISTINCT lang,
        |    ('0x' || substr(sha256(text), 1, 15))::BIGINT AS h
        |  FROM documents),
        |r AS (
        |  SELECT lang, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS nd
        |  FROM h),
        |e AS (
        |  SELECT lang, max(nd) AS nd,
        |    max(CASE WHEN rn = 64 THEN h END) AS kth
        |  FROM r GROUP BY lang),
        |x AS (
        |  SELECT lang, count(DISTINCT text) AS ndv_exact
        |  FROM documents GROUP BY lang)
        |SELECT e.lang,
        |  CASE WHEN e.nd < 64 THEN e.nd
        |       ELSE ((63::HUGEINT * 1152921504606846976::HUGEINT)
        |             // e.kth::HUGEINT)::BIGINT END AS ndv_est,
        |  x.ndv_exact
        |FROM e JOIN x USING (lang) ORDER BY e.lang""".stripMargin,
    // q75: rank-exact quantile filter — same deterministic (tokens, doc_id)
    // order, same integer-floor drop count (n·1 // 4) per language
    "q75_quantile_filter" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(text, '[A-Z]?[a-z]+|[A-Z]+|[0-9]{1,4}|[^\sA-Za-z0-9]'))::BIGINT AS tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, tokens,
        |    row_number() OVER (PARTITION BY lang ORDER BY tokens, doc_id) AS rank,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM d)
        |SELECT doc_id, lang, tokens, rank
        |FROM r WHERE rank > (n * 1) // 4
        |ORDER BY doc_id""".stripMargin,
    // the delta rows the incremental read must return: exactly the second
    // (v2-prefixed) append, maintenance contributing nothing
    "q46_incremental" ->
      """SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |  'f/' || doc_id::VARCHAR || '.txt' AS path, 'c0' AS "commit", lang,
        |  sha256('v2 ' || text) AS content_sha
        |FROM documents WHERE doc_id % 5 = 0 ORDER BY path""".stripMargin,
    // the appends-only log the stream must accumulate: base ∪all delta
    // (a doc in both appends appears twice, with different hashes)
    "q47_stream_lake" ->
      """SELECT repo, path, lang, content_sha FROM (
        |  SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |    'f/' || doc_id::VARCHAR || '.txt' AS path, lang,
        |    sha256(text) AS content_sha
        |  FROM documents WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |    'f/' || doc_id::VARCHAR || '.txt' AS path, lang,
        |    sha256('v2 ' || text) AS content_sha
        |  FROM documents WHERE doc_id % 5 = 0)
        |ORDER BY path, content_sha""".stripMargin,
    // lake-to-lake: the destination TABLE's scan must equal the same log
    "q48_stream_sink" ->
      """SELECT repo, path, lang, content_sha FROM (
        |  SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |    'f/' || doc_id::VARCHAR || '.txt' AS path, lang,
        |    sha256(text) AS content_sha
        |  FROM documents WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |    'f/' || doc_id::VARCHAR || '.txt' AS path, lang,
        |    sha256('v2 ' || text) AS content_sha
        |  FROM documents WHERE doc_id % 5 = 0)
        |ORDER BY path, content_sha""".stripMargin,
    // the aggregates the connector answered from manifest stats alone,
    // re-derived from the raw merged rows — a drifted stat (wrong
    // record_count, truncated min/max, stale langs set) mismatches here
    "q45_agg_pushdown" ->
      s"""$duckMergedCte
         |SELECT count(*) AS n_rows,
         |  min(repo) AS mn_repo, max(repo) AS mx_repo,
         |  min(path) AS mn_path, max(path) AS mx_path,
         |  min(lang) AS mn_lang, max(lang) AS mx_lang
         |FROM merged""".stripMargin,
    "q33_stream_window" ->
      """SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M') AS window_start,
        | event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q34_core_types" -> {
      // the SAME regexes / bound strings as CoreTypes, interpolated so both
      // engines decide from one definition; integer ranges re-derived with
      // the same string math (RE2-safe: no lookahead anywhere)
      import graft.expr.CoreTypes
      def re(v: String, r: String) = s"regexp_matches($v, '$r')"
      def mag(v: String) = {
        val s0 = s"regexp_replace(regexp_replace($v, '^[+-]', ''), '^0+', '')"
        s"(CASE WHEN $s0 = '' THEN '0' ELSE $s0 END)"
      }
      def magLe(v: String, bound: String) = {
        val d = mag(v)
        s"(length($d) < ${bound.length} OR (length($d) = ${bound.length} AND $d <= '$bound'))"
      }
      def signed(v: String, t: String) = {
        val (mx, mnAbs) = CoreTypes.SignedBounds(t)
        s"(${re(v, CoreTypes.IntRe)} AND (CASE WHEN $v LIKE '-%' THEN ${magLe(v, mnAbs)} ELSE ${magLe(v, mx)} END))"
      }
      def unsigned(v: String, t: String) =
        s"(${re(v, CoreTypes.IntRe)} AND $v NOT LIKE '-%' AND ${magLe(v, CoreTypes.UnsignedBounds(t))})"
      def cnt(c: String, alias: String) = s"sum(CASE WHEN $c THEN 1 ELSE 0 END)::BIGINT AS $alias"
      val fMax = java.lang.Float.MAX_VALUE.toDouble
      s"""WITH d AS (SELECT lang, text,
         |  CASE doc_id % 3 WHEN 0 THEN 'true' WHEN 1 THEN 'false' ELSE 'True' END AS v_bool,
         |  (doc_id * 37 - 40000)::VARCHAR AS v_int,
         |  (CASE WHEN doc_id % 2 = 0 THEN '' ELSE '-' END) || '1' || repeat('0', (doc_id % 45)::INT) AS v_pow,
         |  n_chars::VARCHAR || '.25e' || (doc_id % 45)::VARCHAR AS v_float,
         |  CASE doc_id % 4 WHEN 0 THEN 'QUJD' WHEN 1 THEN 'QUJDRQ==' WHEN 2 THEN 'QQ=' ELSE source END AS v_b64,
         |  CASE WHEN doc_id % 4 = 0 THEN source || '@example.com' ELSE source END AS v_email,
         |  CASE WHEN doc_id % 5 = 0 THEN 'https://' || source || '.org/x' ELSE 'ftp:/broken ' || source END AS v_url,
         |  (doc_id % 300)::VARCHAR || '.' || (n_chars % 300)::VARCHAR || '.7.1' AS v_ip4,
         |  CASE doc_id % 3 WHEN 0 THEN 'fe80::1a2b' WHEN 1 THEN '::1' ELSE 'g::1' END AS v_ip6,
         |  doc_id
         | FROM documents),
         |d2 AS (SELECT *, CASE WHEN doc_id % 2 = 0 THEN v_ip4 ELSE v_ip6 END AS v_ip_x FROM d)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         | ${cnt("v_bool IN ('true','false')", "ok_bool")},
         | ${cnt(signed("v_int", "i8"), "ok_i8")},
         | ${cnt(signed("v_int", "i16"), "ok_i16")},
         | ${cnt(signed("v_int", "i32"), "ok_i32")},
         | ${cnt(signed("v_pow", "i64"), "ok_i64")},
         | ${cnt(signed("v_pow", "i128"), "ok_i128")},
         | ${cnt(unsigned("v_int", "u8"), "ok_u8")},
         | ${cnt(unsigned("v_int", "u16"), "ok_u16")},
         | ${cnt(unsigned("v_int", "u32"), "ok_u32")},
         | ${cnt(unsigned("v_pow", "u64"), "ok_u64")},
         | ${cnt(unsigned("v_pow", "u128"), "ok_u128")},
         | ${cnt(s"${re("v_float", CoreTypes.FloatRe)} AND abs(TRY_CAST(v_float AS DOUBLE)) <= $fMax", "ok_f32")},
         | ${cnt(re("v_float", CoreTypes.FloatRe), "ok_f64")},
         | ${cnt("text IS NOT NULL AND NOT regexp_matches(text, '\\x00')", "ok_string")},
         | ${cnt(re("v_b64", CoreTypes.Base64Re), "ok_b64")},
         | ${cnt(re("v_email", CoreTypes.EmailRe), "ok_email")},
         | ${cnt(re("v_url", CoreTypes.UriRe), "ok_uri")},
         | ${cnt(re("v_url", CoreTypes.UrlRe), "ok_url")},
         | ${cnt(re("v_ip4", CoreTypes.Ipv4Re), "ok_ipv4")},
         | ${cnt(re("v_ip6", CoreTypes.Ipv6Re), "ok_ipv6")},
         | ${cnt(s"(${re("v_ip_x", CoreTypes.Ipv4Re)} OR ${re("v_ip_x", CoreTypes.Ipv6Re)})", "ok_ip")},
         | sum(CASE WHEN ${signed("v_int", "i32")} THEN TRY_CAST(v_int AS INTEGER) END)::BIGINT AS sum_i32
         |FROM d2 GROUP BY lang ORDER BY lang""".stripMargin
    },
    "q38_typed_get" -> {
      // per-row typed extraction: DuckDB re-derives the planted field values
      // arithmetically (never parsing XML — the Spark side must recover them
      // through a REAL parse + xpath) and applies the same CoreTypes lexical
      // rules, interpolated from the single shared definition
      import graft.expr.CoreTypes
      def re(v: String, r: String) = s"regexp_matches($v, '$r')"
      def mag(v: String) = {
        val s0 = s"regexp_replace(regexp_replace($v, '^[+-]', ''), '^0+', '')"
        s"(CASE WHEN $s0 = '' THEN '0' ELSE $s0 END)"
      }
      def magLe(v: String, bound: String) = {
        val d = mag(v)
        s"(length($d) < ${bound.length} OR (length($d) = ${bound.length} AND $d <= '$bound'))"
      }
      def signed(v: String, t: String) = {
        val (mx, mnAbs) = CoreTypes.SignedBounds(t)
        s"(${re(v, CoreTypes.IntRe)} AND (CASE WHEN $v LIKE '-%' THEN ${magLe(v, mnAbs)} ELSE ${magLe(v, mx)} END))"
      }
      val fMax = java.lang.Float.MAX_VALUE.toDouble
      s"""WITH d AS (SELECT doc_id,
         |  (doc_id*37-40000)::VARCHAR AS v_int,
         |  CASE doc_id%3 WHEN 0 THEN 'true' WHEN 1 THEN 'false' ELSE 'True' END AS v_bool,
         |  (n_chars%1000)::VARCHAR || '.5e' || (doc_id%40)::VARCHAR AS v_float,
         |  'user' || doc_id::VARCHAR || '@example' ||
         |    (CASE WHEN doc_id%4=0 THEN '.com' ELSE '_com' END) AS v_email,
         |  (doc_id%300)::VARCHAR || '.' || (n_chars%300)::VARCHAR || '.7.1' AS v_ip
         | FROM documents)
         |SELECT doc_id,
         | v_int AS raw_i32, ${signed("v_int", "i32")} AS ok_i32,
         | CASE WHEN ${signed("v_int", "i32")} THEN TRY_CAST(v_int AS BIGINT) END AS val_i32,
         | ${signed("v_int", "i8")} AS ok_i8,
         | CASE WHEN ${signed("v_int", "i8")} THEN TRY_CAST(v_int AS BIGINT) END AS val_i8,
         | v_bool IN ('true','false') AS ok_bool,
         | CASE WHEN v_bool IN ('true','false') THEN v_bool = 'true' END AS val_bool,
         | (${re("v_float", CoreTypes.FloatRe)} AND abs(TRY_CAST(v_float AS DOUBLE)) <= $fMax) AS ok_f32,
         | ${re("v_float", CoreTypes.FloatRe)} AS ok_f64,
         | CASE WHEN ${re("v_float", CoreTypes.FloatRe)} THEN TRY_CAST(v_float AS DOUBLE) END AS val_f64,
         | v_email AS raw_email, ${re("v_email", CoreTypes.EmailRe)} AS ok_email,
         | v_ip AS raw_ip, ${re("v_ip", CoreTypes.Ipv4Re)} AS ok_ip,
         | NULL::VARCHAR AS raw_miss, FALSE AS ok_miss, NULL::BIGINT AS val_miss
         |FROM d ORDER BY doc_id""".stripMargin
    },
    "q36_sessionize" ->
      """WITH d AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT user_id, count(*) AS n_events,
        |  round(sum(value), 2) AS total_value,
        |  epoch_ms(max(ts)) AS session_end_ts
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_end_ts""".stripMargin,
    // the token-budget corpus sample recomputed with ONE global window per
    // language (the formulation the distributed two-pass must equal): order
    // by (signed mix64(doc_id), doc_id), keep while the running token total
    // before the row is under budget. The splitmix64 key is re-derived in
    // HUGEINT arithmetic and folded back to signed BIGINT so both engines
    // sort identically.
    "q41_corpus_sample" -> {
      val signedH =
        s"""((${duckMixInline("doc_id")})::HUGEINT -
           | CASE WHEN (${duckMixInline("doc_id")})::HUGEINT >= 9223372036854775808::HUGEINT
           |      THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT""".stripMargin
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS tokens,
         |    $signedH AS h
         |  FROM documents WHERE length(text) >= 100),
         |c AS (
         |  SELECT doc_id, lang, tokens,
         |    coalesce(sum(tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
         |  FROM d)
         |SELECT doc_id, lang, tokens, cum_before FROM c
         |WHERE cum_before < 5000 ORDER BY lang, cum_before, doc_id""".stripMargin
    },
    // exact n-gram jaccard rebuilt relationally: distinct sha60 word-3-
    // shingles, docfreq cutoff, shared-count arithmetic — no list
    // intersections, the same count algebra the Spark plan uses
    "q43_ngram_jaccard" ->
      s"""WITH ws AS (SELECT doc_id, $duckWords AS w FROM documents),
         |sh0 AS (SELECT DISTINCT doc_id, x FROM (
         |  SELECT doc_id, ${duckSha60("sgl")} AS x FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
         |      ELSE list_transform(range(1, len(w) - 1),
         |             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS sgl
         |    FROM ws))),
         |keep AS (SELECT x FROM sh0 GROUP BY x HAVING count(*) <= 50),
         |sh AS (SELECT sh0.doc_id, sh0.x FROM sh0 JOIN keep USING (x)),
         |counts AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |         FROM sh a JOIN sh b ON a.x = b.x AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2)
         |SELECT id_a, id_b, round(jac, 4) AS jaccard FROM (
         |  SELECT c.id_a, c.id_b,
         |    c.shared::DOUBLE / (na.nsh + nb.nsh - c.shared) AS jac
         |  FROM cand c
         |  JOIN counts na ON na.doc_id = c.id_a
         |  JOIN counts nb ON nb.doc_id = c.id_b)
         |WHERE jac >= 0.25 ORDER BY id_a, id_b""".stripMargin,
    // decontamination rebuilt relationally: the same distinct sha60 word-3-
    // shingle space as q43, benchmark slice doc_id % 97 = 0, shared-count
    // join excluding self-hits
    "q49_decontaminate" ->
      s"""WITH ws AS (SELECT doc_id, $duckWords AS w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, x FROM (
         |  SELECT doc_id, ${duckSha60("sgl")} AS x FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
         |      ELSE list_transform(range(1, len(w) - 1),
         |             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS sgl
         |    FROM ws)))
         |SELECT d.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS shared
         |FROM sh d JOIN (SELECT * FROM sh WHERE doc_id % 97 = 0) b USING (x)
         |WHERE d.doc_id <> b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY 1, 2""".stripMargin,
    // duplicated-shingle ratio: same shingle space, docfreq >= 2 share
    "q50_dup_ratio" ->
      s"""WITH ws AS (SELECT doc_id, $duckWords AS w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, x FROM (
         |  SELECT doc_id, ${duckSha60("sgl")} AS x FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
         |      ELSE list_transform(range(1, len(w) - 1),
         |             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS sgl
         |    FROM ws))),
         |freq AS (SELECT x, count(*) AS docfreq FROM sh GROUP BY x)
         |SELECT doc_id, count(*) AS nsh,
         |  sum(CASE WHEN docfreq >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_sh,
         |  round(sum(CASE WHEN docfreq >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
         |    AS dup_ratio
         |FROM sh JOIN freq USING (x)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // PII scrub replayed with the same ordered RE2-subset regexes: counts
    // from the pre-scrub text of each stage, final hash from the fully
    // scrubbed text ('g' = replace all, Spark's regexp_replace semantics)
    "q51_pii_scrub" ->
      """WITH injected AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' contact user' || doc_id::VARCHAR || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |      THEN ' host 10.0.' || (doc_id % 256)::VARCHAR || '.' || (doc_id % 100)::VARCHAR
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0
        |      THEN ' tel 555' || lpad((doc_id % 10000)::VARCHAR, 5, '0') ELSE '' END AS t
        |  FROM documents),
        |st AS (SELECT doc_id, t,
        |  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g') AS de
        |  FROM injected),
        |st2 AS (SELECT doc_id, t, de,
        |  regexp_replace(de, '\b(\d{1,3}\.){3}\d{1,3}\b', '<ip>', 'g') AS di
        |  FROM st)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT AS n_emails,
        |  len(regexp_extract_all(de, '\b(\d{1,3}\.){3}\d{1,3}\b'))::INT AS n_ips,
        |  len(regexp_extract_all(di, '\d{7,}'))::INT AS n_phones,
        |  sha256(regexp_replace(di, '\d{7,}', '<phone>', 'g')) AS scrub_sha
        |FROM st2 ORDER BY doc_id""".stripMargin,

    // Gopher repetition signals re-derived: max_run via gaps-and-islands
    // (i - row_number per (doc, word) groups consecutive equal words),
    // top_bigram via unnest + group-max
    "q52_repetition" ->
      s"""WITH ws AS (SELECT doc_id, $duckWords AS w FROM documents),
         |u AS (SELECT doc_id, i, w[i] AS word
         |      FROM (SELECT doc_id, w, unnest(range(1, len(w)+1)) AS i FROM ws)),
         |r AS (SELECT doc_id, word,
         |        i - row_number() OVER (PARTITION BY doc_id, word ORDER BY i) AS grp
         |      FROM u),
         |runlen AS (SELECT doc_id, count(*) AS rl FROM r GROUP BY doc_id, word, grp),
         |mr AS (SELECT doc_id, max(rl) AS max_run FROM runlen GROUP BY doc_id),
         |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
         |       FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM ws)),
         |tb AS (SELECT doc_id, max(c) AS top_bigram FROM
         |        (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g)
         |       GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id,
         |  len(d.w)::INT AS total_words,
         |  len(list_distinct(d.w))::INT AS distinct_words,
         |  coalesce(mr.max_run, 0)::INT AS max_run,
         |  greatest(len(d.w) - 1, 0)::INT AS n_bigrams,
         |  coalesce(tb.top_bigram, 0)::INT AS top_bigram
         |FROM ws d LEFT JOIN mr USING (doc_id) LEFT JOIN tb USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // chunk dedup re-derived: the same 8-word chunk grid, winner = first
    // (doc_id, idx) per chunk hash via row_number, survivor body re-joined
    // in chunk order
    "q53_chunk_dedup" ->
      s"""WITH ws AS (SELECT doc_id, $duckWords AS w FROM documents),
         |ch AS (SELECT doc_id, i AS idx,
         |         array_to_string(w[(i*8+1):least((i+1)*8, len(w))], ' ') AS chunk
         |       FROM (SELECT doc_id, w, unnest(range(0, (len(w)+7)//8)) AS i FROM ws)),
         |h AS (SELECT doc_id, idx, chunk, ${duckSha60("chunk")} AS hh FROM ch),
         |k AS (SELECT doc_id, idx, chunk,
         |        row_number() OVER (PARTITION BY hh ORDER BY doc_id, idx) AS rn FROM h),
         |kept AS (SELECT doc_id, count(*) AS kept_chunks,
         |           string_agg(chunk, ' ' ORDER BY idx) AS kt
         |         FROM k WHERE rn = 1 GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id,
         |  ((len(d.w) + 7) // 8)::BIGINT AS n_chunks,
         |  coalesce(kept.kept_chunks, 0)::BIGINT AS kept_chunks,
         |  sha256(coalesce(kept.kt, '')) AS kept_sha
         |FROM ws d LEFT JOIN kept USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // incremental dedup = plain anti-join semantics: the Bloom prefilter is
    // an implementation detail the oracle must not see (no false negatives
    // by construction; positives are exactly verified)
    "q54_incremental_dedup" ->
      """WITH batch AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text
        |         ELSE text || ' new' || doc_id::VARCHAR END AS text,
        |    lang
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT b.doc_id AS doc_id, b.lang AS lang, sha256(b.text) AS text_sha
        |FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM documents c WHERE c.text = b.text)
        |ORDER BY doc_id""".stripMargin,
    // row-level UPDATE re-derived relationally: the same CASE expression
    // over the same synthesized base table the lake was built from
    "q55_update" ->
      """WITH base AS (SELECT 'repo_' || (doc_id % 10)::VARCHAR AS repo,
        |    'f/' || doc_id::VARCHAR || '.txt' AS path, 'c0' AS "commit",
        |    lang, text AS content
        |  FROM documents)
        |SELECT repo, path,
        |  CASE WHEN repo = 'repo_4' AND path < 'f/5' THEN 'c1' ELSE "commit" END AS "commit",
        |  lang,
        |  sha256(CASE WHEN repo = 'repo_4' AND path < 'f/5'
        |              THEN 'upd ' || content ELSE content END) AS content_sha
        |FROM base ORDER BY repo, path""".stripMargin,

    // deterministic shard export: DuckDB replays the identical splitmix64
    // order hash; the unsigned value is re-signed (the q42 pattern) so both
    // engines sort by the same 64-bit two's-complement key
    "q56_shard_export" -> {
      val u = duckMixInline("xor(doc_id, 42)")
      val signedH =
        s"""(($u)::HUGEINT -
           | CASE WHEN ($u)::HUGEINT >= 9223372036854775808::HUGEINT
           |      THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT""".stripMargin
      s"""WITH h AS (SELECT doc_id, lang,
         |    $signedH AS h,
         |    (($u) % 8)::BIGINT AS shard
         |  FROM documents)
         |SELECT doc_id, lang, shard,
         |  (row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1)::BIGINT AS pos
         |FROM h ORDER BY shard, pos""".stripMargin
    },
    // weighted mixture re-derived: same weights, same splitmix64(id *
    // 1000003 + copy xor seed) uniform draw from the top 53 bits
    "q57_mixture" -> {
      val u = duckMixInline("xor(doc_id * 1000003 + copy, 42)")
      """WITH w AS (SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
        |                WHEN 'src2' THEN 0.25 ELSE 0.5 END AS wt
        |  FROM documents),
        |e AS (SELECT doc_id, source, wt,
        |        unnest(range(0, greatest(ceil(wt)::BIGINT, 0))) AS copy
        |      FROM w)
        |SELECT doc_id, source, copy FROM e
        |WHERE copy < floor(wt)
        |   OR ((""".stripMargin + u +
      """) >> 11)::DOUBLE / 9007199254740992 < wt - floor(wt)
        |ORDER BY doc_id, copy""".stripMargin
    },
    // sequence packing re-derived from the same global per-language window
    // as q41, WITHOUT the budget cut: bin/offset are pure integer
    // arithmetic over the prefix sum, so every row's cumulative position
    // is cross-checked
    "q42_pack_sequences" -> {
      val signedH =
        s"""((${duckMixInline("doc_id")})::HUGEINT -
           | CASE WHEN (${duckMixInline("doc_id")})::HUGEINT >= 9223372036854775808::HUGEINT
           |      THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT""".stripMargin
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS tokens,
         |    $signedH AS h
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang, tokens,
         |    coalesce(sum(tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
         |  FROM d)
         |SELECT doc_id, lang, tokens,
         |  (cum_before // 2048)::BIGINT AS bin,
         |  (cum_before % 2048)::BIGINT AS bin_offset,
         |  (cum_before % 2048) + tokens > 2048 AS spans_next
         |FROM c ORDER BY lang, bin, bin_offset, doc_id""".stripMargin
    },
    // the greedy TTL-dedup emission chain per key, recomputed independently:
    // first event emits, then repeatedly the next (ts, event_id)-ordered
    // event >= lastEmit + 24h — exactly the semantics the streaming operator
    // maintains incrementally with one state row per key
    "q40_stream_dedup" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |chain AS (
        |  SELECT user_id, event_id, ts FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT nxt.user_id, nxt.event_id, nxt.ts
        |  FROM chain c JOIN LATERAL (
        |    SELECT e.user_id, e.event_id, e.ts FROM ev e
        |    WHERE e.user_id = c.user_id AND e.ts >= c.ts + INTERVAL 1440 MINUTE
        |    ORDER BY e.ts, e.event_id LIMIT 1) nxt ON true)
        |SELECT user_id, event_id, epoch_us(ts) AS ts_us
        |FROM chain ORDER BY user_id, ts_us, event_id""".stripMargin,
    "q35_ann_ivf" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id <> 0),
        |c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id % 50 = 1),
        |q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
        |asg AS (SELECT vec_id, e, cid FROM (
        |  SELECT v.vec_id, v.e, c.cid,
        |    row_number() OVER (PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cid ASC) AS rn
        |  FROM v, c) WHERE rn = 1),
        |probe AS (SELECT cid FROM c, q
        |  ORDER BY list_cosine_similarity(c.ce, q.qe) DESC, cid ASC LIMIT 4)
        |SELECT a.vec_id, round(list_cosine_similarity(a.e, q.qe), 4) AS cos_sim
        |FROM asg a JOIN probe p ON a.cid = p.cid, q
        |ORDER BY list_cosine_similarity(a.e, q.qe) DESC, a.vec_id ASC LIMIT 10""".stripMargin,
    // PQ rebuilt from scratch: codebook (16 smallest ids ≡ 2 mod 5), per
    // sub-space argmin codes, ADC ranking via the reconstruction identity
    // Σ_s ||q_s − c_{code_s}||² = ||q − concat(codes' vectors)||², with the
    // per-sub-space groups parenthesized so the FP accumulation order is
    // bit-identical to the engine's lookup-table sum
    "q63_pq_ann" -> duckPqSql,
    "q21_ann_lsh" ->
      s"""WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS e,
         | ${duckBucket("embedding::DOUBLE[]", planes = 10, band = 0)} AS bucket
         | FROM embeddings),
         |q AS (SELECT e AS qe, bucket AS qb FROM b WHERE vec_id = 0)
         |SELECT vec_id, round(list_cosine_similarity(e, qe), 4) AS cos_sim
         |FROM b, q
         |WHERE vec_id <> 0 AND bit_count(xor(bucket, qb)) <= 2
         |ORDER BY list_cosine_similarity(e, qe) DESC, vec_id ASC
         |LIMIT 10""".stripMargin,
    "q23_lsh_neardup" -> {
      val bandSelects = (0 until 4).map { band =>
        s"SELECT vec_id, e, $band AS band, ${duckBucket("e", planes = 8, band = band)} AS bucket FROM v"
      }.mkString("\n UNION ALL ")
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |bands AS ($bandSelects)
         |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         | round(list_cosine_similarity(a.e, b.e), 4) AS cos_sim
         |FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
         |WHERE a.vec_id < b.vec_id AND list_cosine_similarity(a.e, b.e) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin
    },
  )

  /** full minhash-LSH replication: sha60 word-2-shingles -> 64 splitmix
    * minhashes -> 16 bands of 4 (string keys) -> candidate pairs ->
    * exact jaccard over distinct shingle sets, threshold 0.2 — shared by
    * the q18 pair oracle and the q32 group oracle. */
  /** connected components over the SAME minhash pair derivation as q18: a
    * recursive-CTE transitive closure re-derives each member's group
    * representative (min reachable id) fully independently of EITHER Spark
    * algorithm — shared by q32 (pointer doubling) and q44 (large/small-star),
    * so the two implementations are pinned to one external answer. */
  /** shared CTE chain: minhash pairs → undirected edges → transitive
    * closure → per-doc min-reachable group id. Both CC queries (q32, q44)
    * and the canonical-selection query (q73) pin to this one closure. */
  private def duckCcGroupCtes: String =
      s"""WITH RECURSIVE pairs AS ($duckMinhashPairsSql),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b AS a, id_a AS b FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |groups AS (
         |  SELECT d.doc_id AS member_id,
         |    coalesce(least(d.doc_id, min(r.dst)), d.doc_id) AS group_id
         |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
         |  GROUP BY d.doc_id)""".stripMargin

  private def duckCcGroupsSql: String =
      s"""$duckCcGroupCtes
         |SELECT member_id, group_id FROM groups ORDER BY member_id""".stripMargin

  /** q73: the kept copy per group is the LONGEST member, ties to the
    * smallest id — DuckDB replays the argmax ordering exactly (integer
    * lengths, integer ids; the list-ORDER-BY form pins the tie-break). */
  private def duckCanonicalSql: String =
      s"""$duckCcGroupCtes,
         |scored AS (SELECT g.member_id, g.group_id, length(d.text) AS score
         |  FROM groups g JOIN documents d ON d.doc_id = g.member_id),
         |keep AS (SELECT group_id,
         |    (list(member_id ORDER BY score DESC, member_id ASC))[1] AS keep_id
         |  FROM scored GROUP BY group_id)
         |SELECT s.member_id, s.group_id, k.keep_id,
         |  s.member_id = k.keep_id AS kept
         |FROM scored s JOIN keep k USING (group_id)
         |ORDER BY member_id""".stripMargin

  private def duckMinhashPairsSql: String =
      s"""WITH ws AS (SELECT doc_id, $duckWords AS w FROM documents),
         |sh AS (
         | SELECT doc_id, ${duckSha60("sgl")} AS x
         | FROM (SELECT doc_id, unnest(CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
         |   ELSE list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) END) AS sgl
         |   FROM ws)),
         |m1 AS (SELECT doc_id, i, xor(x::UBIGINT, ((i + 1)::UBIGINT * 737894404660::UBIGINT)) AS z
         |       FROM (SELECT doc_id, x, unnest(range(64)) AS i FROM sh)),
         |$duckMixCtes,
         |sig AS (SELECT doc_id, i,
         |   min(CASE WHEN z >= 9223372036854775808::UBIGINT
         |            THEN (z::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
         |            ELSE z::BIGINT END) AS h
         |  FROM m7 GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, (i // 4) AS band,
         |            string_agg(h::VARCHAR, ',' ORDER BY i) AS band_key
         |          FROM sig GROUP BY doc_id, (i // 4)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
         |         WHERE a.doc_id < b.doc_id),
         |sets AS (SELECT doc_id, list(DISTINCT x) AS sx FROM sh GROUP BY doc_id)
         |SELECT id_a, id_b, round(jac, 4) AS jaccard
         |FROM (SELECT c.id_a, c.id_b,
         |        len(list_intersect(sa.sx, sb.sx))::DOUBLE /
         |        (len(sa.sx) + len(sb.sx) - len(list_intersect(sa.sx, sb.sx))) AS jac
         |      FROM cand c
         |      JOIN sets sa ON sa.doc_id = c.id_a
         |      JOIN sets sb ON sb.doc_id = c.id_b)
         |WHERE jac >= 0.2 ORDER BY id_a, id_b""".stripMargin
}
