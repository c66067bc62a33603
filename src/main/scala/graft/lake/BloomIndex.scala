package graft.lake

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.pipeline.{Bloom, BloomFilterAgg}

/** Per-file Bloom-filter sidecars for POINT LOOKUPS on high-cardinality
  * columns (the Iceberg puffin / parquet-bloom idea, table-format level).
  *
  * Min/max stats prune range predicates well, but a point lookup on a
  * hash-distributed column (`WHERE commit = '<sha>'`) matches every file's
  * [min, max] — zero pruning, full scan. The sidecar stores one Bloom
  * filter per data file over xxhash64(column); a lookup tests the key
  * against each file's filter DISTRIBUTED (a planning-time manifest join,
  * the same shape as stats pruning) and opens only may-contain files: at
  * ~10 bits/key that is FP·N + (true hits) files instead of N. For a
  * 10^7-file table a point lookup opens ~1 file + ~1% false positives
  * instead of all 10^7.
  *
  * Correct by construction under table churn:
  *  - files APPENDED after the index build are absent from the sidecar and
  *    are always KEPT (left join, null bloom → cannot be wrongly pruned);
  *  - files REMOVED since the build drop out via the join with the LIVE
  *    manifest (stale sidecar rows are dead weight, never wrong);
  *  - a bloom negative is definite (no false negatives by construction),
  *    and the row-level filter still applies to every opened file.
  *
  * The sidecar lives OUTSIDE the hot manifest (meta/bloom-<col>-v<V>
  * .parquet): manifest entries stay a few hundred bytes and the ~KB/file
  * filter bytes are read only when a point predicate actually arrives.
  */
object BloomIndex {
  val numHashes = 7 // ≈ (10 bits/key)·ln2

  /** next power of two ≥ bitsPerKey·keys, floor 1024 (multiple of 64). */
  def bitsFor(maxKeysPerFile: Long, bitsPerKey: Int = 10): Int = {
    val want = math.max(1024L, maxKeysPerFile * bitsPerKey)
    require(want <= (1L << 26), s"bloom too large: $want bits/file")
    var p = 1024
    while (p < want) p <<= 1
    p
  }

  private def sidecarRel(column: String, version: Long, bits: Int) =
    s"meta/bloom-$column-v$version-b$bits.parquet"

  /** newest sidecar for `column` at or before the current version, with its
    * filter size parsed from the name — planning needs zero reads to learn
    * the probe shape. Returns (relPath, version, bits). */
  def sidecarFor(table: GraftTable, column: String): Option[(String, Long, Int)] = {
    val cur = table.currentVersion
    val pat = s"bloom-$column-v(\\d+)-b(\\d+)\\.parquet".r
    table.io.list("meta").flatMap {
      case pat(v, b) if v.toLong <= cur => Some((v.toLong, b.toInt))
      case _ => None
    }.maxByOption(_._1)
      .map { case (v, b) => (sidecarRel(column, v, b), v, b) }
  }

  /** Build (or refresh) the sidecar for `column` over the CURRENT
    * snapshot's live files: ONE distributed pass (scan → per-file bloom
    * aggregation, partial+final — each file contributes its fixed-size
    * bitmap to the shuffle, never its keys), written distributed, one row
    * per file; older sidecars for the column are dropped. Returns (files
    * indexed, from the write's row count, bits per filter). */
  def build(table: GraftTable, column: String = "commit",
            bitsPerKey: Int = 10): (Long, Int) = {
    val snap = table.currentSnapshot.getOrElse(return (0L, 0))
    require(table.dataColumnNames.contains(column), s"no such column $column")
    // size every filter for the LARGEST file (uniform bits keep the probe
    // expression a single constant-size test)
    val maxRows = table.manifest(snap).agg(max(col("record_count"))).head() match {
      case r if r.isNullAt(0) => return (0L, 0)
      case r => r.getLong(0)
    }
    val bits = bitsFor(maxRows, bitsPerKey)
    val bloomAgg = udaf(new BloomFilterAgg(bits, numHashes), Encoders.scalaLong)
    // the live files' physical rows: a pending merge-on-read delete only
    // adds keys to a filter, which can never cause a false negative (and
    // input_file_name() refuses scan()'s anti-join of two sources).
    // relativize distributed: the table layout is always data/<batch>/<file>
    val side = table.scanFiles()
      .select(input_file_name().as("abs"), xxhash64(col(column)).as("h"))
      .groupBy(regexp_extract(col("abs"), "(data/[^/]+/[^/]+)$", 1).as("file_path"))
      .agg(bloomAgg(col("h")).as("bloom"), count(lit(1)).as("n_keys"))
    val rel = sidecarRel(column, snap.version, bits)
    val n = GraftDataFileWriter.writeShard(table.io, side, rel)
    // drop superseded sidecars (best effort — a concurrent reader of an old
    // one only loses pruning, never correctness)
    val pat = s"bloom-$column-v(\\d+)-b\\d+\\.parquet".r
    table.io.list("meta").foreach {
      case f @ pat(v) if v.toLong < snap.version => table.io.delete(s"meta/$f")
      case _ => ()
    }
    (n, bits)
  }

  /** Prune a live-manifest DataFrame with the sidecars matching the
    * TOP-LEVEL point conjuncts (EqualTo / IN) of `filters`: a file whose
    * filter rules out a conjunct's every value cannot hold a row satisfying
    * the whole conjunction. Files without a sidecar row (appends after the
    * build, rewrites) keep — pruning is never optimistic. Shared by the
    * DSv2 scan planning, SQL DELETE and UPDATE candidate selection. */
  def prunedManifest(table: GraftTable, man: DataFrame,
                     filters: Array[org.apache.spark.sql.sources.Filter])
      : DataFrame = {
    val ps = points(filters)
    if (ps.isEmpty) return man
    val spark = table.spark
    ps.foldLeft(man) { case (df, (c, vs)) =>
      sidecarFor(table, c) match {
        case None => df
        case Some((rel, _, bits)) =>
          val abs = table.io.abs(rel).toString
          val bcol = s"_bloom_$c"
          val side = spark.read.schema("file_path STRING, bloom BINARY")
            .parquet(abs).select(col("file_path"), col("bloom").as(bcol))
          val mayContain = vs.map(v =>
              Bloom.bloom_contains(xxhash64(lit(v)), col(bcol), bits, numHashes))
            .reduce(_ || _)
          df.join(side, Seq("file_path"), "left_outer")
            .filter(col(bcol).isNull || mayContain)
            .drop(bcol)
      }
    }
  }

  /** the top-level point conjuncts (column, values) of `filters`. */
  private def points(filters: Array[org.apache.spark.sql.sources.Filter])
      : Seq[(String, Seq[String])] = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    filters.toSeq.flatMap {
      case EqualTo(c, v: String) => Some(c -> Seq(v))
      case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        Some(c -> vs.toSeq.map(_.asInstanceOf[String]))
      case _ => None
    }
  }

  /** whether [[prunedManifest]] would probe a sidecar for `filters`. */
  def applies(table: GraftTable, filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    points(filters).exists { case (c, _) => sidecarFor(table, c).isDefined }

  /** Point-lookup scan: `SELECT ... WHERE column = value` opening only
    * bloom-may-contain files. Returns (rows, totalFiles, openedFiles);
    * degrades to the full file list when no sidecar exists. Pending
    * merge-on-read deletes are applied like prunedScan does. */
  def lookup(table: GraftTable, column: String, value: String)
      : (DataFrame, Int, Int) = {
    val spark = table.spark
    import spark.implicits._
    val snap = table.currentSnapshot.getOrElse(
      return (table.readFiles(Seq.empty).filter(col(column) === value), 0, 0))

    def pruned(man: DataFrame): DataFrame = prunedManifest(table, man,
      Array(org.apache.spark.sql.sources.EqualTo(column, value)))

    val rowFilter = col(column) === value
    // total from the snapshot's arithmetic file count — zero planning jobs
    // (count() only for pre-field tables)
    if (table.hasMorDeletes(snap)) {
      // BOTH pending delete flavors apply, like prunedScan: an eq-only
      // branch here returned rows already retracted by posdel shards
      // (MoR UPDATE's pre-image, positional DELETEs)
      val m = table.manifestWithSeq(snap)
      val total = if (snap.fileCount >= 0) snap.fileCount.toInt else m.count().toInt
      val kept = table.seqPairs(pruned(m))
      (table.morScan(snap, kept).filter(rowFilter), total, kept.size)
    } else {
      val m = table.manifest(snap)
      val total = if (snap.fileCount >= 0) snap.fileCount.toInt else m.count().toInt
      val kept = pruned(m).select("file_path").as[String].collect().toSeq
      (table.readFiles(kept).filter(rowFilter), total, kept.size)
    }
  }
}
