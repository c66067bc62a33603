package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.Filter

/** MERGE-ON-READ row changes — the Iceberg-v2 write path for UPDATE and
  * MERGE, composed from the two MoR delete flavors this format already has:
  * a row change = position-delete the OLD addresses + append the NEW rows,
  * committed as ONE snapshot.
  *
  * Why it matters at 100 TB: the copy-on-write paths (Update/Maintenance.
  * mergeInto) rewrite every file that holds a matched row — correct, but a
  * point update scattered across 10^4 files rewrites 10^4 files. The MoR
  * path writes the matched rows' addresses (bytes ∝ matches) plus only the
  * NEW row values; the old files are untouched until a later applyDeletes /
  * compaction materializes at leisure. Reads pay the usual pending-delete
  * anti-join (a long-ordinal probe) until then.
  *
  * Atomicity: the posdel shard and the add shard land in the SAME snapshot,
  * so readers see either the old rows or the new rows, never both and never
  * neither. Time travel to the pre-update snapshot still reads the old
  * values (the addressed files are physically retained until expiry).
  *
  * Interplay with the rest of the format (all inherited, nothing special-
  * cased): rewrites materialize pending deletes first, rewriteManifests
  * refuses while pending, aggregate pushdown refuses (counts become upper
  * bounds), incremental/changelog reads refuse crossing a `mor-update` /
  * `mor-merge` commit (a row REWRITE is not expressible as appends or
  * delete records — same stance as the CoW ops), and the new rows' add
  * shard sits at a higher seq than every pending equality delete, so they
  * survive those exactly like any fresh append.
  */
object MorUpdate {

  final case class MorUpdateResult(updatedRows: Long, newFiles: Int)
  final case class MorMergeResult(updated: Long, inserted: Long, newFiles: Int)

  /** UPDATE ... SET ... WHERE ... as one merge-on-read snapshot. Candidate
    * files are stats+bloom pruned exactly like the CoW path; matching runs
    * on the pending-delete-applied live scan of the candidates. */
  def updateWhereMor(table: GraftTable, filters: Array[Filter],
                     set: Map[String, Column]): MorUpdateResult = {
    val snap = table.currentSnapshot.getOrElse(return MorUpdateResult(0, 0))
    val cand = table.seqPairs(BloomIndex.prunedManifest(table, table.manifestWithSeq(snap), filters)
      .filter(GraftScan.manifestPredicate(filters)))
    if (cand.isEmpty) return MorUpdateResult(0, 0)
    val live = table.morScanKeepPos(snap, cand)
    run(table, snap, live,
      coalesce(Delete.rowPredicate(filters), lit(false)), set)
  }

  /** Column-predicate variant (library callers): no stats pruning. */
  def updateWhereMor(table: GraftTable, condition: Column,
                     set: Map[String, Column]): MorUpdateResult = {
    val snap = table.currentSnapshot.getOrElse(return MorUpdateResult(0, 0))
    run(table, snap, table.morScanKeepPos(snap, table.seqPairs(table.manifestWithSeq(snap))),
      coalesce(condition, lit(false)), set)
  }

  private def run(table: GraftTable, basis: Snapshot, live: DataFrame,
                  pred: Column, set: Map[String, Column]): MorUpdateResult = {
    require(set.nonEmpty, "UPDATE with no assignments")
    val assignable = table.dataColumnNames.toSet
    val bad = set.keySet.diff(assignable)
    require(bad.isEmpty, s"cannot assign columns $bad (z is derived; " +
      s"assignable: ${assignable.mkString(", ")})")
    val matching = live.filter(pred).cache()
    try {
      // the NEW rows: assignments applied, addresses dropped, z recomputed
      // by the write (assignments to z-feeding columns stay consistent)
      val projected = table.dataColumnNames.map { c =>
        set.get(c) match {
          case Some(v) => v.as(c)
          case None    => col(c)
        }
      }
      val added = table.writeDataFilesRouted(
        matching.select(projected.toIndexedSeq: _*), "mor-update")
      val updatedRows = added.map(_.record_count).sum
      if (updatedRows == 0L) {
        // nothing matched: drop the empty batch, commit nothing
        added.foreach(e => table.io.delete(e.file_path))
        return MorUpdateResult(0, 0)
      }
      val posRel = MorDelete.writeDeleteShard(table, "posdel", MorDelete.addresses(matching))
      table.publish(PendingCommit.rowChange(basis, added, posRel.map(_._1).toSeq, updatedRows,
        "mor-update"))
      MorUpdateResult(updatedRows, added.size)
    } finally matching.unpersist()
  }

  /** MERGE INTO keyed on (repo, path, commit) as one merge-on-read
    * snapshot: matched keys' old addresses are position-deleted, the
    * source's rows (updates AND inserts) are appended — the whole merge
    * writes bytes ∝ |source| + |matches|, never rewriting a target file.
    * The same plan-stats broadcast decision as the CoW merge. */
  def mergeIntoMor(table: GraftTable, source: DataFrame,
                   broadcastBytes: Long = 32L << 20): MorMergeResult = {
    val keys = Seq("repo", "path", "commit")
    val dataCols = table.dataColumnNames
    val source0 = table.conform(source).select(dataCols.map(col): _*)

    val snapOpt = table.currentSnapshot
    if (snapOpt.isEmpty) {
      val added = table.writeDataFilesRouted(source0, "mor-merge")
      table.commit(added, Set.empty, "append")
      return MorMergeResult(0, added.map(_.record_count).sum, added.size)
    }
    val snap = snapOpt.get
    val src = source0.cache()
    try {
      val srcKeys = src.select(keys.map(col): _*).distinct()
      val small = source.queryExecution.optimizedPlan.stats.sizeInBytes <= broadcastBytes
      def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df

      // ONE full pass: matched rows' addresses (and their key set)
      val matched = table.morScanKeepPos(snap, table.seqPairs(table.manifestWithSeq(snap)))
        .join(hinted(srcKeys), keys, "left_semi")
        .select((keys.map(col) :+ col("_file") :+ col("_pos")): _*)
        .cache()
      try {
        val matchedKeys = matched.select(keys.map(col): _*).distinct()
        val updates = src.join(hinted(matchedKeys), keys, "left_semi")
        val inserts = src.join(hinted(matchedKeys), keys, "left_anti")
        val added = table.writeDataFilesRouted(updates.unionByName(inserts), "mor-merge")
        // one address per matched live row: the shard's rows are the updated rows
        val posShard = MorDelete.writeDeleteShard(table, "posdel", MorDelete.addresses(matched))
        val updatedRows = posShard.fold(0L)(_._2)
        val insertedRows = added.map(_.record_count).sum - updates.count()
        if (added.isEmpty && posShard.isEmpty) return MorMergeResult(0, 0, 0)
        table.publish(PendingCommit.rowChange(snap, added, posShard.map(_._1).toSeq, updatedRows,
          "mor-merge"))
        MorMergeResult(updatedRows, insertedRows, added.size)
      } finally matched.unpersist()
    } finally src.unpersist()
  }

  final case class UpsertResult(inserted: Long, retracted: Long, version: Long)

  /** CDC UPSERT by key — the Flink/Iceberg "upsert mode" write shape: land
    * `batch` (one full row per (repo, path, commit) key; CDC streams
    * deliver exactly that) as ONE merge-on-read snapshot holding an
    * equality delete on the batch's live-matched keys plus an append of
    * the batch rows. No MERGE join drives the write, no target file is
    * rewritten: a scattered 10^4-key upsert costs key-bytes of delete
    * shard + the batch's own files, and materialization happens at leisure
    * (applyDeletes / the next compaction).
    *
    * Exactness: recordCount must stay exact (the zero-job sizing
    * arithmetic depends on it), so the retraction count is measured with
    * one key-projected semi-join of the live scan against the BROADCAST
    * batch keys — the one scan-shaped job an exact-live-count engine pays
    * where Iceberg lets total-records drift. The same pass prunes the
    * delete shard to the keys that actually match something live, so a
    * pure-insert batch commits as a plain append with no pending-delete
    * state at all. */
  def upsertBatch(table: GraftTable, batch: DataFrame,
                  operation: String = "mor-upsert"): UpsertResult = {
    val keys = Seq("repo", "path", "commit")
    val basis = table.currentSnapshot
    val delSeq = table.nextEqDeleteSeq(basis)
    val batchKeys = batch.select(keys.map(col): _*).distinct()
    // live rows hit by the batch's keys: persisted because it serves both
    // the exact retraction count and the pruned delete-key shard
    val liveMatches = basis match {
      case None => None
      case Some(_) =>
        val m = table.scan().select(keys.map(col): _*)
          .join(broadcast(batchKeys), keys, "left_semi").persist()
        Some(m)
    }
    try {
      val retracted = liveMatches.map(_.count()).getOrElse(0L)
      val shardRel =
        if (retracted == 0L) None
        else MorDelete.writeDeleteShard(table, "eqdel",
          liveMatches.get.distinct().withColumn("del_seq", lit(delSeq))).map(_._1)
      val added = table.writeDataFilesRouted(batch, "upsert")
      if (added.isEmpty && shardRel.isEmpty)
        return UpsertResult(0L, 0L, basis.map(_.version).getOrElse(0L))
      // ONE snapshot: the eqdel shard (del_seq = s) before the add shard
      // (seq s+1), so the batch's own rows survive their own retraction
      val snap = table.publish(PendingCommit(operation, basis, PendingCommit.Strict,
        shards = shardRel.map(PendingCommit.Written("eqdel", _)).toSeq :+
          PendingCommit.Entries(added),
        recordDelta = PendingCommit.rows(added) - retracted, fileDelta = added.size))
      UpsertResult(added.map(_.record_count).sum, retracted, snap.version)
    } finally liveMatches.foreach(_.unpersist())
  }

  /** foreachBatch adapter with exactly-once epoch replay protection (the
    * same marker + chain-walk guard the append streaming sink uses):
    * {{{ stream.writeStream.foreachBatch(MorUpdate.upsertSink(loc, "cdc-1")) }}}
    * A replayed epoch (sink-side recovery re-runs the last batch) finds its
    * (sinkId, epochId) marker and commits nothing — the table never holds
    * an epoch twice. */
  def upsertSink(location: String, sinkId: String)
      : (DataFrame, Long) => Unit = { (batch, epochId) =>
    val table = new GraftTable(batch.sparkSession, location)
    val op = s"mor-upsert sink=$sinkId epoch=$epochId"
    val markerRel = s"meta/stream-upsert-$sinkId.text"
    if (!table.epochReplayed(markerRel, op, epochId)) {
      val r = upsertBatch(table, batch, op)
      table.io.writeAtomic(markerRel, s"$epochId ${r.version}")
    }
  }
}
