package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** MERGE-ON-READ deletes — the write-cheap complement to [[Delete]]'s
  * copy-on-write path (Iceberg's two delete strategies, re-expressed
  * Spark-first).
  *
  * `deleteWhere` commits only the matching keys (repo, path, commit) as an
  * "eqdel" manifest shard: no data file is opened for writing, so retracting
  * rows scattered across a 100-TB table costs one key-sized write instead of
  * rewriting every touched file. Reads apply pending deletes as a hash
  * anti-join on the key (GraftTable.withEqDeletesApplied); the shard
  * sequence rule — a delete at seq D hits only rows whose add shard seq
  * is < D — keeps later re-inserts of the same key alive.
  *
  * `applyDeletes` is the materialization (Iceberg's rewrite-deletes): only
  * files that can POSSIBLY contain a deleted key (manifest min/max stats vs
  * the key set) are rewritten, the eqdel shards are dropped, and the live
  * row set is — by construction — unchanged.
  *
  * Division of labor with the copy-on-write ops: compact / cluster / merge /
  * update / CoW-delete all materialize pending deletes first (their rewrites
  * re-sequence the files, which would detach the logical deletes), so a
  * table never carries eqdel state through a data rewrite.
  */
object MorDelete {

  final case class ApplyResult(affectedFiles: Int, untouchedFiles: Int,
                               droppedShards: Int)

  /** Merge-on-read DELETE of rows matching the pushed-filter conjunction.
    * Planning prunes the manifest by stats exactly like the CoW path; the
    * matching keys are computed DISTRIBUTED from the pruned live scan
    * (pending earlier deletes applied, so a key never enters two shards)
    * and written as one parquet shard. Returns the matched row count;
    * matching nothing commits nothing. */
  def deleteWhere(table: GraftTable, filters: Array[Filter]): Long = {
    val snap = table.currentSnapshot.getOrElse(return 0L)
    val kept = table.seqPairs(table.manifestWithSeq(snap).filter(GraftScan.manifestPredicate(filters)))
    if (kept.isEmpty) return 0L
    // the live view must apply BOTH pending delete flavors: eqdels only
    // would re-match rows already position-deleted, land their keys in the
    // new eqdel shard and double-subtract them from recordCount (morScan
    // carries add_seq through for the eq sequence rule, drops helpers)
    val live = table.morScan(snap, kept)
    deleteMatching(table,
      live.filter(coalesce(Delete.rowPredicate(filters), lit(false))))
  }

  /** Column-predicate variant (library callers): no stats pruning — the
    * predicate may reference any column shape. */
  def deleteWhere(table: GraftTable, condition: Column): Long =
    deleteMatching(table, table.scan().filter(coalesce(condition, lit(false))))

  private def deleteMatching(table: GraftTable, matching: DataFrame): Long = {
    // the basis snapshot fixes the del_seq; the strict commit conflicts if
    // the head moves before it lands (the stamped seq would be wrong
    // against a different shard sequence)
    val basis = table.currentSnapshot
    val delSeq = table.nextEqDeleteSeq(basis)
    val keys = matching.select(col("repo"), col("path"), col("commit"),
      lit(delSeq).as("del_seq"))
    val (shardRel, matched) = writeDeleteShard(table, "eqdel", keys).getOrElse(return 0L)
    // metadata-only: the live record count drops by the matched rows, the
    // file count does not
    table.publish(PendingCommit("mor-delete", basis, PendingCommit.Strict,
      shards = Seq(PendingCommit.Written("eqdel", shardRel)), recordDelta = -matched))
    matched
  }

  /** keys written as a new `kind` ("eqdel" or "posdel") delete shard of
    * table, in one Spark job: (its rel, its rows), the count being the
    * write's own; None, and no shard left behind, when keys is empty. */
  private[lake] def writeDeleteShard(table: GraftTable, kind: String,
                                     keys: DataFrame): Option[(String, Long)] = {
    val rel = s"meta/manifest-$kind-${java.util.UUID.randomUUID().toString.take(12)}.parquet"
    val rows = GraftDataFileWriter.writeShard(table.io, keys, rel)
    if (rows == 0L) { table.io.delete(rel); None } else Some(rel -> rows)
  }

  /** a position-delete shard's rows, (file_path, pos), from a scan that
    * kept each row's `_file` and `_pos`. */
  private[lake] def addresses(matching: DataFrame): DataFrame =
    matching.select(col("_file").as("file_path"), col("_pos").as("pos"))

  /** Merge-on-read POSITIONAL delete of rows matching the pushed-filter
    * conjunction: matching rows' (file, ordinal) addresses are committed as
    * a "posdel" shard — like deleteWhere, no data file is rewritten; unlike
    * it, a later re-insert of the same key is untouched BY CONSTRUCTION
    * (the address binds to a physical file, so no sequence rule at all) and
    * reads apply a long-ordinal probe instead of a three-string key compare.
    * Planning prunes by stats; matching runs on the pending-delete-applied
    * live scan, so an address never enters two shards. */
  def deleteWherePositional(table: GraftTable, filters: Array[Filter]): Long = {
    val snap = table.currentSnapshot.getOrElse(return 0L)
    val kept = table.seqPairs(table.manifestWithSeq(snap).filter(GraftScan.manifestPredicate(filters)))
    if (kept.isEmpty) return 0L
    deletePositionalMatching(table, snap,
      table.morScanKeepPos(snap, kept)
        .filter(coalesce(Delete.rowPredicate(filters), lit(false))))
  }

  /** Column-predicate variant (library callers): no stats pruning. */
  def deleteWherePositional(table: GraftTable, condition: Column): Long = {
    val snap = table.currentSnapshot.getOrElse(return 0L)
    deletePositionalMatching(table, snap, table.morScanKeepPos(snap,
      table.seqPairs(table.manifestWithSeq(snap))).filter(coalesce(condition, lit(false))))
  }

  private def deletePositionalMatching(table: GraftTable, basis: Snapshot,
                                       matching: DataFrame): Long = {
    val (shardRel, matched) =
      writeDeleteShard(table, "posdel", addresses(matching)).getOrElse(return 0L)
    // the matched count and the "row not already deleted" guarantee were
    // computed against `basis`, so a moved head conflicts
    table.publish(PendingCommit("mor-posdelete", Some(basis), PendingCommit.Strict,
      shards = Seq(PendingCommit.Written("posdel", shardRel)), recordDelta = -matched))
    matched
  }

  /** Materialize pending merge-on-read deletes (BOTH flavors) into data
    * files. Equality-affected files are selected by joining the manifest's
    * per-file (min/max repo, min/max path, add_seq) stats against the delete
    * keys — a broadcast range-containment semi-join over METADATA (one row
    * per file vs the key set; delete key sets are the small side by design —
    * Iceberg holds them whole in task memory); position-affected files fall
    * straight out of the address shards (they NAME their files). Untouched
    * files keep their shards; the rewrite reads only the affected files,
    * applies both anti-joins, and the commit drops every delete shard.
    * No-op when nothing is pending. */
  def applyDeletes(table: GraftTable): ApplyResult = {
    val snap = table.currentSnapshot.getOrElse(return ApplyResult(0, 0, 0))
    val eqShards = table.eqDeleteShards(snap)
    val posShards = table.posDeleteShards(snap)
    if (eqShards.isEmpty && posShards.isEmpty) return ApplyResult(0, 0, 0)
    val m = table.manifestWithSeq(snap)
    val affectedEq =
      if (eqShards.isEmpty) Seq.empty[(String, Long)]
      else {
        val keys = table.eqDeleteKeys(snap)
        table.seqPairs(m.join(broadcast(keys),
          keys("repo") >= m("min_repo") && keys("repo") <= m("max_repo") &&
          keys("path") >= m("min_path") && keys("path") <= m("max_path") &&
          m("add_seq") < keys("del_seq"),
          "left_semi"))
      }
    val affectedPos =
      if (posShards.isEmpty) Seq.empty[(String, Long)]
      else table.seqPairs(m.join(table.posDeleteKeys(snap).select(col("file_path")).distinct(),
        Seq("file_path"), "left_semi"))
    val affected = (affectedEq ++ affectedPos).distinct
    val untouched =
      if (snap.fileCount >= 0) (snap.fileCount - affected.size).toInt else -1
    val added =
      if (affected.isEmpty) Seq.empty[ManifestEntry]
      else table.writeDataFilesRouted(table.morScan(snap, affected), "apply-deletes")
    // every delete shard is dropped; the live record count is unchanged
    // (the MoR commits already subtracted the deleted rows)
    val removed = affected.map(_._1).toSet
    table.publish(PendingCommit("apply-deletes", Some(snap), PendingCommit.Strict,
      PendingCommit.KeepData,
      Seq(PendingCommit.Entries(added), PendingCommit.Removes(removed)),
      fileDelta = added.size - removed.size))
    ApplyResult(affected.size, untouched, eqShards.size + posShards.size)
  }

  /** materialize-if-pending guard for the copy-on-write rewrite paths. */
  def materializeIfPending(table: GraftTable): Unit =
    if (table.hasPendingDeletes) { applyDeletes(table); () }

  /** Compact the PENDING delete shards: k eqdel shards merge into one and k
    * posdel shards into one — a metadata-only commit (no data file touched)
    * that bounds what every read must open after a long run of MoR commits
    * (each commit adds a shard; reads union them all). Sequence safety: the
    * equality rule compares the ROW-LEVEL del_seq stamped at delete time,
    * which the merge carries through verbatim — the merged shard's own list
    * position is irrelevant; positions have no sequence at all. Returns
    * (eqdel shards merged, posdel shards merged). */
  def compactDeleteShards(table: GraftTable): (Int, Int) = {
    val snap = table.currentSnapshot.getOrElse(return (0, 0))
    val eq = table.eqDeleteShards(snap)
    val pos = table.posDeleteShards(snap)
    if (eq.size <= 1 && pos.size <= 1) return (0, 0)
    val kept = table.manifestShards(snap)
      .filterNot(sh => (eq.size > 1 && sh.kind == "eqdel") ||
                       (pos.size > 1 && sh.kind == "posdel"))
    def read(shards: Seq[ManifestShard], schema: StructType) = table.spark.read.schema(schema)
      .parquet(shards.map(sh => table.io.abs(sh.path).toString): _*)
    def merged(kind: String, keys: DataFrame) =
      writeDeleteShard(table, kind, keys.coalesce(1)).map(s => PendingCommit.Written(kind, s._1))
    val eqMerged = if (eq.size <= 1) None else merged("eqdel", read(eq, GraftTable.eqDeleteSchema))
    // stacked deletes never duplicate addresses, but cheap insurance
    val posMerged = if (pos.size <= 1) None
      else merged("posdel", read(pos, GraftTable.posDeleteSchema).distinct())
    // the same live rows behind a bounded shard list: counts unchanged
    table.publish(PendingCommit("compact-deletes", Some(snap), PendingCommit.Strict,
      PendingCommit.Replace(kept, snap.recordCount, snap.fileCount),
      eqMerged.toSeq ++ posMerged))
    (if (eq.size > 1) eq.size else 0, if (pos.size > 1) pos.size else 0)
  }
}
