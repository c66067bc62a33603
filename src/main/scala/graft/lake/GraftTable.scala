package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.core.io.JsonStringEncoder
import java.util.UUID

/** Iceberg-style table format built from scratch (no lakehouse jars in this
  * environment — SURVEY.md §7.1): parquet data files + a sharded manifest
  * tree + json snapshots + an atomically-renamed version-hint.
  *
  * Layout:
  * {{{
  *   <location>/data/<batch>/part-....parquet    data files
  *   <location>/meta/manifest-add-v<N>.parquet    entries ADDED by commit N
  *   <location>/meta/manifest-remove-v<N>.parquet file paths REMOVED by commit N
  *   <location>/meta/manifest-list-v<N>.parquet   ordered add/remove shard list
  *   <location>/meta/snapshot-v<N>.json           snapshot metadata
  *   <location>/meta/version-hint.text            current version (atomic rename)
  *   <location>/lineage/...                       sidecar lineage table
  * }}}
  *
  * Commits are APPEND-ONLY metadata: each commit writes only its own delta
  * shards plus a new manifest-list referencing the parent's shards — O(delta)
  * per commit, never a rewrite of the live-entry union. The live view is
  * reconstructed as a DataFrame (adds anti-join removes), so manifest pruning
  * happens distributed and only the surviving file list is ever collected
  * (that collect is the same planning cost Spark's own FileSourceScan/Iceberg
  * pay). `rewriteManifests` is the manifest-tree compaction that re-bases the
  * list onto one shard.
  *
  * All filesystem access goes through [[LakeIO]] (Hadoop FileSystem API —
  * object-store portable); commit METADATA (a handful of rows per commit) is
  * written driver-side via [[MetaIO]] with zero Spark jobs, while data files
  * and large manifest rewrites stay distributed Spark writes. The snapshot
  * record count is maintained arithmetically (parent + added − removed), so
  * a commit does not re-aggregate the manifest.
  *
  * Readers resolve the version hint once, then only read files referenced by
  * that snapshot's manifest list → snapshot isolation for concurrent
  * maintenance.
  *
  * WRITERS use optimistic concurrency (Iceberg-style), not a lock service:
  * each commit must win an atomic exclusive-create EDGE CLAIM
  * (`meta/edge-<ref>-v<parent>`) to extend its ref from its parent, so
  * concurrent commits are serialized per ref with lost races DETECTED —
  * adds-only commits (append, streaming epochs, WAP publish) rebase onto the
  * winner and retry; rewrite commits VALIDATE-AND-REBASE over compatible
  * interleaves (commitRewrite — the Iceberg RewriteFiles stance) and throw
  * [[CommitConflictException]] only on genuine overlap; content-dependent
  * commits (MERGE, MoR deletes) always conflict on a moved head. Version ids
  * stay globally unique across refs via per-version claims. See the
  * "optimistic concurrency" section below.
  */
/** fileCount = live data files at this snapshot, maintained arithmetically
  * like recordCount (-1 when unknown, e.g. tables written before the field
  * existed) — sizing decisions (manifest-rewrite sharding) read it instead
  * of running a count job over the manifest union. */
final case class Snapshot(version: Long, parent: Long, tsMillis: Long,
                          operation: String, manifest: String, recordCount: Long,
                          fileCount: Long = -1L,
                          // schema evolution (add-column, metadata-only): the
                          // columns beyond the base code schema as a DDL
                          // fragment ("stars INT,score DOUBLE"), plus the
                          // tombstone list of dropped names — name-based
                          // column mapping, so a dropped name may never be
                          // reused (it would resurrect old files' values)
                          extraCols: String = "",
                          droppedCols: String = "",
                          // the ref (main or a branch name) this commit
                          // advanced — the audit trail of WHICH line a
                          // snapshot extended, and the recovery anchor for a
                          // lost head hint on a linear table
                          ref: String = "main")

/** An optimistic-concurrency commit lost its race: another writer extended
  * the same ref from the same parent first. Append-like commits rebase and
  * retry internally and only throw this when the winning commit never
  * surfaces (a crashed writer's stale edge claim — see
  * [[GraftTable.repairRefs]]); rewrite commits (compact/cluster/merge/
  * update/delete/rollback/schema changes) throw it immediately, because
  * their file-level work was planned against a snapshot that is no longer
  * the head — the caller re-plans against the new head and retries. */
class CommitConflictException(msg: String) extends RuntimeException(msg)

final case class ManifestEntry(file_path: String, partition: String,
                               record_count: Long, file_bytes: Long,
                               min_repo: String, max_repo: String,
                               min_path: String, max_path: String,
                               langs: Seq[String], min_z: Long, max_z: Long,
                               min_rh: Long, max_rh: Long, // xxhash64(repo) bounds
                               digest: Long, // xor of per-row content hashes
                               // per-column null counts: min/max/collect_set
                               // SKIP nulls, so a full-match proof from those
                               // stats alone would silently delete null rows
                               // a SQL DELETE must keep (WHERE cond IS TRUE).
                               // None (pre-field manifests) = unknown → the
                               // metadata-drop tier conservatively declines.
                               nulls_repo: Option[Long] = None,
                               nulls_path: Option[Long] = None,
                               nulls_lang: Option[Long] = None,
                               // storage bucket this file is PURE to (None =
                               // unbucketed / written before bucketing) — the
                               // layout invariant storage-partitioned joins
                               // ride on; any entry with None degrades the
                               // scan to unknown partitioning, never to a
                               // wrong join
                               bucket: Option[Int] = None,
                               // whether every row's z is the Z-order key
                               // ZOrderInterleave.interleave(xxhash64(repo),
                               // xxhash64(path), xxhash64(lang)), so
                               // [min_z, max_z] bounds the (repo, path)
                               // pairs the file can hold. Set per file by
                               // WriteStats.TaskStats from the rows written:
                               // Some(false) for Hilbert values, a user's or
                               // a stream's own z, a null z; None (a
                               // pre-field manifest) is unknown. Only
                               // Some(true) lets GraftScan.mayMatch prune a
                               // (repo, path) point on the z bounds.
                               z_order: Option[Boolean] = None)

final case class ManifestShard(seq: Int, kind: String, path: String) // add | remove

/** One snapshot commit as an operation describes it to [[GraftTable.publish]]
  * (the role of Iceberg's SnapshotProducer): which parent shards the new
  * list keeps, the new shards in list order, the record and file deltas
  * over the kept shards' counts, an optional schema override, and the
  * validation policy a moved head is judged by. */
private[lake] final case class PendingCommit(
    operation: String,
    basis: Option[Snapshot],
    policy: PendingCommit.Policy,
    kept: PendingCommit.Kept = PendingCommit.KeepAll,
    shards: Seq[PendingCommit.NewShard] = Seq.empty,
    recordDelta: Long = 0L,
    fileDelta: Long = 0L,
    // (extraCols, droppedCols) of evolveSchema/dropColumn; every other
    // commit inherits its parent's
    schema: Option[(String, String)] = None)

private[lake] object PendingCommit {
  sealed trait Policy
  /** adds only: rebuilt on whatever head wins a race. */
  case object Retry extends Policy
  /** a content-neutral rewrite of `replaced`: rebased over compatible
    * interleaved commits; `own` are the versions the same multi-batch run
    * committed, which the rebase walk skips. */
  final case class Rebase(replaced: Set[String], own: Set[Long] = Set.empty) extends Policy
  /** the head must still be the basis. */
  case object Strict extends Policy

  sealed trait Kept
  case object KeepAll extends Kept
  /** every parent shard but the eqdel/posdel ones (apply-deletes). */
  case object KeepData extends Kept
  /** an explicit list with its own counts (rollback, manifest rewrite,
    * delete compaction). */
  final case class Replace(shards: Seq[ManifestShard], records: Long, files: Long) extends Kept

  sealed trait NewShard
  /** an add shard written by MetaIO.writeEntries; none when empty. */
  final case class Entries(entries: Seq[ManifestEntry]) extends NewShard
  /** a remove shard written by MetaIO.writeRemoves; none when empty. */
  final case class Removes(paths: Set[String]) extends NewShard
  /** a remove shard written distributed from a `file_path` frame. */
  final case class RemovedFrame(paths: DataFrame) extends NewShard
  /** a shard the caller wrote: add (WAP publish, cherry-pick), eqdel, posdel. */
  final case class Written(kind: String, rel: String) extends NewShard

  def rows(entries: Seq[ManifestEntry]): Long = entries.map(_.record_count).sum

  /** a rewrite of `replaced` into `added`, planned against `basis`. */
  def rewrite(basis: Option[Snapshot], added: Seq[ManifestEntry], replaced: Set[String],
              operation: String, removedRecords: Long,
              own: Set[Long] = Set.empty): PendingCommit =
    PendingCommit(operation, basis, Rebase(replaced, own),
      shards = Seq(Entries(added), Removes(replaced)),
      recordDelta = rows(added) - removedRecords, fileDelta = added.size - replaced.size)

  /** a merge-on-read row change: the new rows' add shard, then the changed
    * rows' posdel shards, in one snapshot against `basis`. */
  def rowChange(basis: Snapshot, added: Seq[ManifestEntry], posShards: Seq[String],
                changedRows: Long, operation: String): PendingCommit =
    PendingCommit(operation, Some(basis), Strict,
      shards = Entries(added) +: posShards.map(Written("posdel", _)),
      recordDelta = rows(added) - changedRows, fileDelta = added.size)
}

object GraftTable {
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** per-row content hash whose xor is the order-independent file digest. */
  def rowHash(): org.apache.spark.sql.Column =
    xxhash64(col("repo"), col("path"), col("commit"), sha2(col("content"), 256))

  /** schemas supplied to every internal spark.read — parquet schema
    * inference is a driver-side job per read, and the maintenance pipeline
    * issues dozens of tiny reads, so the fixed cost adds up (r2 VERDICT
    * "What's wrong" #2). */
  val manifestSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[ManifestEntry].schema
  val dataSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("repo", StringType), StructField("path", StringType),
      StructField("commit", StringType), StructField("lang", StringType),
      StructField("content", StringType), StructField("z", LongType)))
  }
  /** merge-on-read equality-delete shard rows: the delete key plus the
    * shard's sequence number (a delete at seq D applies only to data rows
    * whose add shard seq is < D — the Iceberg sequence rule). */
  val eqDeleteSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("repo", StringType), StructField("path", StringType),
      StructField("commit", StringType), StructField("del_seq", LongType)))
  }
  /** merge-on-read POSITION-delete shard rows: (data file, row ordinal in
    * file order) — Iceberg's second delete flavor. No sequence rule needed:
    * a position binds to one immutable physical file, so re-inserted keys
    * (new files) can never collide; rewrites must materialize first. */
  val posDeleteSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("file_path", StringType), StructField("pos", LongType)))
  }
}

class GraftTable(val spark: SparkSession, val location: String,
                 // a WRITABLE ref: when set, reads resolve and commits
                 // advance this branch's head instead of main's hint (same
                 // single-writer-per-table assumption as main). Obtain via
                 // forBranch().
                 val branch: Option[String] = None) {
  import spark.implicits._

  val io = new LakeIO(location)

  def exists: Boolean = io.exists("meta/version-hint.text")

  def init(): Unit = {
    io.mkdirs("meta")
    io.mkdirs("data")
  }

  /** Current committed version. The hint is written by atomic
    * rename-overwrite so it is normally always present; if it has been lost
    * anyway (operator error, partial restore), recover by resolving the
    * highest snapshot file rather than silently reporting an empty table —
    * a reader falling back to 0 here would make the NEXT commit rebase on
    * parent=None and orphan all live data. */
  def currentVersion: Long = branch match {
    case Some(b) => branches.getOrElse(b,
      throw new IllegalArgumentException(s"no such branch $b at $location"))
    case None => mainVersion
  }

  /** main's head, whatever branch this handle views. */
  private[lake] def mainVersion: Long = {
    if (io.exists("meta/version-hint.text"))
      io.readString("meta/version-hint.text").trim.toLong
    else
      // recovery path (lost hint): resolve the highest snapshot ON MAIN'S
      // LINE — Snapshot.ref exists exactly for this. A bare max over ALL
      // snapshot files would resolve a branched table's main head to an
      // unpublished branch snapshot, serving branch data to main readers
      // and implicitly merging the branch on the next commit.
      io.list("meta")
        .flatMap { n =>
          if (n.matches("snapshot-v\\d+\\.json"))
            Some(n.stripPrefix("snapshot-v").stripSuffix(".json").toLong)
          else None
        }.sorted(Ordering[Long].reverse)
        .find(v => snapshot(v).exists(_.ref == "main"))
        .getOrElse(0L)
  }

  /** Allocate the next snapshot version. Linear tables (no branch refs ever
    * created) keep today's hint+1 — zero extra IO. Once branches exist,
    * versions are GLOBAL across all lines: max over main, every branch head,
    * the snapshot files, and the high-water mark (which survives a dropped
    * branch's head being expired — versions are never reused, so a pinned
    * reader can never silently see a different snapshot under an old id). */
  private[lake] def nextVersion: Long = {
    if (!refsExist) return mainVersion + 1
    val hwm = if (io.exists("meta/max-version.text"))
      io.readString("meta/max-version.text").trim.toLong else 0L
    // with a high-water mark present this is pure arithmetic — no listing
    // per commit. The hwm may briefly lag under racing writers (it is
    // written post-publish, possibly out of order); that is safe because
    // version CLAIMS, not this estimate, guarantee non-reuse —
    // allocateVersion just bumps past any already-claimed id.
    // hwm + main hint only — no branches() call, which would LIST meta and
    // read every head file per commit (heads are published before the hwm
    // write, so a lag is only the racing-writer dip claims already absorb)
    if (hwm > 0L) return Seq(hwm, mainVersion).max + 1
    // no hwm yet (table branched before one was ever written): one
    // recovery listing seeds it
    val listed = io.list("meta").flatMap { n =>
      if (n.matches("snapshot-v\\d+\\.json"))
        Some(n.stripPrefix("snapshot-v").stripSuffix(".json").toLong)
      else None
    }.maxOption.getOrElse(0L)
    Seq(listed, mainVersion,
      branches.values.maxOption.getOrElse(0L)).max + 1
  }

  def snapshot(version: Long): Option[Snapshot] = {
    val rel = s"meta/snapshot-v$version.json"
    // absent → no snapshot; any OTHER IO failure stays loud — a transient
    // fault mapped to None would read as "empty table"
    MetaCache.snapshots.get(io, rel, None) { _ =>
      val m = parseJsonFlat(io.readString(rel))
      // defensive: snapshot writes are atomic (tmp + rename), so a json
      // missing its core keys is foreign debris, not a torn commit — treat
      // as absent rather than crashing every reader of the table
      if (!m.contains("version")) None
      else Some(Snapshot(m("version").toLong, m("parent").toLong, m("tsMillis").toLong,
        m("operation"), m("manifest"), m("recordCount").toLong,
        m.getOrElse("fileCount", "-1").toLong,
        m.getOrElse("extraCols", ""), m.getOrElse("droppedCols", ""),
        m.getOrElse("ref", "main")))
    }
  }

  def currentSnapshot: Option[Snapshot] = {
    val v = currentVersion
    if (v == 0) None else snapshot(v)
  }

  def listSnapshots(): Seq[Snapshot] = {
    io.list("meta")
      .filter(_.matches("snapshot-v\\d+\\.json"))
      .flatMap { n =>
        val v = n.stripPrefix("snapshot-v").stripSuffix(".json").toLong
        snapshot(v)
      }.sortBy(_.version)
  }

  /** the ordered add/remove shard list of a snapshot — read driver-side
    * (tiny parquet, zero Spark jobs in scan planning). */
  def manifestShards(s: Snapshot): Seq[ManifestShard] =
    MetaIO.readShards(io, s.manifest).sortBy(_.seq)

  /** Live manifest entries of a snapshot as a DataFrame: union of add shards
    * minus union of remove shards — stays distributed until a caller prunes
    * and collects the surviving file list. */
  def manifest(s: Snapshot): DataFrame = manifestOf(manifestShards(s))

  private def manifestOf(shards: Seq[ManifestShard]): DataFrame =
    localManifest(shards) match {
      case Some(entries) =>
        // metadata-small manifest: a LocalRelation — downstream
        // filter/project/collect plan WITHOUT any Spark job (the optimizer
        // folds them into the LocalRelation), so scan planning is jobless
        import spark.implicits._
        entries.toDF()
      case None => distributedManifestOf(shards)
    }

  private def distributedManifestOf(shards: Seq[ManifestShard]): DataFrame = {
    val adds = shards.filter(_.kind == "add").map(sh => io.abs(sh.path).toString)
    val removes = shards.filter(_.kind == "remove").map(sh => io.abs(sh.path).toString)
    // a snapshot may legitimately have zero add shards (e.g. merge of an
    // empty source into an empty table) — parquet can't infer a schema from
    // zero paths, so materialize the empty manifest explicitly
    val addDf =
      if (adds.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          org.apache.spark.sql.Encoders.product[ManifestEntry].schema)
      else spark.read.schema(GraftTable.manifestSchema).parquet(adds: _*)
    if (removes.isEmpty) addDf
    else addDf.join(
      spark.read.schema("file_path STRING").parquet(removes: _*),
      Seq("file_path"), "left_anti")
  }

  /** Driver-side manifest materialization for METADATA-SMALL manifests
    * (guide §5: metadata planning is driver work; a Spark job per tiny
    * manifest read is pure fixed overhead). Returns None — keeping the
    * distributed path — when the manifest's shard files exceed the
    * size/count gate, so a 100-TB table (10^6+ files, manifest way past the
    * gate) still plans distributed. The gate is scale-adaptive by
    * construction: it measures the manifest's own bytes, not a cluster- or
    * local-mode-specific constant. */
  private[lake] def localManifest(shards: Seq[ManifestShard]): Option[Seq[ManifestEntry]] =
    localManifestSeq(shards).map(_.map(_._1))

  /** localManifest keeping each entry's add-shard seq (the MoR sequence-rule
    * input) — shared gate, shared driver-side reads. */
  private[lake] def localManifestSeq(shards: Seq[ManifestShard])
      : Option[Seq[(ManifestEntry, Long)]] = {
    val data = shards.filter(sh => sh.kind == "add" || sh.kind == "remove")
    val maxBytes = localReadMaxBytes
    if (maxBytes <= 0 || data.size > 64) return None
    // one stat per shard serves the size gate AND the cached read below
    val statted = scala.collection.mutable.ArrayBuffer
      .empty[(ManifestShard, org.apache.hadoop.fs.FileStatus)]
    var total = 0L
    val it = data.iterator
    while (it.hasNext) {
      val sh = it.next()
      val st = shardStatus(sh)
      total += shardBytes(sh, st)
      if (total > maxBytes) return None
      statted += sh -> st
    }
    val removed = statted.collect { case (sh, st) if sh.kind == "remove" =>
      MetaIO.readRemoves(io, st) }.flatten.toSet
    val adds = statted.toSeq.collect { case (sh, st) if sh.kind == "add" =>
      MetaIO.readEntries(io, sh.path, st).map(e => (e, sh.seq.toLong)) }.flatten
    Some(if (removed.isEmpty) adds else adds.filterNot(p => removed(p._1.file_path)))
  }

  private def localReadMaxBytes: Long =
    spark.conf.get("spark.graft.manifest.localReadMaxBytes", (4L << 20).toString).toLong

  private def shardStatus(sh: ManifestShard): org.apache.hadoop.fs.FileStatus =
    io.status(sh.path).getOrElse(
      throw new java.io.FileNotFoundException(s"manifest shard ${io.abs(sh.path)} is missing"))

  /** a shard's bytes: its file's, or the sum over a directory's files. */
  private def shardBytes(sh: ManifestShard, st: org.apache.hadoop.fs.FileStatus): Long =
    if (st.isDirectory) io.listWithSizes(sh.path).values.sum else st.getLen

  def manifestEntries(s: Snapshot): Seq[ManifestEntry] =
    manifest(s).as[ManifestEntry].collect().toSeq

  // ---- merge-on-read equality deletes (shard kind "eqdel") -------------
  //
  // A MoR delete commits ONLY its matching keys (repo, path, commit) plus
  // the delete's shard sequence number — no data file is rewritten, so a
  // whole-corpus retraction at 100 TB costs one small key write instead of
  // rewriting every touched file. Reads apply the deletes as an anti-join;
  // the Iceberg sequence rule makes re-inserts safe: a delete at seq D
  // applies only to rows whose ADD shard seq is < D, so a key re-appended
  // after the delete (higher add seq) survives.

  /** eqdel shards of a snapshot (empty = no pending merge-on-read deletes). */
  def eqDeleteShards(s: Snapshot): Seq[ManifestShard] =
    manifestShards(s).filter(_.kind == "eqdel")

  def hasEqDeletes(s: Snapshot): Boolean = eqDeleteShards(s).nonEmpty

  /** posdel shards of a snapshot (pending POSITIONAL deletes). */
  def posDeleteShards(s: Snapshot): Seq[ManifestShard] =
    manifestShards(s).filter(_.kind == "posdel")

  def hasPosDeletes(s: Snapshot): Boolean = posDeleteShards(s).nonEmpty

  /** any pending merge-on-read delete, either flavor. */
  def hasMorDeletes(s: Snapshot): Boolean = hasEqDeletes(s) || hasPosDeletes(s)

  /** pending deletes on the CURRENT snapshot (driver-side shard-list read). */
  def hasPendingDeletes: Boolean = currentSnapshot.exists(hasMorDeletes)

  /** live delete keys of a snapshot: (repo, path, commit, del_seq). */
  def eqDeleteKeys(s: Snapshot): DataFrame = {
    val shards = eqDeleteShards(s)
    if (shards.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], GraftTable.eqDeleteSchema)
    else spark.read.schema(GraftTable.eqDeleteSchema)
      .parquet(shards.map(sh => io.abs(sh.path).toString): _*)
  }

  /** the (file_path, add_seq) pairs of a [[manifestWithSeq]] frame. */
  private[lake] def seqPairs(m: DataFrame): Seq[(String, Long)] =
    m.select($"file_path", $"add_seq").as[(String, Long)].collect().toSeq

  /** Live manifest entries WITH the sequence number of the add shard that
    * introduced each entry (`add_seq`) — the data-side half of the MoR
    * sequence comparison. One tiny read per add shard (shard count is
    * bounded by commits since the last manifest rewrite), metadata-scale. */
  def manifestWithSeq(s: Snapshot): DataFrame = {
    val shards = manifestShards(s)
    localManifestSeq(shards) match {
      case Some(pairs) =>
        // jobless LocalRelation path (see manifestOf)
        import spark.implicits._
        pairs.toDF("e", "add_seq").select(col("e.*"), col("add_seq"))
      case None =>
        val adds = shards.filter(_.kind == "add")
        val removes = shards.filter(_.kind == "remove").map(sh => io.abs(sh.path).toString)
        val addDf = adds.map { sh =>
            spark.read.schema(GraftTable.manifestSchema).parquet(io.abs(sh.path).toString)
              .withColumn("add_seq", lit(sh.seq.toLong))
          }.reduceOption(_ unionByName _)
          .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            GraftTable.manifestSchema).withColumn("add_seq", lit(-1L)))
        if (removes.isEmpty) addDf
        else addDf.join(
          spark.read.schema("file_path STRING").parquet(removes: _*),
          Seq("file_path"), "left_anti")
    }
  }

  /** Read data files tagged with their add shard seq: one spark.read per
    * DISTINCT seq (= per add shard — a handful), unioned. */
  def readFilesWithSeq(pairs: Seq[(String, Long)]): DataFrame = {
    if (pairs.isEmpty) return emptyDf.withColumn("add_seq", lit(-1L))
    pairs.groupBy(_._2).toSeq.sortBy(_._1).map { case (seq, ps) =>
      readFiles(ps.map(_._1)).withColumn("add_seq", lit(seq))
    }.reduce(_ unionByName _)
  }

  /** Apply a snapshot's equality deletes to data rows carrying `add_seq`:
    * anti-join on the (repo, path, commit) key with the residual sequence
    * condition add_seq < del_seq — an equi-key hash anti-join (the key
    * columns are equi-join keys; the seq comparison rides as the join
    * residual), broadcast when the key set is small. Drops add_seq. */
  def withEqDeletesApplied(s: Snapshot, dataWithSeq: DataFrame): DataFrame = {
    val keys = eqDeleteKeys(s)
    dataWithSeq.join(keys,
        dataWithSeq("repo") === keys("repo") &&
        dataWithSeq("path") === keys("path") &&
        dataWithSeq("commit") === keys("commit") &&
        dataWithSeq("add_seq") < keys("del_seq"),
        "left_anti")
      .drop("add_seq")
  }

  // ---- merge-on-read POSITION deletes (shard kind "posdel") --------------
  //
  // The second Iceberg delete flavor: a shard of (data file, row ordinal)
  // addresses. Cheaper to APPLY than equality deletes (a long-ordinal probe
  // instead of a three-string key compare, no sequence rule) and exact by
  // construction — but it must be planned against the physical layout,
  // so rewrites (compact/cluster/CoW) still materialize pending deletes
  // first, exactly like the equality flavor.

  /** live position-delete addresses of a snapshot: (file_path, pos). */
  def posDeleteKeys(s: Snapshot): DataFrame = {
    val shards = posDeleteShards(s)
    if (shards.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], GraftTable.posDeleteSchema)
    else spark.read.schema(GraftTable.posDeleteSchema)
      .parquet(shards.map(sh => io.abs(sh.path).toString): _*)
  }

  /** `data/<batch>/<name>` of the file each row came from — the same
    * representation ManifestEntry.file_path uses; derived from the scan's
    * `_metadata.file_path` by splitting on the table's own data/ directory,
    * so it is robust to any location prefix (URI scheme, mounts). */
  private[lake] def relFileCol: org.apache.spark.sql.Column =
    // greedy ^.*/data/ anchors on the LAST occurrence — the same semantics
    // as GraftPosDeletes.relOf's lastIndexOf and LakeIO.relativize; a
    // left-to-right split would mis-relativize a table LOCATION that itself
    // ends in /data (".../data/data/b-x/f.parquet")
    regexp_replace(col("_metadata.file_path"), "^.*/data/", "data/")

  /** readFilesWithSeq plus each row's physical address: `_file` (manifest-
    * relative path) and `_pos` (row ordinal in file order, Spark's
    * `_metadata.row_index`). */
  def readFilesWithSeqPos(pairs: Seq[(String, Long)]): DataFrame = {
    if (pairs.isEmpty)
      return emptyDf.withColumn("add_seq", lit(-1L))
        .withColumn("_file", lit(null).cast("string"))
        .withColumn("_pos", lit(-1L))
    pairs.groupBy(_._2).toSeq.sortBy(_._1).map { case (seq, ps) =>
      readFiles(ps.map(_._1))
        .withColumn("add_seq", lit(seq))
        .withColumn("_file", relFileCol)
        .withColumn("_pos", col("_metadata.row_index"))
    }.reduce(_ unionByName _)
  }

  /** Apply a snapshot's position deletes to rows carrying (_file, _pos):
    * an equi-key hash anti-join on the address, broadcast when the delete
    * set is small. Keeps the address columns (the positional-delete write
    * path needs the SURVIVORS' addresses). */
  def withPosDeletesApplied(s: Snapshot, dataWithPos: DataFrame): DataFrame = {
    val keys = posDeleteKeys(s)
    dataWithPos.join(keys,
      dataWithPos("_file") === keys("file_path") && dataWithPos("_pos") === keys("pos"),
      "left_anti")
  }

  /** Live rows of the given (file, add_seq) pairs with EVERY pending
    * merge-on-read delete (both flavors) applied; address/seq helper
    * columns dropped. */
  private[lake] def morScan(s: Snapshot, pairs: Seq[(String, Long)]): DataFrame =
    morScanKeepPos(s, pairs).drop("_file", "_pos")

  /** as [[morScan]] but keeps (_file, _pos). */
  private[lake] def morScanKeepPos(s: Snapshot, pairs: Seq[(String, Long)]): DataFrame = {
    var df = readFilesWithSeqPos(pairs)
    if (hasPosDeletes(s)) df = withPosDeletesApplied(s, df)
    if (hasEqDeletes(s)) withEqDeletesApplied(s, df) else df.drop("add_seq")
  }

  // ---- named refs: TAGS (Iceberg-style immutable snapshot pins) ---------

  /** all tags: name → pinned snapshot version (meta/refs.json, atomic). */
  def tags: Map[String, Long] = {
    if (!io.exists("meta/refs.json")) Map.empty
    else parseJsonFlat(io.readString("meta/refs.json")).map { case (k, v) => k -> v.toLong }
  }

  /** Pin `name` to snapshot `version` (overwrites an existing tag). Tagged
    * snapshots survive expireSnapshots until the tag is dropped — the
    * audit/compliance handle: `VERSION AS OF 'v2024-audit'` keeps working
    * however much the table churns. Metadata-only, atomic rename commit. */
  def setTag(name: String, version: Long): Unit = {
    require(name.matches("[A-Za-z][A-Za-z0-9._-]*"), s"invalid tag name $name")
    require(snapshot(version).isDefined, s"no snapshot v$version to tag")
    require(!branches.contains(name), s"a branch named $name already exists")
    writeRefs(tags + (name -> version))
  }

  def dropTag(name: String): Unit = {
    val t = tags
    require(t.contains(name), s"no such tag $name")
    writeRefs(t - name)
  }

  def snapshotByTag(name: String): Option[Snapshot] =
    tags.get(name).flatMap(snapshot)

  private def writeRefs(refs: Map[String, Long]): Unit = {
    init()
    val json = refs.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    io.writeAtomic("meta/refs.json", json)
  }

  // ---- named refs: BRANCHES (writable — the audit-isolation generalization
  // of WAP: stage ARBITRARY work — appends, merges, whole maintenance runs —
  // on an isolated line, audit it, then fastForward publishes atomically) --

  /** all branches: name → head snapshot version. Each branch head is its own
    * file (`meta/head-<name>.text`) so commits to DIFFERENT branches never
    * read-modify-write shared state — the one-json-map design had a lost-
    * update race between concurrent branch committers. A head file that is
    * momentarily empty (branch creation in flight) reads as absent. */
  def branches: Map[String, Long] = {
    if (!refsExist) return Map.empty
    io.list("meta")
      .filter(n => n.startsWith("head-") && n.endsWith(".text"))
      .flatMap { n =>
        val name = n.stripPrefix("head-").stripSuffix(".text")
        io.readString(s"meta/$n").trim.toLongOption.map(name -> _)
      }.toMap
  }

  /** whether branch refs were EVER created here — one cheap existence probe
    * guarding the branch-aware paths, so linear tables pay zero listings. */
  private def refsExist: Boolean = io.exists("meta/refs-exist")

  /** Fork a branch at snapshot `from` (default: main's head). Metadata-only
    * — the branch shares every data file with its fork point. Name collides
    * with neither tags nor branches (both resolve via `VERSION AS OF`).
    * Creation is race-safe: the head file is claimed by atomic exclusive
    * create, so concurrent createBranch calls with the same name get exactly
    * one winner. */
  def createBranch(name: String, from: Long = -1L): Unit = {
    require(name.matches("[A-Za-z][A-Za-z0-9._-]*"), s"invalid branch name $name")
    require(name != "main", "main is the default ref, not a branch name")
    val v = if (from < 0) mainVersion else from
    require(v > 0 && snapshot(v).isDefined, s"no snapshot v$v to branch from")
    require(!tags.contains(name), s"a tag named $name already exists")
    if (!refsExist) { io.createExclusive("meta/refs-exist"); () }
    require(io.createExclusive(s"meta/head-$name.text"),
      s"branch $name already exists")
    io.writeAtomic(s"meta/head-$name.text", v.toString)
  }

  /** A handle whose reads and commits target `name`'s head. */
  def forBranch(name: String): GraftTable = {
    require(branches.contains(name), s"no such branch $name at $location")
    new GraftTable(spark, location, Some(name))
  }

  /** Drop a branch: its head file and its edge claims go away (a later
    * branch of the SAME name is a fresh incarnation and must be able to
    * extend the same parent versions again). */
  def dropBranch(name: String): Unit = {
    require(branches.contains(name), s"no such branch $name")
    io.delete(s"meta/head-$name.text")
    val q = java.util.regex.Pattern.quote(name)
    io.list("meta").filter(_.matches(s"edge-$q-v\\d+"))
      .foreach(n => io.delete(s"meta/$n"))
  }

  /** PUBLISH a branch: move main's hint to the branch head — but only when
    * main's current head is an ancestor of it (main hasn't moved since the
    * fork, or the branch was forked from main's head). A diverged main is
    * refused loudly: replaying the branch's work on the new main (cherry-
    * pick) is the caller's decision, never an implicit merge. Atomic —
    * readers see either old main or the whole branch line. */
  def fastForward(name: String): Long = {
    val head = branches.getOrElse(name,
      throw new IllegalArgumentException(s"no such branch $name"))
    val mv = mainVersion
    // no-op publish (branch never committed past its fork point): claiming
    // edge-main-v<mv> here would CONSUME the edge without any snapshot ever
    // extending it, wedging every later main commit until repairRefs
    if (head == mv) return head
    require(mv == 0 || ancestorsOf(head).contains(mv),
      s"branch $name (head v$head) does not descend from main v$mv — " +
      "non-fast-forward publish refused")
    // the publish competes with ordinary main commits under the same edge
    // claim: exactly one writer extends main past mv
    if (!claimEdge("main", mv))
      throw new CommitConflictException(
        s"fast-forward of $name lost to a concurrent main commit past v$mv")
    io.writeAtomic("meta/version-hint.text", head.toString)
    head
  }

  /** the version chain from `v` back to the root, following parents. */
  def ancestorsOf(v: Long): Set[Long] = {
    val b = Set.newBuilder[Long]
    var cur = v
    while (cur != 0) {
      b += cur
      cur = snapshot(cur).map(_.parent).getOrElse(0L)
    }
    b.result()
  }

  // ---- optimistic concurrency: the CAS primitives ------------------------
  //
  // Commits are serialized per ref by EDGE CLAIMS: to extend ref R from
  // parent version P, a writer must win the atomic exclusive create of
  // `meta/edge-R-vP` — exactly one commit may ever extend a given (ref,
  // parent) pair, so a lost race is DETECTED (claim fails), never a silent
  // fork or lost update. Claim success also proves the head is still P
  // (heads only move by claiming edges), closing the read-check-advance
  // window. Snapshot ids stay globally unique across refs via per-version
  // claims (`meta/claim-vN`), so a pinned reader can never see a different
  // snapshot under a reused id. Both primitives ride LakeIO.createExclusive
  // (O_CREAT|O_EXCL / HDFS atomic namenode create / conditional PUT).
  //
  // A writer that dies between winning an edge claim and publishing its
  // snapshot leaves the ref wedged for other APPEND committers (their
  // retries keep losing to a ghost); repairRefs() reaps such stale claims
  // after a staleness window — the same operational stance as Iceberg's
  // Hadoop catalog, which likewise trades a lock-service dependency for a
  // documented manual-repair window on plain filesystems.

  /** the ref this handle commits to. */
  private def refName: String = branch.getOrElse("main")

  /** try to win the right to extend `ref` from `parentV`. */
  private[graft] def claimEdge(ref: String, parentV: Long): Boolean =
    io.createExclusive(s"meta/edge-$ref-v$parentV")

  /** Wall-clock budget a committer spends losing edge claims before it
    * surfaces a conflict naming repairRefs(): the head not moving for this
    * long means the winning claimant likely died between claiming and
    * publishing. The claim is held across a publish (small metadata writes),
    * so the budget must absorb GC pauses and loaded hosts — sized in seconds,
    * not multiples of the happy-path publish latency. */
  private val contentionBudgetMs: Long =
    spark.conf.get("spark.graft.commit.contentionBudgetMs", "60000").toLong

  /** allocate a globally unique snapshot version: claim ids upward from the
    * optimistic next until one wins. Uncontended tables claim on the first
    * try; a lost race costs one extra create RPC per contender. */
  private[lake] def allocateVersion(): Long = {
    var v = nextVersion
    while (!io.createExclusive(s"meta/claim-v$v")) v += 1
    v
  }

  /** Reap stale edge claims left by writers that died between claiming and
    * publishing (the ref looks permanently contended to retrying appenders).
    * An edge claim is stale when it sits on the CURRENT head of its ref (no
    * snapshot ever extended that parent on that ref) and is older than
    * `olderThanMillis`. Returns the reaped claim names. */
  def repairRefs(olderThanMillis: Long): Seq[String] = {
    val heads = branches + ("main" -> mainVersion)
    val extended: Set[(String, Long)] =
      listSnapshots().map(s => (s.ref, s.parent)).toSet
    val stale = io.listFileStatus("meta").collect {
      case (n, mtime, _) if n.matches("edge-.+-v\\d+") && mtime < olderThanMillis =>
        val i = n.lastIndexOf("-v")
        val (ref, pv) = (n.substring(5, i), n.substring(i + 2).toLong)
        (n, ref, pv)
    }.collect {
      // on the current head (the ref can't have moved past it — including by
      // a fast-forward, which moves the hint) yet never extended by any
      // snapshot: the claimant died pre-publish
      case (n, ref, pv) if heads.get(ref).contains(pv) && !extended((ref, pv)) => n
    }
    stale.foreach(n => io.delete(s"meta/$n"))
    // a writer that died between createBranch's exclusive create and the
    // head write leaves an EMPTY head file: unreadable as a branch, yet
    // blocking re-creation of the name — reap those too
    val emptyHeads = io.listFileStatus("meta").collect {
      case (n, mtime, bytes)
        if n.startsWith("head-") && n.endsWith(".text") &&
           mtime < olderThanMillis && bytes == 0L &&
           io.readString(s"meta/$n").trim.isEmpty => n
    }
    emptyHeads.foreach(n => io.delete(s"meta/$n"))
    stale ++ emptyHeads
  }

  // ---- schema evolution (Iceberg-style add/drop column, metadata-only) --

  /** The extra (evolved) fields of a snapshot, parsed from its DDL fragment.
    * Name-based column mapping: a field resolves against data files by NAME;
    * files written before the column existed read as nulls (both scan paths
    * splice missing columns), and files written after a DROP simply stop
    * being projected. */
  def extraFields(s: Snapshot): Seq[org.apache.spark.sql.types.StructField] =
    if (s.extraCols.isEmpty) Seq.empty
    else org.apache.spark.sql.types.StructType.fromDDL(s.extraCols).fields.toSeq

  /** Full read schema (base incl. z + evolved extras) at a snapshot. */
  def dataSchemaFor(s: Option[Snapshot]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      GraftTable.dataSchema.fields ++ s.toSeq.flatMap(extraFields))

  /** The columns a CoW rewrite must carry through (base minus the derived z,
    * plus the current extras). */
  def dataColumnNames: Seq[String] =
    dataSchemaFor(currentSnapshot).fieldNames.toSeq.filterNot(_ == "z")

  /** ADD COLUMN(s): `evolveSchema("stars INT, score DOUBLE")`. Metadata-only
    * commit — no data file is touched; existing rows read the new columns as
    * null. Reusing a previously dropped name is refused (name-based mapping
    * would resurrect the dropped column's old values out of pre-drop files —
    * Iceberg prevents this with field ids, this format with tombstones). */
  def evolveSchema(ddl: String): Snapshot = {
    init()
    val adding = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    require(adding.nonEmpty, "evolveSchema with no columns")
    val parent = currentSnapshot
    val existing = dataSchemaFor(parent).fieldNames.map(_.toLowerCase).toSet
    val tombstones = parent.map(_.droppedCols).getOrElse("")
      .split(",").filter(_.nonEmpty).map(_.toLowerCase).toSet
    adding.fields.foreach { f =>
      require(!existing.contains(f.name.toLowerCase),
        s"column ${f.name} already exists")
      require(!tombstones.contains(f.name.toLowerCase),
        s"column ${f.name} was previously dropped; a new name is required " +
        "(name-based mapping would resurrect the old column's values)")
      require(!f.name.contains(",") && !f.name.contains("\""),
        s"unsupported column name ${f.name}")
    }
    val merged = (parent.map(_.extraCols).filter(_.nonEmpty).toSeq :+ ddlOf(adding.fields))
      .mkString(",")
    publish(PendingCommit("evolve-schema", parent, PendingCommit.Strict,
      schema = Some((merged, parent.map(_.droppedCols).getOrElse("")))))
  }

  /** DDL that parses back to `fields`, comments included: Spark's toDDL
    * escapes a comment's single quotes but not its backslashes. */
  private def ddlOf(fields: Seq[org.apache.spark.sql.types.StructField]): String =
    org.apache.spark.sql.types.StructType(fields.map(f =>
      f.getComment().fold(f)(c => f.withComment(c.replace("\\", "\\\\")))).toArray).toDDL

  /** DROP COLUMN: metadata-only — data files keep the bytes, readers stop
    * projecting the column, and the name is tombstoned. Base columns carry
    * the table's keys and stats and cannot be dropped. */
  def dropColumn(name: String): Snapshot = {
    val parent = currentSnapshot.getOrElse(
      throw new IllegalStateException("dropColumn on an empty table"))
    require(!GraftTable.dataSchema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"cannot drop base column $name (key/stats-bearing)")
    val extras = extraFields(parent)
    require(extras.exists(_.name.equalsIgnoreCase(name)),
      s"no such column $name")
    val remaining = extras.filterNot(_.name.equalsIgnoreCase(name))
    val remainingDdl = if (remaining.isEmpty) "" else ddlOf(remaining)
    val tombs = (parent.droppedCols.split(",").filter(_.nonEmpty).toSeq :+
      name.toLowerCase).mkString(",")
    publish(PendingCommit(s"drop-column-$name", Some(parent), PendingCommit.Strict,
      schema = Some((remainingDdl, tombs))))
  }

  /** Align a source frame to the current write schema: evolved columns the
    * frame doesn't carry are spliced in as typed nulls (base columns must be
    * present — those are the caller's job). */
  def conform(df: DataFrame): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    currentSnapshot.toSeq.flatMap(extraFields)
      .filterNot(f => have.contains(f.name.toLowerCase))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** Full-table scan pinned to the current snapshot (merge-on-read deletes
    * applied when pending — zero extra cost otherwise). */
  def scan(): DataFrame = currentSnapshot match {
    case None => emptyDf
    case Some(s) if hasMorDeletes(s) =>
      val shards = manifestShards(s)
      val pairs = localManifestSeq(shards) match {
        case Some(ps) => ps.map(p => (p._1.file_path, p._2)) // jobless planning
        case None => seqPairs(manifestWithSeq(s))
      }
      morScan(s, pairs)
    case Some(s) => filesOf(s)
  }

  /** The current snapshot's live data files, read as they are: pending
    * merge-on-read deletes are NOT applied, so the rows are a superset of
    * `scan()`'s. One parquet read, so `input_file_name()` works over it. */
  def scanFiles(): DataFrame = currentSnapshot match {
    case None => emptyDf
    case Some(s) => filesOf(s)
  }

  /** Snapshot `s`'s live data files, read without its pending deletes. */
  private def filesOf(s: Snapshot): DataFrame = {
    val paths = localManifest(manifestShards(s)) match {
      case Some(entries) => entries.map(_.file_path) // jobless planning
      case None => manifest(s).select("file_path").as[String].collect().toSeq
    }
    readFiles(paths)
  }

  /** Pruned scan: prune the manifest DataFrame with a predicate over min/max
    * stats BEFORE collecting the file list (SURVEY.md §4.3 item 3); the same
    * predicate should also be applied to rows by the caller (files may
    * contain more). Returns (df, totalFiles, keptFiles). Pending
    * merge-on-read deletes are applied to the surviving files' rows. */
  def prunedScan(manifestPredicate: org.apache.spark.sql.Column): (DataFrame, Int, Int) =
    currentSnapshot match {
      case None => (emptyDf, 0, 0)
      case Some(s) if hasMorDeletes(s) =>
        val m = manifestWithSeq(s)
        val total = m.count().toInt
        val kept = seqPairs(m.filter(manifestPredicate))
        (morScan(s, kept), total, kept.size)
      case Some(s) =>
        val m = manifest(s)
        val total = m.count().toInt
        val kept = m.filter(manifestPredicate)
          .select("file_path").as[String].collect().toSeq
        (readFiles(kept), total, kept.size)
    }

  private def emptyDf: DataFrame = {
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(
        dataSchemaFor(currentSnapshot).fields.filterNot(_.name == "z")))
  }

  /** Read data files with the CURRENT evolved schema — parquet columns are
    * matched by name, so files written before an ADD COLUMN read the new
    * column as null and files written before a DROP just stop projecting
    * the dropped bytes. */
  def readFiles(files: Seq[String]): DataFrame = {
    if (files.isEmpty) emptyDf
    else spark.read.schema(dataSchemaFor(currentSnapshot))
      .parquet(files.map(f => io.abs(f).toString): _*)
  }

  /** Write df's rows as new data files, one per non-empty partition, and
    * return their manifest entries, per-file stats and digests included:
    * one Spark job over the plan's InternalRows, whose task results are the
    * entries ([[GraftDataFileWriter]] states the writer's invariants).
    * Expects source_files columns; a LONG `z` column is written as is,
    * otherwise z is derived per row. With `bucketBy` each file must hold one
    * bucket of the column, or the write is refused. */
  def writeDataFiles(df: DataFrame, tag: String,
                     bucketBy: Option[(String, Int)] = None): Seq[ManifestEntry] = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val batch = s"b-${UUID.randomUUID().toString.take(8)}-$tag"
    // a derived z is never null
    val fileSchema =
      if (df.columns.contains("z")) df.schema
      else df.schema.add(StructField("z", LongType, nullable = false))
    // the bucket id rides after the data columns; the writer checks purity
    val src = bucketBy.fold(df) { case (c, n) =>
      df.withColumn("_graft_bucket", Bucketing.bucketCol(c, n))
    }
    val ordinals = GraftDataFileWriter.ordinals(fileSchema, df.schema, keepZ = true)
    val bucketOrdinal = if (bucketBy.isDefined) df.schema.length else -1
    val task = GraftDataFileWriter.writeTask(location, batch, tag, fileSchema, ordinals,
      bucketOrdinal, LakeConf.capture())
    GraftDataFileWriter.runJob(src, s"graft write $batch")(task).toSeq.flatten
  }

  /** writeDataFiles PRESERVING the table's bucket layout: when a bucket spec
    * exists, the rows are re-routed through [[Bucketing.route]] and written
    * as bucket-pure files (stats-verified like append's path), so a rewrite
    * keeps the storage-partitioned-join layout the table paid a full
    * bucketize for. Every row-preserving or copy-on-write rewrite (compact,
    * apply-deletes, CoW delete/update/merge, WAP writes) must write through
    * HERE — a bare writeDataFiles would emit bucket=None entries that
    * silently degrade every later join back to full shuffles while
    * bucket-spec.json still claims the layout (and appends keep paying the
    * routing shuffle to preserve a layout that no longer exists). */
  def writeDataFilesRouted(df: DataFrame, tag: String): Seq[ManifestEntry] =
    bucketSpec match {
      case Some((c, n)) =>
        writeDataFiles(Bucketing.route(df, c, n, bucketSorted), tag, Some((c, n)))
      case None => writeDataFiles(df, tag)
    }

  // ---- commits: one pending-commit value, one publish path ---------------
  //
  // Every snapshot commit is a [[PendingCommit]] handed to [[publish]], the
  // one place that writes the commit's new shards, validates the head under
  // the commit's policy, computes recordCount/fileCount, claims the edge,
  // allocates the version and writes the manifest list and the snapshot
  // JSON. New shards are written once, under uid names, before any claim:
  // the optimistic-concurrency claim binds the version only at publish.
  //
  // The new shards follow the kept parent shards in the order the value
  // lists them, each at the next seq. The order is part of the format,
  // because the MoR sequence rule compares shard seqs: an upsert lists its
  // eqdel before its add (the batch's own rows survive its retraction), a
  // MoR row change its add before its posdel, every other commit its add
  // before its remove.
  //
  // Three validation policies judge a head that moved past the basis:
  //
  //   - Retry (adds only: append, streaming epochs, WAP publish): every
  //     attempt re-assembles on the current head, because appends commute.
  //     The wait is bounded: a head that never moves (the winning claimant
  //     died before publishing) surfaces as a conflict naming repairRefs().
  //   - Strict (MERGE, UPDATE, DELETE, MoR deletes and row changes, upsert,
  //     apply-deletes, delete compaction, rollback, cherry-pick, schema
  //     changes, manifest rewrites): the work was planned against the
  //     basis's content, so the head must still be the basis; a lost edge
  //     claim raises [[CommitConflictException]] and the caller re-plans.
  //   - Rebase(replaced, own) (compaction, clustering): a rewrite replaces
  //     `replaced` with files holding the SAME rows, so, as Iceberg's
  //     RewriteFiles, it need not conflict with every interleaved commit.
  //     At 100 TB a compaction runs for minutes while ingest lands; "re-plan
  //     on any interleaved append" would mean maintenance never commits on
  //     a live table. The head is walked back to the basis, and the rewrite
  //     rebases when every interleaved commit is compatible:
  //
  //       "add", "eqdel", "posdel" shards                    → compatible here
  //       "remove" shards DISJOINT from replaced              → compatible
  //       "remove" shards touching a replaced file            → CONFLICT
  //       a restructured manifest list (rewrite-manifests,
  //       apply-deletes, rollback, full bucket rewrite)       → CONFLICT
  //
  //     `own` holds the versions the same multi-batch run committed: they
  //     are incremental deltas of files disjoint from every later batch by
  //     construction, so the walk skips them. Independently of the walk, the
  //     publish-time parent must hold no pending delete the rewrite would
  //     corrupt, whether it arrived as an interleave or was already in the
  //     basis:
  //
  //       any pending "eqdel" shard                           → CONFLICT
  //         (the rebased add shard's seq would exceed the delete's, so the
  //          rewritten copies of deleted rows would escape the rule)
  //       a pending "posdel" shard touching a replaced file   → CONFLICT
  //         (its addresses bind to a file the rewrite drops); DISJOINT
  //          posdel shards stay pending and valid
  //
  //     Validation runs against the head read at the top of each attempt;
  //     the edge claim then proves the head did not move before publish
  //     (heads only move by claiming edges), so a rebase never skips an
  //     unvalidated commit. A shard's overlap with `replaced` is read on the
  //     driver (MetaIO.readRemoves, no Spark job) when the shard fits
  //     spark.graft.manifest.localReadMaxBytes, statted and summed as for
  //     [[localManifest]]; only a larger shard runs a broadcast join.

  /** Commit added entries and a driver-known removed set. An adds-only
    * commit without a `basis` (append, streaming epoch) retries on whatever
    * head wins a race. A commit that removes files, or names the snapshot
    * it was planned against as `basis`, is strict: a moved head raises
    * [[CommitConflictException]] instead of re-applying a rewrite onto
    * files another committer may have already replaced.
    *
    * `removedRecords` is the removed files' total record count; a commit
    * that removes files must pass it (the caller planned from their
    * entries, so it costs no metadata query here). */
  def commit(added: Seq[ManifestEntry], removedPaths: Set[String], operation: String,
             removedRecords: Long = -1L, basis: Option[Snapshot] = None): Snapshot = {
    require(removedPaths.isEmpty || removedRecords >= 0L,
      s"$operation removes ${removedPaths.size} files without their removedRecords")
    val appendOnly = removedPaths.isEmpty && basis.isEmpty
    publish(PendingCommit(operation,
      if (appendOnly) None else basis.orElse(currentSnapshot),
      if (appendOnly) PendingCommit.Retry else PendingCommit.Strict,
      shards = Seq(PendingCommit.Entries(added), PendingCommit.Removes(removedPaths)),
      recordDelta = PendingCommit.rows(added) - (if (removedPaths.isEmpty) 0L else removedRecords),
      fileDelta = added.size - removedPaths.size))
  }

  /** Commit a rewrite of `replacedPaths` into `added` under the rebase
    * policy (see the section comment). `basis` is the snapshot the plan was
    * made against; `removedRecords` the exact row count of the replaced
    * files (still exact after a rebase: compatible interleaves never touch
    * them). Throws [[CommitConflictException]] on a genuine conflict. */
  def commitRewrite(basis: Option[Snapshot], added: Seq[ManifestEntry],
                    replacedPaths: Set[String], operation: String,
                    removedRecords: Long): Snapshot =
    publish(PendingCommit.rewrite(basis, added, replacedPaths, operation, removedRecords))

  /** Full rewrite commit (bucketize): `entries` replace the whole live set
    * of the current snapshot, strictly. A metadata-small previous manifest
    * is removed as a driver-side set; a larger one is streamed from the
    * manifest DataFrame into a distributed remove shard, never collected.
    * The removed record count is the parent's total, with no aggregation. */
  def commitFull(entries: Seq[ManifestEntry], operation: String): Snapshot = {
    import PendingCommit._
    val basis = currentSnapshot
    val (removed, removedFiles): (Seq[NewShard], Long) = basis match {
      case None => (Seq.empty, 0L)
      case Some(s) => localManifest(manifestShards(s)) match {
        case Some(prev) => // metadata-small: driver-side remove set, zero jobs
          val paths = prev.map(_.file_path).toSet
          (Seq(Removes(paths)), paths.size.toLong)
        case None => (Seq(RemovedFrame(manifest(s).select("file_path"))), s.fileCount)
      }
    }
    publish(PendingCommit(operation, basis, if (basis.isEmpty) Retry else Strict,
      shards = Entries(entries) +: removed,
      recordDelta = rows(entries) - basis.fold(0L)(_.recordCount),
      fileDelta = entries.size - removedFiles))
  }

  /** Publish `p` (see the section comment): write its new shards, judge the
    * head under its policy, assemble the kept and new shards, claim the
    * ref's edge, allocate the version and write the list, the snapshot and
    * the ref's head. recordCount is the kept shards' count plus the record
    * delta; fileCount likewise, and stays -1 (unknown) once unknown. */
  private[lake] def publish(p: PendingCommit): Snapshot = {
    import PendingCommit._
    init()
    val uid = UUID.randomUUID().toString.take(12)
    val fresh: Seq[(String, String)] = p.shards.flatMap {
      case Entries(es) if es.nonEmpty =>
        val r = s"meta/manifest-add-$uid.parquet"
        MetaIO.writeEntries(io, r, es); Some("add" -> r)
      case Removes(paths) if paths.nonEmpty =>
        val r = s"meta/manifest-remove-$uid.parquet"
        MetaIO.writeRemoves(io, r, paths.toSeq.sorted); Some("remove" -> r)
      case RemovedFrame(df) =>
        // table-sized: written distributed, never collected
        val r = s"meta/manifest-remove-$uid.parquet"
        GraftDataFileWriter.writeShard(io, df.select(col("file_path").cast("string")).coalesce(1), r)
        Some("remove" -> r)
      case Written(kind, r) => Some(kind -> r)
      case _ => None
    }
    def kept(parent: Option[Snapshot]): Seq[ManifestShard] = p.kept match {
      case Replace(shards, _, _) => shards
      case KeepData => parent.map(manifestShards).getOrElse(Seq.empty)
        .filterNot(sh => sh.kind == "eqdel" || sh.kind == "posdel")
      case KeepAll => parent.map(manifestShards).getOrElse(Seq.empty)
    }
    def publishOn(parent: Option[Snapshot], keptShards: Seq[ManifestShard]): Option[Snapshot] = {
      val pv = parent.map(_.version).getOrElse(0L)
      if (!claimEdge(refName, pv)) return None
      var seq = keptShards.map(_.seq).maxOption.getOrElse(0)
      val shards = keptShards ++ fresh.map { case (kind, r) =>
        seq += 1; ManifestShard(seq, kind, r) }
      val (records, files) = p.kept match {
        case Replace(_, r, f) => (r, f)
        case _ => (parent.map(_.recordCount).getOrElse(0L), parent.map(_.fileCount).getOrElse(0L))
      }
      Some(writeSnapshot(parent, shards, p.operation, records + p.recordDelta,
        if (files < 0) -1L else files + p.fileDelta, p.schema))
    }
    p.policy match {
      case Strict =>
        publishOn(p.basis, kept(p.basis)).getOrElse(throw new CommitConflictException(
          s"ref $refName at $location was extended past " +
          s"v${p.basis.map(_.version).getOrElse(0L)} by a concurrent commit — " +
          s"${p.operation} was planned against a stale snapshot; re-plan against " +
          "the new head and retry"))
      case policy =>
        val deadline = System.currentTimeMillis() + contentionBudgetMs
        var backoffMs = 25L
        while (System.currentTimeMillis() < deadline) {
          val parent = currentSnapshot
          val keptShards = kept(parent)
          policy match {
            case Rebase(replaced, own) =>
              val basisV = p.basis.map(_.version).getOrElse(0L)
              if (parent.map(_.version).getOrElse(0L) != basisV)
                validateRebase(basisV, parent, replaced, own, p.operation)
              checkPendingDeletes(keptShards, replaced, p.operation)
            case _ => ()
          }
          val published = publishOn(parent, keptShards)
          if (published.isDefined) return published.get
          Thread.sleep(backoffMs)
          backoffMs = math.min(backoffMs * 2, 200L)
        }
        throw new CommitConflictException(
          s"${p.operation} on ref $refName at $location kept losing the edge claim " +
          "and the head never advanced — a concurrent writer likely died before " +
          "publishing; run repairRefs() and retry")
    }
  }

  /** A rewrite of `replaced` must not publish over a pending delete it
    * would corrupt (see the section comment). */
  private def checkPendingDeletes(shards: Seq[ManifestShard], replaced: Set[String],
                                  operation: String): Unit =
    shards.foreach { sh =>
      if (sh.kind == "eqdel")
        throw new CommitConflictException(
          s"$operation on ref $refName at $location: the table has a " +
          "pending equality-delete shard — rewriting files under it would " +
          "resurrect deleted rows; materialize deletes (applyDeletes) and " +
          "re-plan")
      if (sh.kind == "posdel" && shardTouchesFiles(sh, replaced))
        throw new CommitConflictException(
          s"$operation on ref $refName at $location: a pending positional-" +
          "delete shard addresses a file this rewrite replaces — its " +
          "deletes would be dropped; materialize deletes (applyDeletes) " +
          "and re-plan")
    }

  /** Walk head → basis and throw [[CommitConflictException]] unless every
    * interleaved commit outside `own` is compatible with rewriting
    * `replaced`. */
  private def validateRebase(basisV: Long, head: Option[Snapshot], replaced: Set[String],
                             own: Set[Long], operation: String): Unit = {
    def conflict(why: String): Nothing = throw new CommitConflictException(
      s"$operation on ref $refName at $location was planned against v$basisV " +
      s"but the head moved and cannot be rebased: $why; re-plan against the " +
      "current head and retry")
    // collect the interleaved snapshots (head-first) by parent pointers
    var cur = head
    val interleaved = scala.collection.mutable.ArrayBuffer.empty[Snapshot]
    while (cur.exists(_.version != basisV)) {
      val c = cur.get
      if (c.version < basisV)
        conflict(s"v${c.version} (${c.operation}) is below the basis — the " +
          "ref was rolled back or restructured")
      interleaved += c
      cur = if (c.parent == 0L) None else snapshot(c.parent).orElse(
        conflict(s"ancestor v${c.parent} of the new head is unreadable"))
      if (c.parent == 0L && basisV != 0L)
        conflict("the new head's ancestry does not reach the basis")
    }
    interleaved.filterNot(c => own(c.version)).foreach { c =>
      val pShards =
        if (c.parent == 0L) Seq.empty
        else manifestShards(snapshot(c.parent).getOrElse(
          conflict(s"parent v${c.parent} of interleaved v${c.version} is unreadable")))
      val pMax = pShards.map(_.seq).maxOption.getOrElse(0)
      val cShards = manifestShards(c)
      if (cShards.filter(_.seq <= pMax).toSet != pShards.toSet)
        conflict(s"interleaved ${c.operation} v${c.version} restructured the " +
          "manifest list (not an incremental delta)")
      cShards.filter(_.seq > pMax).foreach { sh =>
        sh.kind match {
          case "add" | "eqdel" | "posdel" => () // pending deletes are judged
            // on the publish-time parent (checkPendingDeletes)
          case "remove" =>
            if (shardTouchesFiles(sh, replaced))
              conflict(s"interleaved ${c.operation} v${c.version} removed " +
                "a file this rewrite replaces")
          case other =>
            conflict(s"interleaved v${c.version} added an unknown shard kind '$other'")
        }
      }
    }
  }

  /** does the shard's `file_path` column intersect `paths`? Read on the
    * driver when the shard fits the localReadMaxBytes gate; a larger shard
    * (a distributed full-rewrite remove set, a large posdel shard) runs one
    * broadcast semi-join, 2 Spark jobs. */
  private def shardTouchesFiles(sh: ManifestShard, paths: Set[String]): Boolean = {
    if (paths.isEmpty) return false
    val st = shardStatus(sh)
    val maxBytes = localReadMaxBytes
    if (maxBytes > 0 && shardBytes(sh, st) <= maxBytes)
      MetaIO.readRemoves(io, st).exists(paths)
    else {
      import spark.implicits._
      val shardPaths = spark.read.schema("file_path STRING")
        .parquet(io.abs(sh.path).toString).select($"file_path")
      !shardPaths.join(broadcast(paths.toSeq.toDF("file_path")), "file_path").isEmpty
    }
  }

  // ---- DML strategy property --------------------------------------------

  /** How SQL row-level DML (UPDATE / MERGE / non-filter DELETE) executes:
    * "copy-on-write" (default — rewrite matched files now) or
    * "merge-on-read" (position-delete old addresses + append new rows, one
    * snapshot, materialize later) — the Iceberg write.update.mode /
    * write.merge.mode table property re-expressed. */
  def dmlMode: String =
    if (io.exists("meta/dml-mode.text")) io.readString("meta/dml-mode.text").trim
    else "copy-on-write"

  def setDmlMode(mode: String): Unit = {
    require(mode == "copy-on-write" || mode == "merge-on-read",
      s"unknown dml mode $mode (copy-on-write | merge-on-read)")
    init()
    io.writeAtomic("meta/dml-mode.text", mode)
  }

  /** the seq the NEXT eqdel shard will get when committed against `basis`:
    * keys must be stamped with their del_seq before the shard is written.
    * The eqdel commit is strict, so a stamped seq can never be committed
    * against another shard sequence than `basis`'s. */
  private[lake] def nextEqDeleteSeq(basis: Option[Snapshot]): Long =
    basis.map(manifestShards).getOrElse(Seq.empty).map(_.seq).maxOption.getOrElse(0) + 1L

  /** Exactly-once epoch guard shared by the streaming sinks: has `op`
    * (which embeds the sink/query id and epoch id) already been committed?
    * A per-sink high-water marker answers the common case in one read; the
    * crash window (committed, marker not yet advanced) is covered by
    * walking the snapshot chain only back to the marker's version. No
    * marker = first epochs or a pre-marker table: one full log scan, then
    * the marker takes over. */
  private[lake] def epochReplayed(markerRel: String, op: String,
                                  epochId: Long): Boolean = {
    val marker: Option[(Long, Long)] =
      if (exists && io.exists(markerRel))
        io.readString(markerRel).trim.split(' ') match {
          case Array(e, v) => Some((e.toLong, v.toLong))
          case _ => None
        }
      else None
    def chainHasOp(floor: Long): Boolean = {
      var v = currentVersion
      while (v > floor) {
        snapshot(v) match {
          case Some(sn) if sn.operation == op => return true
          case Some(sn) => v = sn.parent
          case None => return false // expired below here: older than any crash window
        }
      }
      false
    }
    marker.exists(_._1 >= epochId) ||
      (exists && (marker match {
        case Some((_, mv)) => chainHasOp(mv)
        case None => listSnapshots().exists(_.operation == op)
      }))
  }

  /** The tail of [[publish]] once the edge is claimed: allocate the
    * version, write the manifest list and the snapshot, advance this
    * handle's ref. */
  private def writeSnapshot(parent: Option[Snapshot], shards: Seq[ManifestShard],
                            operation: String, recordCount: Long, fileCount: Long,
                            schema: Option[(String, String)]): Snapshot = {
    val newVersion = allocateVersion()
    val listRel = s"meta/manifest-list-v$newVersion.parquet"
    MetaIO.writeShards(io, listRel, shards)
    // schema evolution state is INHERITED by every ordinary commit; only
    // evolveSchema/dropColumn commits override it
    val (extra, dropped) = schema.getOrElse(
      (parent.map(_.extraCols).getOrElse(""), parent.map(_.droppedCols).getOrElse("")))
    val snap = Snapshot(newVersion, parent.map(_.version).getOrElse(0L),
      System.currentTimeMillis(), operation, listRel, recordCount, fileCount,
      extra, dropped, refName)
    // ATOMIC (tmp + rename): concurrent committers resolve heads through the
    // max-snapshot fallback while a fresh table has no hint yet — a plain
    // create-then-write would let them observe this file empty mid-write
    io.writeAtomic(s"meta/snapshot-v$newVersion.json", snapshotJson(snap))
    // advance THIS handle's ref — the branch head for a branch handle,
    // main's hint otherwise; per-ref files, so refs never contend here
    branch match {
      case Some(b) =>
        require(io.exists(s"meta/head-$b.text"), s"branch $b was dropped mid-commit")
        io.writeAtomic(s"meta/head-$b.text", newVersion.toString)
      case None =>
        io.writeAtomic("meta/version-hint.text", newVersion.toString)
    }
    // once branch refs exist, maintain the high-water mark nextVersion
    // allocates above. The write is READ-MAX (never regress an already
    // published higher version): expireSnapshots reaps version claims below
    // max(hwm, main), which is only sound if the hwm is monotone — a racing
    // lower-version writer blindly overwriting a higher hwm would reopen
    // reaped ids to reallocation. The read-max pair is not atomic; the
    // residual window needs a lower-version publish to interleave INSIDE a
    // higher one's read-write gap AND an expire to run before the next
    // publish repairs the mark — claims themselves still serialize every
    // allocation, so this narrows exposure rather than carrying correctness.
    if (refsExist) {
      val prev = if (io.exists("meta/max-version.text"))
        io.readString("meta/max-version.text").trim.toLong else 0L
      if (newVersion > prev)
        io.writeAtomic("meta/max-version.text", newVersion.toString)
    }
    snap
  }

  /** The snapshot JSON, one key per [[Snapshot]] field, strings JSON-escaped.
    * A snapshot none of whose strings needs an escape is written byte for
    * byte as before escaping existed; one that needs one also carries
    * `"escaped": true`, which tells [[parseJsonFlat]] to decode it. */
  private def snapshotJson(s: Snapshot): String = {
    val raw = Seq(s.operation, s.manifest, s.extraCols, s.droppedCols, s.ref)
    val esc = raw.map(v => new String(JsonStringEncoder.getInstance.quoteAsString(v)))
    val Seq(op, manifest, extra, dropped, ref) = esc.map("\"" + _ + "\"")
    val marker = if (esc != raw) ", \"escaped\": true" else ""
    s"""{"version": ${s.version}, "parent": ${s.parent}, "tsMillis": ${s.tsMillis},
       | "operation": $op, "manifest": $manifest,
       | "recordCount": ${s.recordCount}, "fileCount": ${s.fileCount},
       | "extraCols": $extra, "droppedCols": $dropped,
       | "ref": $ref$marker}""".stripMargin
  }

  // ---- storage bucketing (the layout behind storage-partitioned joins) --

  /** the table's bucket spec: (column, numBuckets), persisted by
    * Maintenance.bucketize. Cheap driver-side read, None = unbucketed. */
  def bucketSpec: Option[(String, Int)] =
    if (!io.exists("meta/bucket-spec.json")) None
    else {
      val m = parseJsonFlat(io.readString("meta/bucket-spec.json"))
      Some((m("bucketCol"), m("bucketN").toInt))
    }

  /** whether bucketize also sorted each bucket by the bucket column — the
    * precondition for the scan to REPORT per-partition ordering. */
  def bucketSorted: Boolean =
    io.exists("meta/bucket-spec.json") &&
      parseJsonFlat(io.readString("meta/bucket-spec.json"))
        .get("sorted").contains("true")

  private[lake] def writeBucketSpec(column: String, n: Int,
                                    sorted: Boolean = false): Unit =
    io.writeString("meta/bucket-spec.json",
      s"""{"bucketCol": "$column", "bucketN": $n, "sorted": "$sorted"}""")

  // ---- table column statistics (ANALYZE → CBO; the puffin-NDV idea) -----

  /** Latest ANALYZE result: (computedAtVersion, rowCount,
    * col → (ndvEstimate, nullCount)). Advisory the way Iceberg's puffin NDV
    * blobs are: later commits do NOT invalidate it — the recorded snapshot
    * version makes staleness visible to callers; correctness never depends
    * on it (CBO estimates only). Cheap driver-side read, None = never
    * analyzed. */
  def tableStats: Option[(Long, Long, Map[String, (Long, Long)])] =
    if (!io.exists("meta/stats.json")) None
    else {
      val m = parseJsonFlat(io.readString("meta/stats.json"))
      val cols = m.keysIterator
        .collect { case k if k.startsWith("ndv.") => k.substring(4) }.toSeq
      Some((m("version").toLong, m("rows").toLong,
        cols.map(c => c -> (m(s"ndv.$c").toLong, m(s"nulls.$c").toLong)).toMap))
    }

  private[lake] def writeStats(version: Long, rows: Long,
                               cols: Map[String, (Long, Long)]): Unit = {
    val body = (Seq(s""""version": $version""", s""""rows": $rows""") ++
      cols.toSeq.sortBy(_._1).flatMap { case (c, (ndv, nulls)) =>
        Seq(s""""ndv.$c": $ndv""", s""""nulls.$c": $nulls""") })
      .mkString("{", ", ", "}")
    io.writeAtomic("meta/stats.json", body)
  }

  def append(df: DataFrame): Snapshot = {
    init()
    // a bucketed table keeps its layout across appends: rows are routed so
    // every new file stays bucket-pure (one extra shuffle per append — the
    // price every bucketed table format pays to preserve shuffle-free joins)
    val added = writeDataFilesRouted(df, "append")
    commit(added, Set.empty, "append")
  }

  /** Manifest entries snapshot `s` itself ADDED: its shard set minus its
    * parent's, kind=add — a path diff, so it stays correct across manifest
    * rewrites/rebases whatever the shard naming. Driver cost is two tiny
    * shard lists. */
  def addedShardPaths(s: Snapshot): Seq[String] = {
    val parentPaths: Set[String] =
      if (s.parent == 0L) Set.empty
      else snapshot(s.parent).map(p => manifestShards(p).map(_.path).toSet)
        .getOrElse(throw new IllegalStateException(
          s"parent snapshot v${s.parent} of v${s.version} is expired — " +
          "per-snapshot delta is no longer reconstructible"))
    manifestShards(s).filter(sh => sh.kind == "add" && !parentPaths(sh.path))
      .map(_.path)
  }

  /** snapshot operations that leave the live ROW SET untouched (file
    * rewrites only) — they contribute nothing to an append changelog.
    * apply-deletes qualifies: it only MATERIALIZES deletes that already
    * left the row set at their mor-delete commit. */
  private val rowsetPreservingOps =
    Set("compact", "cluster_hilbert", "cluster_zorder", "cluster_bucket",
        "manifest_rewrite", "apply-deletes", "compact-deletes")

  /** does `op` leave the live row set untouched? Beyond the file-rewrite
    * set, the metadata-only schema commits qualify: evolve-schema and
    * drop-column change zero rows (incremental/changelog reads project with
    * the CURRENT schema anyway, so crossing one is invisible). */
  private def rowsetPreserving(op: String): Boolean =
    rowsetPreservingOps(op) || op == "evolve-schema" ||
      op.startsWith("drop-column-")

  /** is `op` a pure append? Covers the batch append, the streaming sink's
    * per-epoch commits ("stream-append query=… epoch=…") and WAP publishes —
    * all of them add files without touching existing rows, so an append
    * changelog expresses them exactly. */
  private def appendLikeOp(op: String): Boolean =
    op == "append" || op.startsWith("stream-append") ||
      op.startsWith("publish-wap")

  /** The APPEND-ONLY CHANGELOG: manifest entries for rows appended in
    * (fromV, toV] — the Iceberg-style incremental scan that lets a
    * downstream pipeline process only what arrived since its last run
    * instead of rescanning 100 TB. Walks the parent chain; rowset-preserving
    * maintenance (compact/cluster/manifest-rewrite) is skipped — the
    * appended rows are read from the ORIGINAL append files, which every
    * still-live snapshot in the chain keeps on disk (expire deletes a
    * snapshot's json before its files, so a broken chain fails loudly
    * here, never silently returns partial rows). A merge or delete in the
    * range changes rows in a way additions cannot express — refused. */
  /** the eqdel shards snapshot `s` itself added (shard-set diff vs parent;
    * shards are uid-named so the diff is name-agnostic). */
  private def newEqDeleteShards(s: Snapshot): Seq[String] = {
    val parentEq = snapshot(s.parent)
      .map(p => eqDeleteShards(p).map(_.path).toSet).getOrElse(Set.empty[String])
    eqDeleteShards(s).map(_.path).filterNot(parentEq)
  }

  /** the posdel shards snapshot `s` itself added (same shard-set diff). */
  private def newPosDeleteShards(s: Snapshot): Seq[String] = {
    val parentPos = snapshot(s.parent)
      .map(p => posDeleteShards(p).map(_.path).toSet).getOrElse(Set.empty[String])
    posDeleteShards(s).map(_.path).filterNot(parentPos)
  }

  def incrementalEntries(fromV: Long, toV: Long): DataFrame = {
    require(fromV >= 0 && fromV <= toV,
      s"incremental range (v$fromV, v$toV] is not a valid version interval")
    var v = toV
    var addPaths = List.empty[String]
    while (v > fromV) {
      val s = snapshot(v).getOrElse(throw new IllegalArgumentException(
        s"snapshot v$v is missing (expired?) — incremental read (v$fromV, v$toV] cannot be reconstructed"))
      s.operation match {
        case op if appendLikeOp(op) =>
          addPaths = addedShardPaths(s).toList ::: addPaths
        case op if op.startsWith("mor-upsert") && newEqDeleteShards(s).isEmpty =>
          // a pure-insert upsert commit IS an append (the shard pruning in
          // upsertBatch leaves no delete state when nothing matched)
          addPaths = addedShardPaths(s).toList ::: addPaths
        case op if rowsetPreserving(op) => // no row change: skip
        case op => throw new IllegalArgumentException(
          s"incremental read crosses snapshot v$v (operation=$op): an " +
          "appends-only changelog cannot express row rewrites — full refresh required")
      }
      v = s.parent
    }
    if (addPaths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], GraftTable.manifestSchema)
    else spark.read.schema(GraftTable.manifestSchema)
      .parquet(addPaths.map(p => io.abs(p).toString): _*)
  }

  /** Rows appended in (fromV, toV] (toV defaults to the current version). */
  def incrementalScan(fromV: Long, toV: Long = -1L): DataFrame = {
    val to = if (toV < 0) currentVersion else toV
    import spark.implicits._
    readFiles(incrementalEntries(fromV, to).select("file_path").as[String].collect().toSeq)
  }

  /** THE CHANGE-DATA-FEED: every row change in (fromV, toV] as
    * (_change_type, _commit_version) rows — the Delta-CDF/Iceberg-changelog
    * read that lets a downstream pipeline apply deltas instead of diffing
    * 100-TB snapshots. Appends (incl. WAP publishes) become `insert` rows;
    * a merge-on-read delete becomes `delete` rows read STRAIGHT FROM ITS
    * EQDEL KEY SHARD (key columns only — lang/content are null, the delete
    * never knew them; the key identifies the retracted row). A merge-on-read
    * UPDATE / MERGE becomes delete+insert pairs from its one snapshot (the
    * posdel shard recovers the full pre-image rows; the add shard carries
    * the post-images). File rewrites (compact/cluster/manifest-rewrite/
    * apply-deletes) change no rows and contribute nothing. Copy-on-write
    * row changes (merge/update/CoW delete) cannot be expressed from their
    * commits' metadata — refused loudly, never silently partial. */
  def changelogScan(fromV: Long, toV: Long = -1L): DataFrame = {
    val to = if (toV < 0) currentVersion else toV
    require(fromV >= 0 && fromV <= to,
      s"changelog range (v$fromV, v$to] is not a valid version interval")
    var v = to
    var inserts = List.empty[(Long, Seq[String])]  // version -> data files
    var deletes = List.empty[(Long, String)]       // version -> eqdel shard
    var posDeletes = List.empty[(Long, String)]    // version -> posdel shard
    while (v > fromV) {
      val s = snapshot(v).getOrElse(throw new IllegalArgumentException(
        s"snapshot v$v is missing (expired?) — changelog (v$fromV, v$to] cannot be reconstructed"))
      s.operation match {
        case op if appendLikeOp(op) => inserts ::= (v, addedShardPaths(s))
        case "mor-posdelete" | "sql-mor-delete" =>
          // a pure positional delete (the SQL delta DELETE commits the same
          // shape): the posdel shard THIS commit added (shard-set diff)
          posDeletes :::= newPosDeleteShards(s).map(p => (v, p)).toList
        case "mor-update" | "mor-merge" | "sql-mor-update" | "sql-mor-merge" =>
          // a merge-on-read row change IS expressible, unlike its CoW twin:
          // one snapshot carries the pre-images' posdel shard (full deleted
          // rows recoverable from the retained old files) and the
          // post-images' add shard — emitted as delete+insert pairs, the
          // Iceberg-changelog convention for updates
          inserts ::= (v, addedShardPaths(s))
          posDeletes :::= newPosDeleteShards(s).map(p => (v, p)).toList
        case "mor-delete" =>
          // the eqdel shard THIS commit added: its shard set minus the
          // parent's (shards are uid-named; the diff is name-agnostic)
          deletes :::= newEqDeleteShards(s).map(p => (v, p)).toList
        case op if op.startsWith("mor-upsert") =>
          // an upsert commit is fully expressible as change records: a
          // delete per retracted key (its eqdel shard) + an insert per
          // batch row (its add shard) — both from the SAME snapshot, so
          // consumers see the retraction and its replacement atomically
          inserts ::= (v, addedShardPaths(s))
          deletes :::= newEqDeleteShards(s).map(p => (v, p)).toList
        case op if rowsetPreserving(op) => // no row change
        case op => throw new IllegalArgumentException(
          s"changelog crosses snapshot v$v (operation=$op): a copy-on-write " +
          "row change is not reconstructible from commit metadata — full refresh required")
      }
      v = s.parent
    }
    import spark.implicits._
    val insDf = inserts.map { case (ver, shardPaths) =>
      val files =
        if (shardPaths.isEmpty) Seq.empty[String]
        else spark.read.schema(GraftTable.manifestSchema)
          .parquet(shardPaths.map(p => io.abs(p).toString): _*)
          .select("file_path").as[String].collect().toSeq
      readFiles(files)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(ver))
    }
    val delDf = deletes.map { case (ver, shard) =>
      spark.read.schema(GraftTable.eqDeleteSchema).parquet(io.abs(shard).toString)
        .select($"repo", $"path", $"commit",
          lit(null).cast("string").as("lang"),
          lit(null).cast("string").as("content"),
          lit("delete").as("_change_type"), lit(ver).as("_commit_version"))
    }
    // positional deletes recover the FULL deleted rows: the addresses point
    // into files that are physically retained until snapshot expiry (the
    // materializing apply-deletes commit only stops referencing them), so a
    // semi-join on (file, pos) reads the retracted values back — richer CDF
    // rows than the equality flavor, whose shard only knows the key
    val posDf = posDeletes.map { case (ver, shard) =>
      val keys = spark.read.schema(GraftTable.posDeleteSchema)
        .parquet(io.abs(shard).toString)
      val files = keys.select($"file_path").distinct().as[String].collect().toSeq
      val rows = readFiles(files)
        .withColumn("_file", relFileCol)
        .withColumn("_pos", col("_metadata.row_index"))
      rows.join(keys,
          rows("_file") === keys("file_path") && rows("_pos") === keys("pos"),
          "left_semi")
        .select($"repo", $"path", $"commit", $"lang", $"content",
          lit("delete").as("_change_type"), lit(ver).as("_commit_version"))
    }
    val all = insDf.map(_.select($"repo", $"path", $"commit", $"lang", $"content",
      $"_change_type", $"_commit_version")) ++ delDf ++ posDf
    all.reduceOption(_ unionByName _).getOrElse {
      emptyDf.withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L)).limit(0)
    }
  }

  /** Timestamp-based snapshot expire: drop expired snapshot json + their
    * manifest shards (only when unreferenced by kept snapshots), delete data
    * files referenced only by expired snapshots. The live-set difference is
    * computed as DataFrames; only the deletion list is collected. */
  def expireSnapshots(olderThanMillis: Long, retainLast: Int = 1): (Int, Int) = {
    require(retainLast >= 1, "retainLast must keep at least the head")
    val all = listSnapshots()
    // RETAINED whatever their age: main's head, tagged snapshots (the
    // audit/compliance pin — dropTag is the only release), every live
    // branch's FULL ancestry (the branch stays readable, committable and
    // fast-forwardable — the ancestry walk is what proves fast-forward
    // safety; dropBranch/fastForward releases the line), and the newest
    // `retainLast` snapshots of main's ancestry (Iceberg's retain-last
    // guard: a burst of recent commits stays time-travelable even when the
    // age cutoff is aggressive)
    val mainAncestry = ancestorsOf(mainVersion)
    val recentMain = all.filter(s => mainAncestry(s.version))
      .map(_.version).sorted.takeRight(retainLast)
    val protectedVersions = tags.values.toSet + mainVersion + currentVersion ++
      branches.values.flatMap(ancestorsOf) ++ recentMain
    val (expired, kept) = all.partition(s =>
      s.tsMillis < olderThanMillis && !protectedVersions(s.version))
    if (expired.isEmpty) return (0, 0)
    // small-manifest fast path: the kept/expired path sets are computed
    // driver-side (zero jobs) when every snapshot's manifest is under the
    // localManifest gate; any large manifest falls back to the distributed
    // union/distinct/anti-join
    val localSets: Option[(Set[String], Set[String])] = {
      val keptLocal = kept.map(s => localManifest(manifestShards(s)))
      val expLocal = expired.map(s => localManifest(manifestShards(s)))
      if ((keptLocal ++ expLocal).forall(_.isDefined))
        Some((keptLocal.flatMap(_.get.map(_.file_path)).toSet,
              expLocal.flatMap(_.get.map(_.file_path)).toSet))
      else None
    }
    val deleted = localSets match {
      case Some((keptSet, expSet)) => (expSet -- keptSet).toSeq
      case None =>
        val keptFiles = kept.map(s => manifest(s).select("file_path"))
          .reduceOption(_ unionByName _).map(_.distinct())
        val expiredFiles = expired.map(s => manifest(s).select("file_path"))
          .reduce(_ unionByName _).distinct()
        val toDelete = keptFiles match {
          case Some(k) => expiredFiles.join(k, Seq("file_path"), "left_anti")
          case None => expiredFiles
        }
        toDelete.as[String].collect().toSeq
    }
    deleted.foreach(io.delete)

    // manifest shards still referenced by kept snapshots must survive
    val keptShards = kept.flatMap(manifestShards).map(_.path).toSet
    // version claims are reaped only STRICTLY BELOW the allocation floor —
    // the smallest version nextVersion could ever hand out again. That floor
    // is max(hwm, main hint) + 1 and NOTHING ELSE: branch heads must NOT
    // raise it (nextVersion never reads them, so a lagging hwm below a
    // branch head would let allocateVersion re-win a reaped claim and
    // publish a fresh snapshot under a reused id — exactly what claims
    // exist to prevent). Reaping v <= max(hwm, main) is safe because both
    // are monotone: the hint only advances via edge claims, and the hwm
    // write is read-max (writeSnapshot).
    val claimFloor = {
      val hwm = if (io.exists("meta/max-version.text"))
        io.readString("meta/max-version.text").trim.toLong else 0L
      Seq(hwm, mainVersion).max + 1
    }
    expired.foreach { s =>
      manifestShards(s).map(_.path).filterNot(keptShards.contains).foreach(io.delete)
      io.delete(s.manifest)
      io.delete(s"meta/snapshot-v${s.version}.json")
      if (s.version < claimFloor) io.delete(s"meta/claim-v${s.version}")
    }
    // edge claims whose PARENT version expired can never be contested again
    // (every ref's head is ahead of an expired version by construction)
    val expiredV = expired.map(_.version).toSet
    io.list("meta").filter(_.matches("edge-.+-v\\d+"))
      .filter(n => expiredV(n.substring(n.lastIndexOf("-v") + 2).toLong))
      .foreach(n => io.delete(s"meta/$n"))
    (expired.size, deleted.size)
  }

  /** ROLLBACK: make snapshot `toVersion`'s rowset current again as a NEW
    * commit — history stays intact (the bad snapshots remain time-travelable
    * until expireSnapshots reaps them, at which point their now-unreferenced
    * data files are physically deleted). Metadata-only: the new snapshot
    * re-lists the target's manifest shards (its own list file, so the
    * rollback survives the target's later expiry), zero data IO, zero Spark
    * jobs. */
  def rollback(toVersion: Long): Snapshot = {
    val target = snapshot(toVersion).getOrElse(
      throw new IllegalArgumentException(s"no snapshot v$toVersion at $location"))
    val parent = currentSnapshot
    require(parent.exists(_.version != toVersion), s"v$toVersion is already current")
    publish(PendingCommit(s"rollback-to-v$toVersion", parent, PendingCommit.Strict,
      PendingCommit.Replace(manifestShards(target), target.recordCount, target.fileCount)))
  }

  /** CHERRY-PICK: re-apply snapshot `v`'s APPEND delta onto the current
    * head as a new commit — the post-rollback companion (roll back past a
    * bad commit, then cherry-pick the good commits that landed after it)
    * and the selective cross-line promote (pick one branch commit without
    * fast-forwarding the whole line). Metadata-only like rollback: the new
    * snapshot re-lists head's shards plus v's own add shards; no data file
    * is read or rewritten.
    *
    * Two validations make it safe: the delta must be a PURE append whose
    * entries account exactly for v's row-count change over its parent
    * (refuses rewrites, deletes and manifest-rewrite snapshots, whose
    * deltas are only meaningful against their own parent rowset), and none
    * of the delta's files may already be live at head (cherry-picking an
    * ancestor would double-count its rows) — checked as a distributed
    * semi-join against the head manifest, never a collected path set. */
  def cherryPick(v: Long): Snapshot = {
    import spark.implicits._
    val target = snapshot(v).getOrElse(
      throw new IllegalArgumentException(s"no snapshot v$v at $location"))
    val parentOfV = snapshot(target.parent)
    val parentPaths = parentOfV.map(manifestShards(_).map(_.path).toSet)
      .getOrElse {
        if (target.parent == 0L) Set.empty[String]
        else throw new IllegalStateException(
          s"parent snapshot v${target.parent} of v$v is expired — " +
          s"v$v's delta can no longer be isolated")
      }
    val delta = manifestShards(target).filterNot(s => parentPaths(s.path))
    require(delta.nonEmpty, s"snapshot v$v has no delta to cherry-pick")
    val nonAdd = delta.filterNot(_.kind == "add").map(_.kind).distinct
    require(nonAdd.isEmpty,
      s"cherry-pick supports append snapshots only; v$v's delta contains " +
      s"${nonAdd.mkString(", ")} shards — a rewrite/delete delta is only " +
      "meaningful against its own parent rowset")
    val localDelta = localManifest(delta)
    def deltaEntriesDf = spark.read.schema(GraftTable.manifestSchema)
      .parquet(delta.map(s => io.abs(s.path).toString): _*)
    val (addedRecords, addedFiles) = localDelta match {
      case Some(entries) => // driver-side: the delta is metadata-small
        (entries.map(_.record_count).sum, entries.size.toLong)
      case None =>
        val agg = deltaEntriesDf.agg(
          coalesce(sum("record_count"), lit(0L)), count(lit(1))).head()
        (agg.getLong(0), agg.getLong(1))
    }
    val parentRecords = parentOfV.map(_.recordCount).getOrElse(0L)
    require(target.recordCount - parentRecords == addedRecords,
      s"v$v is not a pure append: its delta lists $addedRecords rows but the " +
      s"commit changed the live count by ${target.recordCount - parentRecords} " +
      "(rewrites and manifest rewrites re-list files they did not add)")
    val head = currentSnapshot
    head.foreach { h =>
      val overlap = (localDelta, localManifest(manifestShards(h))) match {
        case (Some(d), Some(hm)) => // both metadata-small: zero jobs
          val live = hm.map(_.file_path).toSet
          d.count(e => live(e.file_path)).toLong
        case _ => deltaEntriesDf.select($"file_path")
          .join(manifest(h).select($"file_path"), Seq("file_path"), "left_semi")
          .count()
      }
      require(overlap == 0L,
        s"$overlap of v$v's files are already live at head — the delta is " +
        "already present (cherry-picking an ancestor would double-count rows)")
    }
    publish(PendingCommit(s"cherrypick-v$v", head, PendingCommit.Strict,
      shards = delta.map(d => PendingCommit.Written("add", d.path)),
      recordDelta = addedRecords, fileDelta = addedFiles))
  }

  /** Remove ORPHAN data files: files under data/ that no retained snapshot's
    * manifest references and that are older than `olderThanMillis` — the
    * debris of crashed write attempts (a task that died between writing its
    * parquet file and its commit/abort). The age cutoff is the correctness
    * fence for in-flight writers: pick it longer than any plausible
    * write-to-commit window (Iceberg's default is 3 days).
    *
    * 100-TB shape: data directories are listed ON EXECUTORS (one listing RPC
    * per directory, the rewriteManifests pattern), the referenced set is the
    * distinct add-shard entries of all retained snapshots read distributed
    * (a SUPERSET of any snapshot's live set, so time travel is never
    * broken), the anti-join runs distributed, and only the orphan list —
    * bounded by what gets deleted — reaches the driver. */
  def removeOrphanFiles(olderThanMillis: Long): (Long, Long) = {
    val root = location
    val dataDirs = io.list("data").map(d => s"data/$d")
    if (dataDirs.isEmpty) return (0L, 0L)
    val listed = spark.createDataset(dataDirs)
      .repartition(math.max(1, math.min(dataDirs.size, spark.sparkContext.defaultParallelism)))
      .flatMap(d => LakeIO.of(root).listFileStatus(d).map {
        case (n, mtime, bytes) => (s"$d/$n", mtime, bytes) })
      .toDF("file_path", "mtime", "bytes")
    // referenced = add shards of every retained snapshot PLUS unpublished
    // WAP stages (their data files are live-in-waiting, not debris)
    val addShards = (listSnapshots().flatMap(manifestShards)
      .filter(_.kind == "add").map(_.path) ++
      io.list("meta").filter(_.startsWith("staged-add-")).map(n => s"meta/$n")).distinct
    val referenced =
      if (addShards.isEmpty) null
      else spark.read.schema(GraftTable.manifestSchema)
        .parquet(addShards.map(p => io.abs(p).toString): _*)
        .select($"file_path")
    val aged = listed.filter($"mtime" < olderThanMillis)
    val orphans =
      (if (referenced == null) aged
       else aged.join(referenced, Seq("file_path"), "left_anti"))
        .select($"file_path", $"bytes").as[(String, Long)].collect()
    orphans.foreach { case (p, _) => io.delete(p) }
    // reap now-empty batch directories so listings stay proportional to
    // live batches (safe under races: a concurrent writer recreates its dir)
    orphans.map { case (p, _) => p.substring(0, p.lastIndexOf('/')) }.distinct
      .foreach(d => if (io.list(d).isEmpty) io.delete(d))
    (orphans.length.toLong, orphans.map(_._2).sum)
  }

  /** WRITE-AUDIT-PUBLISH, stage phase: write an append's data files and
    * manifest shard WITHOUT committing — no snapshot, no hint movement, so
    * readers cannot see it. Returns the stage id. Staged state lives in its
    * own namespace (`meta/staged-*`), never colliding with the linear
    * version counter however many stages are open or how long they sit
    * (the classic WAP problem with sequential snapshot ids). */
  def stageAppend(df: DataFrame): String = {
    init()
    val id = UUID.randomUUID().toString.take(12)
    val entries = writeDataFilesRouted(df, s"wap-$id")
    MetaIO.writeEntries(io, s"meta/staged-add-$id.parquet", entries)
    io.writeString(s"meta/staged-$id.json",
      s"""{"staged": "$id", "recordCount": ${entries.map(_.record_count).sum},
         | "fileCount": ${entries.size}}""".stripMargin)
    id
  }

  /** audit phase: the staged rows as a DataFrame (quality gates, row counts,
    * contamination checks run here — against data no reader can see). */
  def stagedScan(id: String): DataFrame = {
    val paths = spark.read.schema(GraftTable.manifestSchema)
      .parquet(io.abs(s"meta/staged-add-$id.parquet").toString)
      .select($"file_path").as[String].collect().toSeq
    readFiles(paths)
  }

  /** publish phase: promote the staged shard into a real snapshot — a
    * METADATA-ONLY commit (the audited data files are already in place;
    * nothing is rewritten or re-statted). */
  def publishStaged(id: String): Snapshot = {
    val meta = parseJsonFlat(io.readString(s"meta/staged-$id.json"))
    // adds-only: rebases onto whatever head wins a concurrent race
    val snap = publish(PendingCommit(s"publish-wap-$id", None, PendingCommit.Retry,
      shards = Seq(PendingCommit.Written("add", s"meta/staged-add-$id.parquet")),
      recordDelta = meta("recordCount").trim.toLong,
      fileDelta = meta("fileCount").trim.toLong))
    io.delete(s"meta/staged-$id.json")
    snap
  }

  /** abandon a staged append: its data files, shard and marker are removed.
    * Unpublished stages are also protected from removeOrphanFiles (their
    * shard counts as referenced), so an audit can take arbitrarily long. */
  def discardStaged(id: String): Unit = {
    spark.read.schema(GraftTable.manifestSchema)
      .parquet(io.abs(s"meta/staged-add-$id.parquet").toString)
      .select($"file_path").as[String].collect()
      .foreach(io.delete)
    io.delete(s"meta/staged-add-$id.parquet")
    io.delete(s"meta/staged-$id.json")
  }

  /** Manifest-tree compaction: materialize the live entries (distributed),
    * drop entries whose data file has vanished, re-sort and RANGE-SHARD by
    * (partition, min_z) into size-targeted shards, and re-base the manifest
    * list onto the shard set — a metadata-only commit that bounds the shard
    * count. Two scale fixes vs the naive version (r3 VERDICT wrongs #2/#3):
    * the output is no longer funneled through one task (at 10^12 files that
    * task IS the job), and existence is checked with ONE listing per data
    * directory semi-joined against the manifest, not one fs.exists RPC per
    * entry (an S3 bill at scale). */
  def rewriteManifests(targetEntriesPerShard: Int = 250000): Snapshot =
    currentSnapshot match {
      case None => publish(PendingCommit("manifest_rewrite", None, PendingCommit.Retry))
      case Some(s) =>
        // the rebase collapses every add shard to seq 1, which would destroy
        // the per-file sequence numbers the MoR delete rule compares against
        // (a key re-inserted AFTER a delete would suddenly match it) —
        // materialize pending deletes first
        require(!hasMorDeletes(s),
          "rewriteManifests with pending merge-on-read deletes would lose " +
          "their sequence ordering — run MorDelete.applyDeletes(table) first")
        val root = location
        // batched existence: each data dir is listed ONCE, on executors
        val dataDirs = io.list("data").map(d => s"data/$d")
        // metadata-small fast path: listing, existence filter, sort and the
        // single-shard write all run driver-side — zero Spark jobs (the
        // size/count gate keeps 10^8-file tables on the distributed path,
        // and a rewrite that needs MORE than one output shard keeps the
        // distributed multi-shard write — no single-task funnel)
        localManifest(manifestShards(s)) match {
          case Some(entries) if dataDirs.size <= 64 =>
            val existingSet = dataDirs.flatMap(d => io.list(d).map(n => s"$d/$n")).toSet
            val live = entries.filter(e => existingSet(e.file_path))
            if (live.size <= targetEntriesPerShard) {
              val sorted = live.sortBy(e => (e.partition, e.min_z, e.file_path))
              return publish(PendingCommit("manifest_rewrite", Some(s), PendingCommit.Strict,
                PendingCommit.Replace(Seq.empty, 0L, 0L), Seq(PendingCommit.Entries(sorted)),
                PendingCommit.rows(sorted), sorted.size.toLong))
            }
          case _ => ()
        }
        val existing = spark.createDataset(dataDirs)
          .repartition(math.max(1, math.min(dataDirs.size, spark.sparkContext.defaultParallelism)))
          .flatMap(d => LakeIO.of(root).list(d).map(n => s"$d/$n"))
          .toDF("file_path")
        val liveAll = manifest(s).join(existing, Seq("file_path"), "left_semi")
        // shard sizing from the snapshot's own file count (arithmetically
        // maintained, an upper bound when files vanished) — a count job over
        // the manifest union only when the table predates the field
        val total = if (s.fileCount >= 0) s.fileCount else liveAll.count()
        val shardsN = math.max(1, math.ceil(total.toDouble / targetEntriesPerShard).toInt)
        // range repartition costs a sampling pass — skip it when everything
        // fits one shard (the small-table common case); multi-shard tables
        // get size-targeted range shards with no single-task funnel
        val live =
          if (shardsN == 1)
            liveAll.coalesce(1).sortWithinPartitions($"partition", $"min_z", $"file_path")
          else
            liveAll.repartitionByRange(shardsN, $"partition", $"min_z", $"file_path")
              .sortWithinPartitions($"partition", $"min_z", $"file_path")
        val addRel = s"meta/manifest-add-${UUID.randomUUID().toString.take(12)}.parquet"
        val entries = GraftDataFileWriter.writeShard(io, live, addRel)
        // re-base: the new list holds exactly this shard directory; the
        // entry count is the write's, the record count one agg over the
        // freshly written shard (metadata)
        val r = spark.read.schema(GraftTable.manifestSchema)
          .parquet(io.abs(addRel).toString)
          .agg(sum($"record_count")).head()
        val liveCount = if (r.isNullAt(0)) 0L else r.getLong(0)
        publish(PendingCommit("manifest_rewrite", Some(s), PendingCommit.Strict,
          PendingCommit.Replace(Seq.empty, 0L, 0L), Seq(PendingCommit.Written("add", addRel)),
          liveCount, entries))
    }

  /** the flat JSON objects of this format: snapshots, refs, specs, stats.
    * An object with the `"escaped"` key ([[snapshotJson]]) is decoded as
    * JSON; any other holds its strings verbatim, as every file written
    * before string escaping does, and is read by the flat pattern, so those
    * files parse exactly as they always have. */
  private def parseJsonFlat(s: String): Map[String, String] =
    if (s.contains("\"escaped\"")) {
      import scala.jdk.CollectionConverters._
      GraftTable.json.readTree(s).properties().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap
    } else {
      // keys include tag names (letters, digits, dot, dash, underscore)
      val re = """"([\w.-]+)"\s*:\s*("([^"]*)"|[-\d]+)""".r
      re.findAllMatchIn(s).map { m =>
        val v = if (m.group(3) != null) m.group(3) else m.group(2)
        m.group(1) -> v
      }.toMap
    }
}
