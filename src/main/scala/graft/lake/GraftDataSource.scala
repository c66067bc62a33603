package graft.lake

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSourceV2 read path for GraftTable (SURVEY.md §4.3 item 3 /
  * VERDICT r1 Next #7): `spark.read.format("graft").load(location)`.
  *
  * Catalyst pushes WHERE-clause filters into the ScanBuilder
  * (SupportsPushDownFilters); filters over repo/path/lang prune MANIFEST
  * entries against their per-file min/max stats before any data file is
  * opened — the same pruning prunedScan() does, but driven by the query's
  * own predicates, visible in the plan as PushedFilters. Column pruning
  * (SupportsPushDownRequiredColumns) reaches the parquet reader as a
  * projected read schema. Every pushed filter is also kept as a residual
  * (pushFilters returns all), so row-level correctness never depends on the
  * stats. One InputPartition per data file.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Option(options.get("metadata")) match {
      // introspection: .option("metadata", "files"|"snapshots"|"tags")
      case Some(kind) => GraftMetadataTables.schemaOf(kind)
      case None => Option(options.get("path")) match {
        // evolved columns are part of the table's public schema — resolve
        // them from the (pinned or current) snapshot's metadata, one tiny
        // driver read
        case Some(loc) =>
          GraftDataSource.evolvedSchema(loc,
            Option(options.get("snapshot")).map(_.toLong))
        case None => GraftDataSource.schema
      }
    }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val location = Option(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException("graft source requires .load(<table location>)"))
    // time travel: .option("snapshot", v) pins the scan to snapshot v — the
    // same isolation the library API's pinned-snapshot reads give, now
    // reachable through the public connector
    // .option("tag", name) resolves a named ref to its pinned version —
    // the same read path as an explicit snapshot pin
    // .option("branch", name): reads pin to the branch head resolved NOW;
    // writes through the same load advance the branch ref, not main
    val branch = Option(properties.get("branch"))
    val snapshot = Option(properties.get("snapshot")).map(_.toLong)
      .orElse(Option(properties.get("tag")).map { name =>
        new GraftTable(SparkSession.active, location).tags.getOrElse(name,
          throw new IllegalArgumentException(s"no such tag $name at $location"))
      })
      .orElse(branch.map { name =>
        new GraftTable(SparkSession.active, location).branches.getOrElse(name,
          throw new IllegalArgumentException(s"no such branch $name at $location"))
      })
    Option(properties.get("metadata")) match {
      // metadata tables: .option("metadata", kind) serves the table's state
      // (snapshot history / live manifest / tags) instead of its rows;
      // composes with the snapshot/tag pin for time-traveled `files`
      case Some(kind) => new GraftMetadataSparkTable(location, kind, snapshot)
      case None =>
        // incremental read: .option("fromSnapshot", v) restricts the scan to
        // rows APPENDED after snapshot v (exclusive), up to the end snapshot
        // ("snapshot" option, else current) — the Iceberg-style changelog read
        val fromSnapshot = Option(properties.get("fromSnapshot")).map(_.toLong)
        // streaming admission control: at most this many snapshot VERSIONS
        // per microbatch (default: all available) — bounds per-batch work
        // when a stream catches up on a long append backlog
        val maxVersions = Option(properties.get("maxVersionsPerBatch")).map(_.toLong)
        new GraftSparkTable(location, snapshot, fromSnapshot, maxVersions,
          writeBranch = branch)
    }
  }

  override def supportsExternalMetadata(): Boolean = true
}

object GraftDataSource {
  val schema: StructType = StructType(Seq(
    StructField("repo", StringType), StructField("path", StringType),
    StructField("commit", StringType), StructField("lang", StringType),
    StructField("content", StringType), StructField("z", LongType)))

  /** base schema + the evolved extras of the pinned (time travel sees the
    * schema AS OF that snapshot) or current snapshot. */
  def evolvedSchema(location: String, snapshot: Option[Long]): StructType = {
    val t = new GraftTable(SparkSession.active, location)
    val s = snapshot.flatMap(t.snapshot).orElse(t.currentSnapshot)
    StructType(schema.fields ++ s.toSeq.flatMap(t.extraFields))
  }
}

class GraftSparkTable(location: String, snapshot: Option[Long] = None,
                      fromSnapshot: Option[Long] = None,
                      maxVersionsPerBatch: Option[Long] = None,
                      // path-based handles accept subset schemas on write
                      // (the V1 bridge / streaming sink splice z and missing
                      // columns); CATALOG handles are strict — ACCEPT_ANY_
                      // SCHEMA flips MergeIntoTable.skipSchemaResolution,
                      // which leaves vanilla Spark's MERGE resolution to an
                      // engine extension that doesn't exist here, so SQL
                      // MERGE INTO only resolves on a strict-schema table
                      acceptAnySchema: Boolean = true,
                      // when set, appends advance this BRANCH's head
                      // instead of main (reads through the same handle are
                      // pinned to the branch head resolved at load time)
                      writeBranch: Option[String] = None)
  extends Table
  with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_file` / `_pos` metadata columns (SELECT _file, _pos FROM t works
    * like Iceberg's) — `_file` is also what SQL MERGE/UPDATE's runtime
    * group filter collects, and (_file, _pos) is the delta path's row id. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftFileColumn, GraftPosColumn)

  /** SQL MERGE INTO / UPDATE (and non-filter DELETE) as row-level
    * operations — group-based copy-on-write by default, delta-based
    * merge-on-read when the table's dml-mode property says so (see
    * GraftRowLevel.scala / GraftTable.dmlMode). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(snapshot.isEmpty, "cannot run DML through a time-travel-pinned read")
    require(fromSnapshot.isEmpty, "cannot run DML through an incremental read")
    val mor = new GraftTable(SparkSession.active, location).dmlMode == "merge-on-read"
    () =>
      if (mor) new GraftDeltaOperation(location, info.command)
      else new GraftRowLevelOperation(location, info.command)
  }
  override def name(): String = s"graft.`$location`"
  // resolved once per table handle; a time-travel-pinned handle reports the
  // schema as of THAT snapshot (pre-evolution reads see the old shape)
  private lazy val evolved: StructType =
    GraftDataSource.evolvedSchema(location, snapshot)
  override def schema(): StructType = evolved
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
    if (acceptAnySchema) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(location, snapshot, fromSnapshot, maxVersionsPerBatch, evolved)

  /** SQL `DELETE FROM` (SupportsDelete): metadata-only drop of files whose
    * stats prove every row matches, copy-on-write rewrite of the rest —
    * Delete.deleteWhere. canDeleteWhere is exact: any filter this engine
    * cannot evaluate row-wise refuses the DELETE up front, and a
    * time-travel-pinned table is read-only. TRUNCATE TABLE rides the
    * inherited truncateTable() (deleteWhere over AlwaysTrue). */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    snapshot.isEmpty && filters.forall(Delete.translatable)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(snapshot.isEmpty, "cannot DELETE through a time-travel-pinned read")
    val t = new GraftTable(SparkSession.active, location)
    // the dml-mode property governs ALL SQL row-level DML: merge-on-read
    // commits the matched addresses (no file rewritten, stacks on pending
    // deletes without materializing); copy-on-write keeps the two-tier
    // metadata-drop / rewrite split
    if (t.dmlMode == "merge-on-read") MorDelete.deleteWherePositional(t, filters)
    else Delete.deleteWhere(t, filters)
    ()
  }

  /** write path via the V1 bridge: `df.write.format("graft").save(loc)`
    * appends through the SAME GraftTable.append used everywhere — one
    * distributed data write whose tasks return their files' manifest
    * entries (per-file min/max, langs, z bounds, xor digest), one
    * driver-side O(delta) metadata commit. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          // streaming path: df.writeStream.format("graft") — epoch-idempotent
          // task-side data files, one metadata commit per microbatch
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            new GraftStreamingWrite(location, info.queryId(), info.schema())
          override def toInsertableRelation():
              org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              val table = new GraftTable(data.sparkSession, location, writeBranch)
              require(!overwrite, "graft sink supports append mode only")
              // resolve case-insensitively (Spark's default resolution):
              // a DataFrame column named `Repo` must match graft's `repo`,
              // not be silently dropped from the append
              val byLower = data.columns.map(c => c.toLowerCase -> c).toMap
              val writable = GraftDataSource.schema.fieldNames.toSeq ++
                table.currentSnapshot.toSeq.flatMap(table.extraFields).map(_.name)
              val cols = writable
                .flatMap(f => byLower.get(f.toLowerCase).map(src =>
                  data.col(src).as(f)))
              table.append(data.select(cols: _*))
              ()
            }
        }
    }
}

class GraftScanBuilder(location: String, snapshot: Option[Long] = None,
                       fromSnapshot: Option[Long] = None,
                       maxVersionsPerBatch: Option[Long] = None,
                       tableSchema: StructType = GraftDataSource.schema)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggPushed: Option[Seq[GraftAggScan.PushedAgg]] = None
  private var limit: Option[Int] = None

  /** LIMIT pushdown — `SELECT * FROM t LIMIT k` over a 100-TB table must
    * not plan (or read) every file: planning keeps only the fewest files
    * whose committed record_counts cover k, and each partition reader stops
    * after k rows, so at most one small file is usually opened. Declared
    * PARTIALLY pushed, so Spark always keeps its own global Limit — the
    * scan only has to deliver at least min(k, table rows), which the
    * truncation guarantees because record_count is exact for files with no
    * pending deletes. Refused for incremental reads (the changelog slice
    * has its own row accounting) and while merge-on-read deletes are
    * pending (record_count is then an upper bound on surviving rows, so a
    * truncated plan could under-deliver). Spark only pushes a limit when no
    * Filter sits between it and the scan, so the kept-residual predicates
    * never interact with the truncation. */
  override def pushLimit(l: Int): Boolean = {
    if (fromSnapshot.isDefined || morPending || l <= 0) false
    else { limit = Some(l); true }
  }
  override def isPartiallyPushed(): Boolean = true

  /** TopN pushdown — `ORDER BY c LIMIT k` over a bucket-SORTED table: each
    * bucket file is physically sorted by c (Maintenance.bucketize), so a
    * partition's local top-k under `c ASC NULLS FIRST` is literally its
    * first k rows, and the per-partition reader cap turns a full-table sort
    * feed into k rows per bucket. PARTIALLY pushed: Spark keeps its global
    * TakeOrderedAndProject, so the cap only has to preserve every possible
    * top-k candidate — which sorted-prefix rows do by construction. The
    * SCAN re-verifies at planning time that every planned partition is a
    * single sorted file on exactly this column (appends since bucketize,
    * multi-file buckets, pending deletes all void it) and silently drops
    * the cap otherwise — never a wrong answer, only a missed shortcut. */
  private var topN: Option[(String, Int)] = None
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, NullOrdering}
    if (fromSnapshot.isDefined || morPending || l <= 0 || orders.length != 1)
      return false
    val o = orders(0)
    val col = o.expression() match {
      case nr: NamedReference if nr.fieldNames().length == 1 => nr.fieldNames()(0)
      case _ => return false
    }
    // bucketize sorts ascending (nulls first, Spark's ASC default) — any
    // other requested order can't be served by a file prefix
    if (o.direction() != SortDirection.ASCENDING ||
        o.nullOrdering() != NullOrdering.NULLS_FIRST) return false
    val t = new GraftTable(SparkSession.active, location)
    val ok = t.bucketSorted && t.bucketSpec.exists(_._1 == col)
    if (ok) topN = Some((col, l))
    ok
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftScanBuilder.supported)
    filters // all filters stay residual: stats pruning is file-level only
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // with a pushed aggregation the read schema IS the aggregate schema —
    // a later prune call must not clobber it
    if (aggPushed.isEmpty && requiredSchema.nonEmpty) required = requiredSchema
  }

  /** AGGREGATE pushdown — COUNT(*)/MIN/MAX answered ENTIRELY from manifest
    * stats, zero data files opened (the Iceberg-style zero-scan aggregate).
    * Exactness, not estimation: record_count is the committed per-file row
    * count, min/max_{repo,path,z} are full untruncated column bounds over
    * each file's actual rows, and `langs` is the file's exact distinct-lang
    * set (collect_set at append/rewrite) — so Σ/min/max over live manifest
    * entries equal the table-wide aggregates. Only offered COMPLETE (never
    * partial) and only when NO filter reached the scan: stats pruning is
    * file-level may-match, so any predicate forces the row path. At 100 TB
    * this turns `SELECT count(*), max(repo) FROM t` from a full scan into
    * one tiny manifest job. */
  /** pending merge-on-read deletes make manifest record_counts an upper
    * bound, so the zero-scan aggregate would over-count — refuse pushdown
    * and let the row path (which applies the deletes) answer. One tiny
    * driver-side shard-list read, memoized per builder. */
  private lazy val morPending: Boolean = {
    val t = new GraftTable(SparkSession.active, location)
    val s = snapshot.flatMap(t.snapshot).orElse(t.currentSnapshot)
    s.exists(t.hasMorDeletes)
  }

  override def supportCompletePushDown(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    pushed.isEmpty && fromSnapshot.isEmpty && !morPending &&
      GraftAggScan.translate(agg).isDefined

  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (!supportCompletePushDown(agg)) return false
    aggPushed = GraftAggScan.translate(agg)
    aggPushed.isDefined
  }

  override def build(): Scan = aggPushed match {
    case Some(aggs) => new GraftAggScan(location, snapshot, aggs)
    case None =>
      new GraftScan(location, pushed, required, snapshot, fromSnapshot,
        maxVersionsPerBatch, limit, topN)
  }
}

object GraftScanBuilder {
  /** filters usable against the manifest min/max stats — plus point
    * predicates on `commit`, prunable through a BloomIndex sidecar when one
    * exists (and harmlessly kept-all by manifestPredicate when not). */
  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _) => Set("repo", "path", "lang", "commit").contains(a)
    case GreaterThan(a, _) => Set("repo", "path").contains(a)
    case GreaterThanOrEqual(a, _) => Set("repo", "path").contains(a)
    case LessThan(a, _) => Set("repo", "path").contains(a)
    case LessThanOrEqual(a, _) => Set("repo", "path").contains(a)
    case In(a, _) => Set("repo", "lang", "commit").contains(a)
    case StringStartsWith(a, _) => Set("repo", "path").contains(a)
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case _ => false
  }
}

class GraftScan(location: String, pushed: Array[Filter], required: StructType,
                snapshot: Option[Long] = None,
                fromSnapshot: Option[Long] = None,
                maxVersionsPerBatch: Option[Long] = None,
                limit: Option[Int] = None,
                topN: Option[(String, Int)] = None)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  /** STORAGE-PARTITIONED JOINS: when the table is bucket-clustered
    * (Maintenance.bucketize) and every surviving file is bucket-pure, the
    * scan reports KeyGroupedPartitioning over the `bucket(n, col)` transform
    * and plans exactly one InputPartition per bucket (all n buckets, empty
    * ones included, so two tables bucketed the same way always expose
    * ALIGNED partition values). A join of two such tables on the bucket
    * column then needs NO shuffle on either side — with
    * spark.sql.sources.v2.bucketing.enabled and the table resolved through
    * GraftCatalog (whose FunctionCatalog serves the bucket function). Any
    * unbucketed file, pending MoR delete, or incremental read degrades to
    * UnknownPartitioning — never to a wrong join. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    planInputPartitions() // cached; sets bucketInfo
    bucketInfo match {
      // the transform must reference a column this scan actually OUTPUTS —
      // a projection that pruned it away can't resolve the expression
      case Some((c, n)) if required.fieldNames.contains(c) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)),
          planInputPartitions().length)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          planInputPartitions().length)
    }
  }

  /** per-partition ORDERING (SupportsReportOrdering): bucketize sorts every
    * bucket by the bucket column and records it in the spec; while each
    * bucket still holds exactly one file (no appends since), the scan
    * reports `col ASC` — a sort-merge join over two such tables then needs
    * neither shuffle (KeyGroupedPartitioning) NOR sort. Degrades to no
    * ordering (never a wrong one) once a bucket has 2+ files, since the
    * chained reader concatenates files without merging.
    *
    * SUPPRESSED while allowCompatibleTransforms is on: under a
    * mismatched-bucket-count join Spark's reducer path concatenates several
    * of this side's buckets into one task (KeyGroupedPartitionedScan
    * .getInputPartitionGrouping groups by REDUCED key), but its
    * ordering-preservation check still looks at the ORIGINAL per-bucket
    * groups — the stale `col ASC` claim would let SortMergeJoin skip a sort
    * the concatenated partition no longer satisfies and silently drop rows
    * (reproduced in SpjSpec; hash join over the same reduced grouping is
    * correct). The scan cannot see the join partner, so the conf is the
    * narrowest safe gate. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    planInputPartitions()
    val reductionPossible = org.apache.spark.sql.internal.SQLConf.get.getConfString(
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "false") == "true"
    bucketInfo match {
      case Some((c, _)) if orderInfo && !reductionPossible &&
          required.fieldNames.contains(c) =>
        Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case _ => Array.empty
    }
  }

  @volatile private var bucketInfo: Option[(String, Int)] = None
  @volatile private var orderInfo: Boolean = false

  /** RUNTIME file pruning (the DSv2 analogue of dynamic partition pruning):
    * when this scan sits under a join whose other side produces a runtime
    * filter on repo/path/lang (e.g. a selective broadcast dim), Spark calls
    * filter() at EXECUTION time and the scan re-prunes its file list
    * against the manifest stats — files excluded by the join keys are never
    * opened, the difference between scanning 100 TB and scanning the few
    * TB the join actually touches. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array("repo", "path", "lang")
      .filter(required.fieldNames.contains) // only columns this scan outputs resolve
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    // a pushed LIMIT/TopN means a Limit operator sits directly above this
    // scan and the plan/readers are truncated to its row budget; pruning
    // files underneath it could under-deliver, so runtime filters are
    // ignored (they are always an optional optimization, never required)
    if (limit.isDefined || topN.isDefined) return
    val usable = filters.filter(GraftScanBuilder.supported)
    if (usable.nonEmpty) {
      runtime = runtime ++ usable
      planned = null // re-plan with the narrowed predicate on next access
    }
  }

  @volatile private var runtime: Array[Filter] = Array.empty
  @volatile private var planned: Array[InputPartition] = _
  // set during planning when the bucket layout can serve the pushed TopN
  @volatile private var topNCap: Option[Int] = None

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** (kept, total) file counts from planning — surfaced in description() so
    * EXPLAIN/plan dumps show the pruning ratio once the scan has planned. */
  @volatile private[graft] var pruneInfo: Option[(Int, Int)] = None
  /** Σ(record_count), Σ(file_bytes) over the files that SURVIVED pruning —
    * accumulated in the same planning collect, no extra job. */
  @volatile private[lake] var statsInfo: Option[(Long, Long)] = None

  /** EXACT post-pruning statistics for Catalyst (SupportsReportStatistics):
    * without them a V2 relation falls back to a spark.sql.defaultSizeInBytes
    * guess and a selective connector read on the small side of a join never
    * broadcasts — the difference between a broadcast hash join and shuffling
    * the 100-TB fact side. Row counts are the committed per-file counts and
    * sizes the committed file bytes, summed over exactly the files this
    * scan's predicate kept. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    planInputPartitions() // ensure the pruning pass ran (result is cached)
    val (rows, bytes) = statsInfo.getOrElse((0L, 0L))
    // ANALYZE-committed per-column NDV/null-count stats (Maintenance.analyze
    // → meta/stats.json): reported through the connector Statistics so
    // Catalyst's transformV2Stats turns them into attribute ColumnStats and
    // CBO join estimation sees distinct counts, not just rows/bytes.
    // Table-level and advisory (stale-allowed, like Iceberg puffin NDV) —
    // skipped for incremental reads, whose slice the table stats don't
    // describe.
    val colStats = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    if (fromSnapshot.isEmpty) {
      new GraftTable(SparkSession.active, location).tableStats.foreach {
        case (_, _, cols) =>
          required.fields.foreach { f =>
            cols.get(f.name).foreach { case (ndv, nulls) =>
              colStats.put(
                org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
                new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(ndv)
                  override def nullCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(nulls)
                })
            }
          }
      }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  override def description(): String = {
    val files = pruneInfo.map { case (k, t) => s" files=$k/$t" }.getOrElse("")
    val tasks = Option(planned).map(p => s" partitions=${p.length}").getOrElse("")
    val rt = if (runtime.nonEmpty) s" RuntimeFilters=[${runtime.mkString(", ")}]" else ""
    val inc = fromSnapshot.map(v => s" incrementalFrom=v$v").getOrElse("")
    val lim = limit.map(l => s" PushedLimit=$l").getOrElse("")
    val tn = topN.map { case (c, l) =>
      val served = if (topNCap.isDefined) "capped" else "uncapped"
      s" PushedTopN=$c ASC LIMIT $l ($served)"
    }.getOrElse("")
    s"GraftScan location=$location PushedFilters=[${pushed.mkString(", ")}]$rt$inc$lim$tn$files$tasks"
  }

  /** Manifest pruning keeps a scan's fixed cost in the files it opens: a
    * driver-local manifest is pruned in place on the driver, and a
    * distributed one is pruned as a DataFrame BEFORE collecting — only
    * surviving file paths ever reach the driver (same planning cost
    * prunedScan / FileSourceScan pay), never the full entry rows. */
  override def planInputPartitions(): Array[InputPartition] = {
    val p = planned
    if (p != null) return p
    val out = planPartitions()
    planned = out
    out
  }

  private def planPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val table = new GraftTable(spark, location)
    val snap = snapshot match {
      case Some(v) => Some(table.snapshot(v).getOrElse(throw new IllegalArgumentException(
        s"graft table $location has no snapshot $v (expired or never committed)")))
      case None => table.currentSnapshot
    }
    snap match {
      case None => Array.empty
      case Some(s) =>
        import spark.implicits._
        val filters = pushed ++ runtime
        // a driver-local manifest (the localManifest gate) is pruned in
        // place by the one pruning rule, with no nested query; incremental
        // slices, bloom-sidecar lookups and distributed manifests prune the
        // manifest DataFrame by the same rule
        val local =
          if (fromSnapshot.isDefined || BloomIndex.applies(table, filters)) None
          else table.localManifestSeq(table.manifestShards(s))
        // incremental read: only the entries APPENDED in (fromSnapshot, s]
        // — stats pruning and projection apply to the changelog slice the
        // same way they apply to a full read
        lazy val m = fromSnapshot match {
          case Some(from) => table.incrementalEntries(from, s.version)
          case None => table.manifest(s)
        }
        // total for the pruning ratio comes free from the snapshot's
        // arithmetic file count; a count job only for pre-field tables
        val total =
          if (fromSnapshot.isDefined) m.count().toInt
          else if (s.fileCount >= 0) s.fileCount.toInt
          else local.fold(m.count().toInt)(_.size)
        // pending merge-on-read deletes: plan from the seq-tagged manifest
        // and ship each partition its add seq + the delete shard locations
        // so the filtering reader applies the deletes per task (stats then
        // over-count by the not-yet-materialized deleted rows — an upper
        // bound, same direction Iceberg's stats drift under MoR)
        val eqdels =
          if (fromSnapshot.isDefined) Seq.empty // appends after a delete are unaffected by it
          else table.eqDeleteShards(s).map(sh => table.io.abs(sh.path).toString)
        val posdels =
          if (fromSnapshot.isDefined) Seq.empty
          else table.posDeleteShards(s).map(sh => table.io.abs(sh.path).toString)
        // bucket pruning (before the collect): point/IN predicates on the
        // bucket column pin the exact candidate buckets
        val spec = if (fromSnapshot.isEmpty) table.bucketSpec else None
        val cands = spec.flatMap { case (c, n) => GraftScan.candidateBuckets(filters, c, n) }
        val keep = GraftScan.mayMatch(filters)
        def survives(e: ManifestEntry) = keep(e) && e.bucket.forall(b => cands.forall(_(b)))
        // Bloom-sidecar pruning for pushed POINT predicates (EqualTo/IN on a
        // column with a BloomIndex sidecar, e.g. commit): each file's filter
        // is probed during the manifest-planning join; definite negatives
        // never open. Files newer than the sidecar have no row (left join →
        // kept), and the pushed filter stays residual row-level.
        def keptDf(man: org.apache.spark.sql.DataFrame) =
          BloomIndex.prunedManifest(table, man, filters)
            .filter(GraftScan.manifestPredicate(filters) && GraftScan.bucketPredicate(cands))
        if (eqdels.nonEmpty || posdels.nonEmpty) {
          bucketInfo = None // pending MoR deletes: filtered rows, no key grouping
          topNCap = None    // surviving-row prefixes are not sorted prefixes
          val kept = local match {
            case Some(es) => es.collect { case (e, seq) if survives(e) =>
              (e.file_path, e.record_count, e.file_bytes, seq) }.toArray
            case None => keptDf(table.manifestWithSeq(s))
              .select("file_path", "record_count", "file_bytes", "add_seq")
              .as[(String, Long, Long, Long)].collect()
          }
          pruneInfo = Some((kept.length, total))
          statsInfo = Some((kept.map(_._2).sum, kept.map(_._3).sum))
          kept.map { case (p, _, _, seq) =>
            GraftInputPartition(table.io.abs(p).toString, seq, eqdels, posdels)
              .asInstanceOf[InputPartition]
          }
        } else {
          val keptAll = local match {
            case Some(es) => es.collect { case (e, _) if survives(e) =>
              (e.file_path, e.record_count, e.file_bytes, e.bucket) }.toArray
            case None => keptDf(m)
              .select("file_path", "record_count", "file_bytes", "bucket")
              .as[(String, Long, Long, Option[Int])].collect()
          }
          // pushed LIMIT: keep only the fewest files whose exact committed
          // record_counts cover it (largest-first, path tiebreak for
          // determinism) — `LIMIT 10` plans one file, not the whole table.
          // Sound because this branch has no pending deletes (counts exact)
          // and a partially-pushed limit keeps Spark's global Limit above.
          val kept = limit match {
            case Some(l) if keptAll.length > 1 =>
              val sorted = keptAll.sortBy(k => (-k._2, k._1))
              var cum = 0L
              var n = 0
              while (n < sorted.length && cum < l) { cum += sorted(n)._2; n += 1 }
              sorted.take(n)
            case _ => keptAll
          }
          pruneInfo = Some((kept.length, total))
          statsInfo = Some((kept.map(_._2).sum, kept.map(_._3).sum))
          // bucket grouping: only for a full-table (non-incremental) batch
          // read whose EVERY surviving file carries a valid bucket id; a
          // limit-truncated plan never reports key grouping (its partition
          // values would be incomplete, and no join sits under a limit)
          val grouped = spec.filter { case (_, n) =>
            limit.isEmpty && kept.forall(_._4.exists(b => b >= 0 && b < n))
          }
          grouped match {
            case Some((c, n)) =>
              bucketInfo = Some((c, n))
              val byBucket = kept.groupBy(_._4.get)
              // ordering is reportable only while every bucket is a single
              // sorted file (concatenated files would break it)
              orderInfo = table.bucketSorted && byBucket.values.forall(_.length <= 1)
              // a pushed TopN caps readers only once planning CONFIRMS the
              // sorted-single-file-per-bucket layout on the TopN's column
              topNCap = topN.collect { case (col, l) if orderInfo && col == c => l }
              // OCCUPIED buckets only: Spark's key-grouped machinery fills
              // value-set gaps between the two join sides itself
              // (pushPartValues); reporting empty phantom partitions instead
              // breaks its duplicate-value grouping under reduced
              // (mismatched-bucket-count) transforms
              byBucket.toArray.sortBy(_._1).map { case (b, ks) =>
                new GraftBucketedPartition(b,
                  ks.map(k => table.io.abs(k._1).toString).toSeq): InputPartition
              }
            case None =>
              bucketInfo = None
              orderInfo = false
              topNCap = None
              GraftScan.packFiles(spark,
                kept.map { case (p, _, bytes, _) => (table.io.abs(p).toString, bytes) })
          }
        }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    planInputPartitions() // resolves the TopN cap from the planned layout
    new GraftReaderFactory(required, limit.orElse(topNCap), pushed ++ runtime)
  }

  /** `spark.readStream.format("graft")`: each microbatch is the appends-only
    * changelog between two snapshot versions. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(location, pushed, required, fromSnapshot,
      maxVersionsPerBatch)
}

/** STREAMING source over the lake table (the Iceberg-style streaming read):
  * offsets are SNAPSHOT VERSIONS, and a microbatch (start, end] plans the
  * same appends-only changelog `incrementalEntries` serves for batch — new
  * appends become microbatches as they commit, rowset-preserving maintenance
  * between them contributes no rows, and a merge/delete fails the stream
  * loudly (start past it with .option("fromSnapshot", v)). Offsets live in
  * the sink checkpoint, so a restarted stream resumes exactly after the last
  * committed snapshot — the lake's own snapshot log IS the source's
  * write-ahead log, no sidecar state. Pushed filters still prune the
  * changelog's files by manifest stats before any file is opened. */
class GraftMicroBatchStream(location: String, pushed: Array[Filter],
                            required: StructType,
                            fromSnapshot: Option[Long],
                            maxVersionsPerBatch: Option[Long] = None)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private case class V(v: Long) extends Offset { override def json: String = v.toString }
  private def table = new GraftTable(SparkSession.active, location)
  // AvailableNow pins the end version ONCE at query start, so the run drains
  // a consistent prefix even while writers keep committing
  @volatile private var availableNowEnd: Option[Long] = None

  override def initialOffset(): Offset = V(fromSnapshot.getOrElse(0L))
  override def latestOffset(): Offset = V(table.currentVersion)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowEnd.getOrElse(table.currentVersion)
    val capped = maxVersionsPerBatch match {
      case Some(k) => math.min(target, start.asInstanceOf[V].v + k)
      case None => target
    }
    V(capped)
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(table.currentVersion)
  override def deserializeOffset(json: String): Offset = V(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[V].v
    val to = end.asInstanceOf[V].v
    if (to <= from) return Array.empty
    val spark = SparkSession.active
    import spark.implicits._
    val t = table
    val files = t.incrementalEntries(from, to)
      .filter(GraftScan.manifestPredicate(pushed))
      .select("file_path", "file_bytes").as[(String, Long)].collect()
    GraftScan.packFiles(spark, files.map { case (p, bytes) => (t.io.abs(p).toString, bytes) })
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required, None, pushed)
}

object GraftScan {
  import org.apache.spark.sql.{Column, Row}
  import org.apache.spark.sql.functions._

  /** THE read-task rule: packs a scan's kept data files (absolute path,
    * committed `file_bytes`) into [[GraftFilesPartition]]s by Spark's own
    * FileSourceScan rule — the split size is `FilePartition.maxSplitBytes`
    * over Σ(file_bytes + openCostInBytes), and `FilePartition
    * .getFilePartitions` packs the files largest first (path tiebreak, so a
    * plan is deterministic). It reads `spark.sql.files.maxPartitionBytes`,
    * `openCostInBytes` and `minPartitionNum` (default: the session's leaf
    * parallelism), the confs every `GraftTable.readFiles` read already obeys;
    * the sizes come from the manifest, so planning lists no file. The split
    * size never falls below openCostInBytes, so a scan of at most
    * leaf-parallelism small files (a point lookup) keeps one file per task.
    *
    * Three reads stay one file per partition ([[GraftInputPartition]]):
    *  - a scan with pending merge-on-read deletes: each partition carries its
    *    file's add seq, and the filtering reader counts `_pos` ordinals and
    *    probes positional deletes per file;
    *  - GraftRowLevel's DML scan: its writer maps tasks to output files;
    *  - a file larger than the split size gets a task to itself: it is not
    *    split by row group. */
  private[lake] def packFiles(spark: SparkSession,
                              files: Seq[(String, Long)]): Array[InputPartition] = {
    import org.apache.spark.paths.SparkPath
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
    val openCost = org.apache.spark.sql.internal.SQLConf.get.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark, files.map(_._2 + openCost).sum)
    val largestFirst = files.sortBy { case (p, bytes) => (-bytes, p) }.map { case (p, bytes) =>
      PartitionedFile(InternalRow.empty, SparkPath.fromUrlString(p), 0L, bytes)
    }
    FilePartition.getFilePartitions(spark, largestFirst, maxSplit).map { fp =>
      new GraftFilesPartition(fp.files.map(_.filePath.urlEncoded).toSeq): InputPartition
    }.toArray
  }

  /** THE manifest pruning rule: false only when an entry's stats prove that
    * no row of its file satisfies every filter. Strings compare in
    * UTF8String (code point) order — Spark's own, the order the writers'
    * min/max were taken in — never Java's UTF-16 order. A null stat (e.g.
    * the min of an all-null column) is unknown, and unknown KEEPS the file:
    * under SQL's three-valued AND a predicate's conjunction of stat
    * comparisons is false only when one of them is, so each comparison with
    * an unknown side reads as true. Correctness never depends on the stats,
    * matching the residual-filter contract. The driver-local planner calls
    * it on the entries directly; [[manifestPredicate]] applies it to
    * manifest DataFrames.
    *
    * Each conjunction — the filter array itself and every `And` node, one
    * under an `Or` included — is also tested as a whole on the z bounds:
    * when it holds `EqualTo`/`In` on both `repo` and `path`, every matching
    * row's Z-order key lies in the ranges [[zRanges]] gives, and an entry
    * whose `z_order` is `Some(true)` and whose [min_z, max_z] meets none of
    * them is dropped. */
  def mayMatch(filters: Array[Filter]): ManifestEntry => Boolean = conjunction(filters.toSeq)

  /** [[mayMatch]] as a predicate over a manifest DataFrame's stat columns
    * (distributed manifests, bloom sidecars, incremental reads, DML and the
    * stream). */
  def manifestPredicate(filters: Array[Filter]): Column =
    if (filters.isEmpty) lit(true)
    else {
      val keep = mayMatch(filters)
      udf((r: Row) => keep(statsOf(r))).apply(struct(statColumns.map(col): _*))
    }

  private val statColumns = Seq("min_repo", "max_repo", "min_path", "max_path", "langs",
    "min_rh", "max_rh", "nulls_repo", "nulls_path", "nulls_lang", "record_count",
    "min_z", "max_z", "z_order")

  /** an entry carrying a statColumns row's stats. Unknown values map to
    * what the rule reads as unknown: (0, 0) repo-hash and z bounds, a
    * record_count no null count reaches, and a None z_order. */
  private def statsOf(r: Row): ManifestEntry = {
    def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
    def bounds(i: Int) =
      if (r.isNullAt(i) || r.isNullAt(i + 1)) (0L, 0L) else (r.getLong(i), r.getLong(i + 1))
    val (rh, z) = (bounds(5), bounds(11))
    ManifestEntry(null, null, if (r.isNullAt(10)) Long.MaxValue else r.getLong(10), 0L,
      r.getString(0), r.getString(1), r.getString(2), r.getString(3),
      if (r.isNullAt(4)) null else r.getSeq[String](4), z._1, z._2, rh._1, rh._2, 0L,
      opt(7), opt(8), opt(9), None, if (r.isNullAt(13)) None else Some(r.getBoolean(13)))
  }

  /** the conjuncts of f, And nodes flattened. */
  private def conjuncts(f: Filter): Seq[Filter] = f match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case _ => Seq(f)
  }

  /** every conjunct's own test, plus the z test of the conjunction. */
  private def conjunction(fs: Seq[Filter]): ManifestEntry => Boolean = {
    val leaves = fs.flatMap(conjuncts)
    val tests = (leaves.map(compile) ++ zRanges(leaves).map(zTest)).toArray
    e => tests.forall(_(e))
  }

  /** The starts of the Z-order key ranges that hold every row satisfying
    * `leaves`, None when they do not bound it. A row with repo = a and
    * path = b has z = interleave(h(a), h(b), h(lang)) for the seed-42
    * xxhash64 h, and interleave puts the lang byte below the 56 hash bits,
    * so z lies in [p, p | 0xff] for p = interleave(h(a), h(b), 0) whatever
    * its lang. The values of every `EqualTo`/`In` on repo (and on path)
    * intersect; a null or non-string value among them, or more than
    * [[maxZRanges]] pairs, leaves the conjunction without a z test. The
    * starts come distinct and ascending in signed order, the order min_z
    * and max_z are taken in; their low bytes are 0, so the ranges are
    * disjoint and ascend with them. */
  private def zRanges(leaves: Seq[Filter]): Option[Array[Long]] = {
    def sets(c: String) = leaves.collect {
      case EqualTo(`c`, v) => Seq(v)
      case In(`c`, vs) => vs.toSeq
    }
    val (repoSets, pathSets) = (sets("repo"), sets("path"))
    def values(ss: Seq[Seq[Any]]) = ss.map(_.map(_.asInstanceOf[String]).toSet).reduce(_ intersect _)
    if (repoSets.isEmpty || pathSets.isEmpty ||
        (repoSets ++ pathSets).flatten.exists(!_.isInstanceOf[String])) None
    else {
      val (repos, paths) = (values(repoSets), values(pathSets))
      def h(v: String) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(UTF8String.fromString(v), StringType, 42L)
      if (repos.size.toLong * paths.size > maxZRanges) None
      else Some((for (a <- repos.toArray.map(h); b <- paths.toArray.map(h))
        yield graft.expr.ZOrderInterleave.interleave(a, b, 0L)).distinct.sorted)
    }
  }

  /** the most (repo, path) pairs a conjunction is z-tested on. */
  private val maxZRanges = 1L << 16

  /** keeps an entry unless its z is the Z-order key (`z_order` is
    * `Some(true)`) with known bounds ((0, 0) carries none) and no range
    * [p, p | 0xff] of `starts` meets [min_z, max_z]. */
  private def zTest(starts: Array[Long]): ManifestEntry => Boolean = e =>
    !e.z_order.contains(true) || (e.min_z == 0L && e.max_z == 0L) || {
      // the first range ending at or after min_z must start by max_z
      var lo = 0; var hi = starts.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if ((starts(mid) | 0xffL) < e.min_z) lo = mid + 1 else hi = mid
      }
      lo < starts.length && starts(lo) <= e.max_z
    }

  /** `stat <op> v` by the sign of stat.compareTo(v); a null stat keeps. */
  private def cmp(stat: String, v: UTF8String)(ok: Int => Boolean): Boolean =
    stat == null || ok(UTF8String.fromString(stat).compareTo(v))

  private def compile(f: Filter): ManifestEntry => Boolean = f match {
    case EqualTo("repo", v: String) =>
      val u = UTF8String.fromString(v)
      // xxhash64(repo), seed 42, as the writers take min_rh/max_rh: the hash
      // bounds prune a repo the string bounds of a z-clustered file span;
      // (0, 0) bounds and a null min_repo carry no hash stats
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(u, StringType, 42L)
      e => cmp(e.min_repo, u)(_ <= 0) && cmp(e.max_repo, u)(_ >= 0) &&
        (e.min_repo == null || (e.min_rh == 0L && e.max_rh == 0L) ||
          (e.min_rh <= h && h <= e.max_rh))
    case EqualTo("path", v: String) =>
      val u = UTF8String.fromString(v)
      e => cmp(e.min_path, u)(_ <= 0) && cmp(e.max_path, u)(_ >= 0)
    case EqualTo("lang", v: String) =>
      // array_contains: a miss is unknown when the set holds a null
      e => e.langs == null || e.langs.contains(v) || e.langs.contains(null)
    case GreaterThan("repo", v: String) => bound(_.max_repo, v)(_ > 0)
    case GreaterThanOrEqual("repo", v: String) => bound(_.max_repo, v)(_ >= 0)
    case LessThan("repo", v: String) => bound(_.min_repo, v)(_ < 0)
    case LessThanOrEqual("repo", v: String) => bound(_.min_repo, v)(_ <= 0)
    case GreaterThan("path", v: String) => bound(_.max_path, v)(_ > 0)
    case GreaterThanOrEqual("path", v: String) => bound(_.max_path, v)(_ >= 0)
    case LessThan("path", v: String) => bound(_.min_path, v)(_ < 0)
    case LessThanOrEqual("path", v: String) => bound(_.min_path, v)(_ <= 0)
    case In(c @ ("repo" | "path" | "lang"), vs) =>
      val any = vs.map {
        case v: String => compile(EqualTo(c, v))
        case _ => (_: ManifestEntry) => true
      }
      e => any.exists(_(e))
    case StringStartsWith("repo", p: String) => startsWith(_.min_repo, _.max_repo, p)
    case StringStartsWith("path", p: String) => startsWith(_.min_path, _.max_path, p)
    // null-count pruning: a null-free file can't satisfy IS NULL, an
    // all-null file can't satisfy IS NOT NULL (None = pre-field manifest →
    // keep, pruning is never optimistic)
    case IsNull(c) if nullCount.contains(c) =>
      e => nullCount(c)(e).forall(_ > 0L)
    case IsNotNull(c) if nullCount.contains(c) =>
      e => nullCount(c)(e).forall(_ < e.record_count)
    case And(l, r) => conjunction(Seq(l, r))
    case Or(l, r) =>
      val (a, b) = (compile(l), compile(r))
      e => a(e) || b(e)
    case _ => _ => true
  }

  private val nullCount: Map[String, ManifestEntry => Option[Long]] =
    Map("repo" -> (_.nulls_repo), "path" -> (_.nulls_path), "lang" -> (_.nulls_lang))

  private def bound(stat: ManifestEntry => String, v: String)(ok: Int => Boolean)
      : ManifestEntry => Boolean = {
    val u = UTF8String.fromString(v)
    e => cmp(stat(e), u)(ok)
  }

  /** startsWith pruning: the strings with prefix p are exactly those in
    * [p, sup) for the least string sup above them all, so a file may hold
    * one iff max >= p and min < sup — and min < sup iff min < p or min
    * itself starts with p. No sup is ever built, so a prefix of all U+FFFF
    * (or one ending in a surrogate) needs no special case. */
  private def startsWith(min: ManifestEntry => String, max: ManifestEntry => String,
                         p: String): ManifestEntry => Boolean = {
    val u = UTF8String.fromString(p)
    e => cmp(max(e), u)(_ >= 0) && (min(e) == null || {
      val m = UTF8String.fromString(min(e))
      m.compareTo(u) < 0 || m.startsWith(u)
    })
  }

  /** BUCKET pruning: on a bucket-clustered table, an equality/IN predicate
    * on the bucket column pins the exact bucket ids that can hold matching
    * rows \u2014 far stronger than min/max stats, which a hash layout spreads to
    * near-uselessness (every bucket-pure file spans most of the key range).
    * Returns the candidate bucket set, or None when the filters cannot bound
    * it. Unbucketed entries (bucket IS NULL) are always kept \u2014 pruning must
    * never lose rows from files written before bucketing. */
  private[lake] def candidateBuckets(filters: Array[Filter], column: String,
                                     n: Int): Option[Set[Int]] = {
    def bucketOf(v: String): Int = {
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(org.apache.spark.unsafe.types.UTF8String.fromString(v),
          org.apache.spark.sql.types.StringType, 42L)
      (((h % n) + n) % n).toInt
    }
    def of(f: Filter): Option[Set[Int]] = f match {
      case EqualTo(a, v: String) if a == column => Some(Set(bucketOf(v)))
      case In(a, vs) if a == column =>
        val strs = vs.collect { case s: String => s }
        if (strs.length == vs.length) Some(strs.map(bucketOf).toSet) else None
      case And(l, r) => (of(l), of(r)) match {
        case (Some(a), Some(b)) => Some(a intersect b)
        case (a, b) => a.orElse(b)
      }
      case Or(l, r) => for { a <- of(l); b <- of(r) } yield a union b
      case _ => None
    }
    filters.flatMap(of).reduceOption(_ intersect _)
  }

  /** the manifest-DataFrame predicate for candidateBuckets \u2014 applied
    * DISTRIBUTED, before the planning collect. */
  private[lake] def bucketPredicate(cands: Option[Set[Int]]): Column =
    cands match {
      case Some(bs) => col("bucket").isNull || col("bucket").isin(bs.toSeq: _*)
      case None => lit(true)
    }
}

/** One data file: the read task of a scan with pending merge-on-read
  * deletes and of GraftRowLevel's DML scan ([[GraftScan.packFiles]] says
  * why neither is packed). addSeq/eqDeletes/posDeletes carry the delete
  * state when the scanned snapshot has pending delete shards: such a
  * partition reads as rows through GraftMorFilteringReader, which drops
  * rows whose key is equality-deleted at a seq GREATER than the file's add
  * seq (the sequence rule) and rows whose (file, ordinal) address is
  * position-deleted. Defaults mean "no pending deletes", read columnar. */
case class GraftInputPartition(absPath: String, addSeq: Long = Long.MaxValue,
                               eqDeletes: Seq[String] = Nil,
                               posDeletes: Seq[String] = Nil) extends InputPartition

/** Data files read back to back by one task ([[GraftChainedReader]]),
  * columnar: the connector's read task when no merge-on-read delete is
  * pending. [[GraftScan.packFiles]] plans them. */
class GraftFilesPartition(val absPaths: Seq[String]) extends InputPartition

/** One partition per occupied storage bucket: its bucket-pure files, keyed
  * by the bucket id, which Spark's KeyGroupedPartitioning machinery aligns
  * across a storage-partitioned join. */
class GraftBucketedPartition(val bucket: Int, absPaths: Seq[String])
  extends GraftFilesPartition(absPaths)
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** Scan produced when a COMPLETE aggregate pushdown succeeded: the answer is
  * computed by ONE small distributed job over the live manifest entries
  * (Σ record_count / min / max — a few rows per data file, never the data),
  * then shipped to the executor as a single one-row partition. Deliberately
  * NOT SupportsRuntimeFiltering: this scan's output is the aggregate row,
  * not pruneable source rows. */
class GraftAggScan(location: String, snapshot: Option[Long],
                   aggs: Seq[GraftAggScan.PushedAgg])
  extends Scan with Batch {
  import GraftAggScan._

  override def readSchema(): StructType = StructType(aggs.map {
    case CountStarAgg => StructField("count_star", LongType, nullable = false)
    case MinAgg(c, dt) => StructField(s"min_$c", dt)
    case MaxAgg(c, dt) => StructField(s"max_$c", dt)
  })
  override def toBatch: Batch = this

  override def description(): String =
    s"GraftAggScan location=$location PushedAggregates=[${aggs.map(_.sql).mkString(", ")}] (manifest stats only, zero data files read)"

  override def planInputPartitions(): Array[InputPartition] = {
    import org.apache.spark.sql.functions._
    // a global aggregate whose outputs were ALL pruned away (e.g. the query
    // only counts the rows of the one-row agg result) still produces exactly
    // one row — of zero columns, no manifest job needed
    if (aggs.isEmpty) return Array(GraftAggPartition(Array.empty))
    val spark = SparkSession.active
    val table = new GraftTable(spark, location)
    val snap = snapshot match {
      case Some(v) => Some(table.snapshot(v).getOrElse(throw new IllegalArgumentException(
        s"graft table $location has no snapshot $v (expired or never committed)")))
      case None => table.currentSnapshot
    }
    val values: Array[Any] = snap match {
      case None => aggs.map {
        case CountStarAgg => 0L: Any
        case _ => null: Any
      }.toArray
      case Some(s) =>
        val m = table.manifest(s)
        val cols = aggs.zipWithIndex.map { case (a, i) =>
          (a match {
            // empty manifest: count is 0, min/max are null — the exact
            // values Spark's aggregate produces over an empty table
            case CountStarAgg => coalesce(sum(col("record_count")), lit(0L))
            // lang has no scalar min/max stat, but `langs` is the file's
            // EXACT distinct set — its array min/max are exact file bounds
            case MinAgg("lang", _) => min(array_min(col("langs")))
            case MaxAgg("lang", _) => max(array_max(col("langs")))
            case MinAgg(c, _) => min(col(s"min_$c"))
            case MaxAgg(c, _) => max(col(s"max_$c"))
          }).as(s"a$i")
        }
        val row = m.agg(cols.head, cols.tail: _*).head()
        aggs.indices.map(i => row.get(i): Any).toArray
    }
    Array(GraftAggPartition(values))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory
}

object GraftAggScan {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._

  sealed trait PushedAgg { def sql: String }
  case object CountStarAgg extends PushedAgg { val sql = "COUNT(*)" }
  case class MinAgg(col: String, dt: DataType) extends PushedAgg { def sql = s"MIN($col)" }
  case class MaxAgg(col: String, dt: DataType) extends PushedAgg { def sql = s"MAX($col)" }

  /** columns whose manifest stats are EXACT table-wide bounds. */
  private val statCols: Map[String, DataType] = Map(
    "repo" -> StringType, "path" -> StringType, "lang" -> StringType,
    "z" -> LongType)

  private def simpleCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }

  /** Some(pushed aggs) iff EVERY aggregate is answerable exactly from the
    * manifest; any unsupported function (SUM, AVG, COUNT(col) — no null
    * counts in the stats) or any GROUP BY refuses the whole pushdown. */
  def translate(agg: Aggregation): Option[Seq[PushedAgg]] = {
    if (agg.groupByExpressions.nonEmpty) return None
    val out = agg.aggregateExpressions.map {
      case _: CountStar => Some(CountStarAgg)
      case m: Min => simpleCol(m.column).flatMap(c => statCols.get(c).map(MinAgg(c, _)))
      case m: Max => simpleCol(m.column).flatMap(c => statCols.get(c).map(MaxAgg(c, _)))
      case _ => None
    }
    if (out.forall(_.isDefined)) Some(out.toSeq.flatten) else None
  }
}

case class GraftAggPartition(values: Array[Any]) extends InputPartition

class GraftAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val vals = p.asInstanceOf[GraftAggPartition].values
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): InternalRow = new GenericInternalRow(
        vals.map {
          case s: String => UTF8String.fromString(s): Any
          case x => x
        })
      override def close(): Unit = ()
    }
}

/** The connector's ONE data-file decoder is Spark's own
  * VectorizedParquetRecordReader (GraftColumnarPartitionReader, VERDICT r4
  * #1): each data file decodes straight into ColumnarBatches — the same
  * vectorized decoder FileSourceScan uses, so the connector scan keeps
  * whole-stage codegen's batch iteration. Columns missing from a file's
  * footer (schema evolution) are spliced in as constant null vectors. A
  * partition carrying pending merge-on-read deletes reads the same batches
  * as rows through GraftMorFilteringReader, which drops the deleted ones. */
class GraftReaderFactory(required: StructType, limit: Option[Int] = None,
                         pushed: Array[Filter] = Array.empty)
  extends PartitionReaderFactory {
  // session Hadoop overrides captured at plan time; installed executor-side
  // when a task builds its reader so the static delete-shard loaders (which
  // cannot receive a bag) see them too (LakeConf scaladoc)
  private val confBag = LakeConf.capture()

  /** columnar iff the partition carries no pending deletes. Uniform per
    * scan: a scan planned with pending MoR deletes ships them to EVERY
    * partition (→ rows, filtered), one planned without ships none.
    * Multi-file partitions are planned only when no deletes are pending. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition match {
      case p: GraftInputPartition => p.eqDeletes.isEmpty && p.posDeletes.isEmpty
      case _: GraftFilesPartition => true
    }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    LakeConf.install(confBag)
    val inner = partition match {
      case p: GraftInputPartition =>
        new GraftColumnarPartitionReader(p.absPath, required, pushed, confBag)
      case f: GraftFilesPartition =>
        GraftChainedReader(f.absPaths, required, pushed, confBag)
    }
    limit.fold(inner)(GraftLimitReaders.columnar(inner, _))
  }

  /** the row path: a partition with pending deletes. The pushed filters
    * stay off (GraftMorFilteringReader). */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    LakeConf.install(confBag)
    val p = partition.asInstanceOf[GraftInputPartition]
    val inner: PartitionReader[InternalRow] = new GraftMorFilteringReader(
      p.absPath, required, p.addSeq, p.eqDeletes, p.posDeletes, confBag)
    limit.fold(inner)(GraftLimitReaders.rows(inner, _))
  }
}

/** Pushed-filter → parquet FilterPredicate translation for ROW-GROUP and
  * PAGE (column-index) stats pruning inside data files. Conservative by
  * construction: untranslatable leaves drop out of an AND (keeping more),
  * void an OR entirely, and the whole translation returns None rather than
  * guess — parquet's statistics/column-index filters then only drop
  * groups/pages whose stats PROVE no match, and string stats compare with
  * the UTF8 (unsigned lexicographic) comparator, the same ordering Spark's
  * UTF8String uses. Scope is the base-schema columns every data file is
  * guaranteed to carry (a predicate on an evolved column would make
  * parquet's schema validator throw on pre-evolution files); `z` rides
  * along as INT64 so post-`cluster` curve-range scans prune too. All
  * filters stay residual row-level in Spark, so this can only skip IO,
  * never rows that matter. */
private[lake] object GraftParquetFilters {
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
  import org.apache.parquet.io.api.Binary

  private val stringCols = Set("repo", "path", "lang", "commit")
  private val longCols = Set("z")
  private def bin(c: String) = FilterApi.binaryColumn(c)
  private def b(v: String) = Binary.fromString(v)
  private def lng(c: String) = FilterApi.longColumn(c)
  private def l(v: Any): java.lang.Long = v match {
    case x: Long => Long.box(x)
    case x: Int => Long.box(x.toLong)
    case x: java.lang.Long => x
    case x: java.lang.Integer => Long.box(x.longValue())
  }
  private def isLongVal(v: Any): Boolean = v match {
    case _: Long | _: Int | _: java.lang.Long | _: java.lang.Integer => true
    case _ => false
  }

  def translate(filters: Array[Filter]): Option[FilterPredicate] =
    filters.flatMap(toPred).reduceOption(FilterApi.and)

  private def toPred(f: Filter): Option[FilterPredicate] = f match {
    case EqualTo(c, v: String) if stringCols(c) => Some(FilterApi.eq(bin(c), b(v)))
    case GreaterThan(c, v: String) if stringCols(c) => Some(FilterApi.gt(bin(c), b(v)))
    case GreaterThanOrEqual(c, v: String) if stringCols(c) => Some(FilterApi.gtEq(bin(c), b(v)))
    case LessThan(c, v: String) if stringCols(c) => Some(FilterApi.lt(bin(c), b(v)))
    case LessThanOrEqual(c, v: String) if stringCols(c) => Some(FilterApi.ltEq(bin(c), b(v)))
    case In(c, vs) if stringCols(c) && vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      vs.map(v => FilterApi.eq(bin(c), b(v.asInstanceOf[String])): FilterPredicate)
        .reduceOption(FilterApi.or)
    case EqualTo(c, v) if longCols(c) && isLongVal(v) => Some(FilterApi.eq(lng(c), l(v)))
    case GreaterThan(c, v) if longCols(c) && isLongVal(v) => Some(FilterApi.gt(lng(c), l(v)))
    case GreaterThanOrEqual(c, v) if longCols(c) && isLongVal(v) => Some(FilterApi.gtEq(lng(c), l(v)))
    case LessThan(c, v) if longCols(c) && isLongVal(v) => Some(FilterApi.lt(lng(c), l(v)))
    case LessThanOrEqual(c, v) if longCols(c) && isLongVal(v) => Some(FilterApi.ltEq(lng(c), l(v)))
    case In(c, vs) if longCols(c) && vs.nonEmpty && vs.forall(isLongVal) =>
      vs.map(v => FilterApi.eq(lng(c), l(v)): FilterPredicate).reduceOption(FilterApi.or)
    // null tests prune via per-group/page null counts (eq/notEq against a
    // null value are parquet's is-null / is-not-null forms)
    case IsNull(c) if stringCols(c) =>
      Some(FilterApi.eq(bin(c), null: Binary))
    case IsNotNull(c) if stringCols(c) =>
      Some(FilterApi.notEq(bin(c), null: Binary))
    case IsNull(c) if longCols(c) =>
      Some(FilterApi.eq(lng(c), null: java.lang.Long))
    case IsNotNull(c) if longCols(c) =>
      Some(FilterApi.notEq(lng(c), null: java.lang.Long))
    case And(l, r) => (toPred(l), toPred(r)) match {
      case (Some(a), Some(c)) => Some(FilterApi.and(a, c))
      case (a, c) => a.orElse(c) // the untranslatable side keeps everything
    }
    case Or(l, r) => for { a <- toPred(l); c <- toPred(r) } yield FilterApi.or(a, c)
    case _ => None
  }
}

/** Per-partition row caps for a pushed LIMIT: the limit is PARTIALLY pushed
  * (Spark keeps the global Limit), so each partition may stop after `limit`
  * rows — a partition can never contribute more than the whole query needs.
  * The columnar flavor truncates the final batch in place via setNumRows. */
object GraftLimitReaders {
  def rows(inner: PartitionReader[InternalRow], limit: Int)
      : PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var remaining = limit
      override def next(): Boolean =
        remaining > 0 && inner.next() && { remaining -= 1; true }
      override def get(): InternalRow = inner.get()
      override def close(): Unit = inner.close()
    }

  def columnar(inner: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
               limit: Int)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var remaining = limit
      override def next(): Boolean = remaining > 0 && inner.next()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = inner.get()
        if (b.numRows > remaining) b.setNumRows(remaining)
        remaining -= b.numRows
        b
      }
      override def close(): Unit = inner.close()
    }
}

/** Sequential concatenation of per-file readers — the reader of every
  * [[GraftFilesPartition]] (packed files, or a bucket's files); each is
  * opened only when its predecessor is exhausted, so memory stays
  * one-file-bounded, and each file's reader serves its own `_file` and
  * `_pos`. */
object GraftChainedReader {
  import org.apache.spark.sql.vectorized.ColumnarBatch

  def apply(paths: Seq[String], required: StructType,
            pushed: Array[Filter] = Array.empty,
            confBag: Array[(String, String)] = Array.empty)
      : PartitionReader[ColumnarBatch] =
    new PartitionReader[ColumnarBatch] {
      private val it = paths.iterator
      private var cur: PartitionReader[ColumnarBatch] = _
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (!it.hasNext) return false
            cur = new GraftColumnarPartitionReader(it.next(), required, pushed, confBag)
          }
          if (cur.next()) return true
          cur.close(); cur = null
        }
        false
      }
      override def get(): ColumnarBatch = cur.get()
      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }
}

/** Vectorized per-file reader: next()/get() surface one ColumnarBatch per
  * call. Projection is the `required` schema intersected with the file's
  * own footer (order preserved); absent columns become constant null
  * vectors so schema evolution never fails the batch path. */
class GraftColumnarPartitionReader(absPath: String, required: StructType,
                                   pushed: Array[Filter] = Array.empty,
                                   confBag: Array[(String, String)] = Array.empty)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
  import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val columns = required.fieldNames
  // ROW-GROUP pruning: the pushed (always-residual) filters translate to a
  // parquet FilterPredicate, and ParquetFileReader drops whole row groups
  // whose stats prove no row can match — inside-the-file pruning the
  // manifest's file-level min/max can't see (a 1-GB file with 8 row groups
  // and a selective predicate decodes 1 group, not 8). Sound because every
  // filter stays residual row-level in Spark, so dropping definite
  // non-matches can never change the result. DISABLED when `_pos` is
  // requested: the file-ordinal metadata column counts rows as read, and a
  // skipped group would shift every later ordinal (positional deletes and
  // delta DML address rows by it).
  private val rowGroupFilter: Option[org.apache.parquet.filter2.predicate.FilterPredicate] =
    if (columns.contains("_pos")) None else GraftParquetFilters.translate(pushed)

  private val conf = LakeConf.restore(confBag)
  // one open serves the footer probe AND the page reads: the footer and the
  // stream it came from are handed to Spark's reader, which builds its
  // ParquetFileReader on them instead of reopening the file
  private val inputFile = org.apache.parquet.hadoop.util.HadoopInputFile
    .fromPath(new org.apache.hadoop.fs.Path(absPath), conf)
  private val stream = inputFile.newStream()
  private val footer =
    try org.apache.parquet.hadoop.ParquetFileReader.readFooter(inputFile,
      org.apache.parquet.HadoopReadOptions.builder(conf).build(), stream)
    catch { case e: Throwable => stream.close(); throw e }
  private val fileSchema = footer.getFileMetaData.getSchema
  private val presentSchema =
    StructType(required.fields.filter(f => fileSchema.containsField(f.name)))
  private val present: Array[String] = presentSchema.fieldNames
  private val allPresent = present.length == columns.length
  private val presentIdx: Map[String, Int] = present.zipWithIndex.toMap

  private val reader: VectorizedParquetRecordReader =
    if (present.isEmpty) { stream.close(); null }
    else try {
      import org.apache.parquet.hadoop.ParquetInputFormat
      import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
      import org.apache.spark.sql.internal.SQLConf
      // the conf Spark's reader reads: the requested (present) columns for
      // ParquetReadSupport's projection, the schema-conversion flags its
      // schema-only overload fixes to false, and the row-group filter, which
      // ParquetFileReader applies to row groups AND column-index pages (the
      // surviving pages carry the row indexes the vectorized decoder uses
      // for synchronized row skipping across columns)
      conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, presentSchema.json)
      conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
      Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
        SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
        SQLConf.LEGACY_PARQUET_NANOS_AS_LONG).foreach(e => conf.setBoolean(e.key, false))
      rowGroupFilter.foreach(ParquetInputFormat.setFilterPredicate(conf, _))
      // Spark's reader casts its split to the mapred FileSplit
      val split = new org.apache.hadoop.mapred.FileSplit(
        new org.apache.hadoop.fs.Path(absPath), 0L, inputFile.getLength, Array.empty[String])
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
      val r = new VectorizedParquetRecordReader(
        /* useOffHeap = */ false, /* capacity = */ 4096)
      r.initialize(split, ctx, Some(inputFile), Some(stream), Some(footer))
      r.resultBatch() // allocates the column vectors (initBatch) — nextBatch
      r               // NPEs if called before the batch exists
    } catch { case e: Throwable => stream.close(); throw e }
  // rows of a file holding none of the requested columns: the footer count
  // (a superset of any filtered count; every pushed filter stays residual)
  private lazy val fileRows: Long = footer.getBlocks.asScala.map(_.getRowCount).sum
  private var emittedEmpty = false

  override def next(): Boolean =
    if (reader != null) reader.nextBatch()
    else if (!emittedEmpty && fileRows > 0) { emittedEmpty = true; true }
    else false

  override def get(): ColumnarBatch = {
    if (reader == null) {
      // no requested column exists in this file: all-null constant vectors
      // carrying the footer's row count (O(1) memory regardless of rows)
      val n = fileRows.toInt
      val b = new ColumnarBatch(
        columns.indices.map(i => missingVec(i, n)).toArray, n)
      posOffset += n
      return b
    }
    val inner = reader.resultBatch()
    if (allPresent) inner
    else {
      val n = inner.numRows()
      val vecs = new Array[ColumnVector](columns.length)
      var i = 0
      while (i < columns.length) {
        vecs(i) = presentIdx.get(columns(i)) match {
          case Some(j) => inner.column(j)
          case None => missingVec(i, n)
        }
        i += 1
      }
      posOffset += n
      new ColumnarBatch(vecs, n)
    }
  }

  // running file-ordinal offset for the `_pos` metadata column — the
  // row-group filter is off whenever `_pos` is read, so the vectorized
  // reader skips no rows and batch row counts sum to exact file positions
  private var posOffset = 0L

  /** a requested column absent from the file's footer: `_file` is the
    * reader's own path, `_pos` the row's file ordinal (metadata columns),
    * anything else reads as null (schema evolution). */
  private def missingVec(fieldIdx: Int, n: Int): ColumnVector = {
    if (columns(fieldIdx) == "_pos") {
      val v = new org.apache.spark.sql.execution.vectorized.OnHeapColumnVector(n, LongType)
      var i = 0
      while (i < n) { v.putLong(i, posOffset + i); i += 1 }
      return v
    }
    val v = new ConstantColumnVector(n, required.fields(fieldIdx).dataType)
    if (columns(fieldIdx) == "_file")
      v.setUtf8String(UTF8String.fromString(absPath))
    else v.setNull()
    v
  }

  override def close(): Unit = if (reader != null) reader.close()
}

/** Row reader applying pending MERGE-ON-READ deletes per task (the Iceberg
  * delete read shape: each delete set is loaded into task memory once per
  * executor and every row probes it), layered over the columnar decoder. It
  * walks each batch's rows in file order, so a running count is the row's
  * file ordinal. A row is dropped when its ordinal is position-deleted, or
  * when its (repo, path, commit) key is equality-deleted with del_seq > the
  * file's add seq (the sequence rule). Key columns the query didn't ask for
  * are read for the probe and projected away. No pushed filter reaches the
  * decoder: a skipped row group would shift every later ordinal, and the
  * positional deletes and `_pos` address rows by it. */
class GraftMorFilteringReader(absPath: String, required: StructType,
                              addSeq: Long, eqDeletes: Seq[String],
                              posDeletes: Seq[String],
                              confBag: Array[(String, String)] = Array.empty)
  extends PartitionReader[InternalRow] {
  // equality probing needs the key columns; a posdel-only scan must NOT
  // widen its read set for keys it will never compare
  private val keyCols =
    if (eqDeletes.isEmpty) Seq.empty[String] else Seq("repo", "path", "commit")
  private val readSchema = StructType(required.fields ++ keyCols
    .filterNot(required.fieldNames.contains).map(StructField(_, StringType)))
  private val inner = new GraftColumnarPartitionReader(absPath, readSchema,
    Array.empty, confBag)
  private val keyIdx = keyCols.map(readSchema.fieldIndex).toArray
  // the required columns lead the read schema; the probe-only keys trail it
  private val projection =
    if (readSchema.length == required.length) None
    else Some(org.apache.spark.sql.catalyst.ProjectingInternalRow(required,
      required.indices))
  private lazy val dels = GraftEqDeletes.keyMap(eqDeletes)
  private lazy val posDels: java.util.HashSet[java.lang.Long] =
    GraftPosDeletes.forFile(posDeletes, GraftPosDeletes.relOf(absPath))
  private var rows: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
  private var ordinal = -1L
  private var cur: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      while (rows.hasNext) {
        val r = rows.next()
        ordinal += 1
        if (!(posDeletes.nonEmpty && posDels.contains(ordinal)) && !eqDeleted(r)) {
          cur = projection.fold(r) { p => p.project(r); p }
          return true
        }
      }
      if (!inner.next()) return false
      rows = inner.get().rowIterator()
    }
    false
  }

  // a null key column can never equal a delete key - keep the row
  private def eqDeleted(r: InternalRow): Boolean =
    keyIdx.nonEmpty && !r.isNullAt(keyIdx(0)) && !r.isNullAt(keyIdx(1)) &&
      !r.isNullAt(keyIdx(2)) && {
        val d = dels.get((r.getUTF8String(keyIdx(0)), r.getUTF8String(keyIdx(1)),
          r.getUTF8String(keyIdx(2))))
        d != null && d.longValue() > addSeq
      }

  override def get(): InternalRow = cur
  override def close(): Unit = inner.close()
}

/** Executor-side cache of position-delete address sets: one load per
  * (executor, posdel shard set), file→ordinal-set, probed per row by the
  * filtering reader — Iceberg's "load the delete file once" shape, with a
  * long probe instead of a string-key compare. */
object GraftPosDeletes {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.HashMap[String, java.util.HashSet[java.lang.Long]]]()

  private val empty = new java.util.HashSet[java.lang.Long]()

  /** manifest-relative path of a data file from its absolute scan path —
    * data files always live under the table's data/ directory, so this
    * matches the representation posdel shards store. */
  def relOf(absPath: String): String = {
    val i = absPath.lastIndexOf("/data/")
    if (i < 0) absPath else "data/" + absPath.substring(i + "/data/".length)
  }

  def forFile(shardDirs: Seq[String], relPath: String): java.util.HashSet[java.lang.Long] = {
    if (shardDirs.isEmpty) return empty
    val k = shardDirs.sorted.mkString("\u0001")
    if (cache.size > 32) cache.clear() // stale shard sets from old snapshots
    cache.computeIfAbsent(k, _ => load(shardDirs)).getOrDefault(relPath, empty)
  }

  private def load(shardDirs: Seq[String])
      : java.util.HashMap[String, java.util.HashSet[java.lang.Long]] = {
    val m = new java.util.HashMap[String, java.util.HashSet[java.lang.Long]]()
    val conf = LakeConf.installedConf()
    // a missing shard throws: reading it as empty would resurrect its rows
    for (dir <- shardDirs) MetaIO.foreachGroup(new org.apache.hadoop.fs.Path(dir), conf) { g =>
      m.computeIfAbsent(g.getString("file_path", 0),
          _ => new java.util.HashSet[java.lang.Long]())
        .add(java.lang.Long.valueOf(g.getLong("pos", 0)))
    }
    m
  }
}

/** Executor-side cache of equality-delete key maps: one load per (executor,
  * eqdel shard set), shared by every task of the scan - the same "load the
  * delete file once, probe per row" shape Iceberg's readers use. */
object GraftEqDeletes {
  /** a probe key: the (repo, path, commit) values themselves, compared
    * bytewise — no separator that a value could also contain. */
  type Key = (UTF8String, UTF8String, UTF8String)

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.HashMap[Key, java.lang.Long]]()

  def keyMap(shardDirs: Seq[String]): java.util.HashMap[Key, java.lang.Long] = {
    val k = shardDirs.sorted.mkString("\u0001")
    if (cache.size > 32) cache.clear() // stale shard sets from old snapshots
    cache.computeIfAbsent(k, _ => load(shardDirs))
  }

  private def load(shardDirs: Seq[String]): java.util.HashMap[Key, java.lang.Long] = {
    val m = new java.util.HashMap[Key, java.lang.Long]()
    val conf = LakeConf.installedConf()
    // a null key component (SQL equality with null never matches) deletes
    // nothing
    def str(g: org.apache.parquet.example.data.Group, f: String): UTF8String =
      if (g.getFieldRepetitionCount(f) == 0) null
      else UTF8String.fromBytes(g.getBinary(f, 0).getBytes)
    // a missing shard throws: reading it as empty would resurrect its rows
    for (dir <- shardDirs) MetaIO.foreachGroup(new org.apache.hadoop.fs.Path(dir), conf) { g =>
      val key = (str(g, "repo"), str(g, "path"), str(g, "commit"))
      if (key._1 != null && key._2 != null && key._3 != null)
        m.merge(key, java.lang.Long.valueOf(g.getLong("del_seq", 0)),
          (a, b) => if (a.longValue() >= b.longValue()) a else b)
    }
    m
  }
}
