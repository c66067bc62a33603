package graft.lake

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}

/** TableCatalog plugin: makes graft tables first-class SQL citizens —
  *
  * {{{
  * spark.conf: spark.sql.catalog.graft           = graft.lake.GraftCatalog
  *             spark.sql.catalog.graft.warehouse = /data/graft
  * spark.sql("SELECT * FROM graft.ns.t WHERE repo = 'r'")   // pruned scan
  * spark.sql("INSERT INTO graft.ns.t SELECT ...")           // manifest commit
  * }}}
  *
  * Identifiers map to warehouse paths (`ns.t` → `<warehouse>/ns/t`); each
  * table is the same GraftSparkTable the path-based
  * `spark.read.format("graft")` API serves, so SQL queries get the
  * identical columnar read path, manifest pruning, runtime filtering and
  * V1-bridge writes. `FOR VERSION AS OF v` resolves through the snapshot
  * machinery (loadTable(ident, version)) for SQL time travel.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog
  with ProcedureCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def tablePath(ident: Identifier): String =
    (warehouse +: ident.namespace() :+ ident.name()).mkString("/")

  /** a graft table is identified by its meta/ directory — present from
    * init() on, BEFORE the first commit writes the version hint (an empty
    * created table must be loadable so INSERT INTO can target it). */
  private def isTable(path: String): Boolean = LakeIO.of(path).exists("meta")

  /** `ns.t.snapshots|files|tags` — the Iceberg metadata-table convention:
    * the identifier's NAME is the metadata kind and its namespace tail is
    * the real table. Only consulted when the identifier itself is not a
    * table, so a genuine table named `files` always wins. */
  private def metadataTable(ident: Identifier, pinned: Option[Long]): Option[Table] =
    if (GraftMetadataTables.kinds.contains(ident.name()) && ident.namespace().nonEmpty) {
      val base = (warehouse +: ident.namespace()).mkString("/")
      if (isTable(base)) Some(new GraftMetadataSparkTable(base, ident.name(), pinned))
      else None
    } else None

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    if (!isTable(path))
      return metadataTable(ident, None).getOrElse(throw new NoSuchTableException(ident))
    // strict schema for SQL-surface tables: ACCEPT_ANY_SCHEMA would flip
    // MERGE INTO into skipSchemaResolution mode, which vanilla Spark never
    // resolves (it expects an engine extension to)
    new GraftSparkTable(path, acceptAnySchema = false)
  }

  /** SQL time travel: `VERSION AS OF 3` (a snapshot version) or
    * `VERSION AS OF 'tag-name'` (a named ref pinned by GraftTable.setTag). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePath(ident)
    def resolve(p: String): Long = version.toLongOption.getOrElse {
      // a name resolves as a tag first, then a branch head (creation
      // refuses tag/branch name collisions, so the order never matters)
      val t = new GraftTable(SparkSession.active, p)
      t.tags.get(version).orElse(t.branches.get(version))
        .getOrElse(throw new NoSuchTableException(ident))
    }
    if (!isTable(path)) {
      // time-traveled metadata table: ns.t.files VERSION AS OF v — the live
      // manifest AS OF that snapshot (or tag)
      val base = (warehouse +: ident.namespace()).mkString("/")
      return metadataTable(ident, Some(resolve(base)))
        .getOrElse(throw new NoSuchTableException(ident))
    }
    new GraftSparkTable(path, Some(resolve(path)), acceptAnySchema = false)
  }

  /** SQL time travel by time: `TIMESTAMP AS OF '...'` — Spark hands the
    * instant in MICROseconds; resolves to the newest snapshot on main's
    * ancestry committed at or before it (branch-line snapshots are never
    * picked up by a timestamp — the Iceberg rule). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val path = tablePath(ident)
    def resolve(p: String): Long = {
      val t = new GraftTable(SparkSession.active, p)
      val tsMillis = timestampMicros / 1000L
      val anc = t.currentSnapshot.map(s => t.ancestorsOf(s.version))
        .getOrElse(Set.empty[Long])
      t.listSnapshots()
        .filter(s => anc(s.version) && s.tsMillis <= tsMillis)
        .map(_.version).maxOption
        .getOrElse(throw new NoSuchTableException(ident))
    }
    if (!isTable(path)) {
      val base = (warehouse +: ident.namespace()).mkString("/")
      return metadataTable(ident, Some(resolve(base)))
        .getOrElse(throw new NoSuchTableException(ident))
    }
    new GraftSparkTable(path, Some(resolve(path)), acceptAnySchema = false)
  }

  override def tableExists(ident: Identifier): Boolean = isTable(tablePath(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val io = LakeIO.of((warehouse +: namespace).mkString("/"))
    io.list("").filter { child =>
      isTable((warehouse +: namespace :+ child).mkString("/"))
    }.map(Identifier.of(namespace, _)).toArray
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    require(partitions.isEmpty, "graft tables manage their own layout (z-cluster)")
    val path = tablePath(ident)
    new GraftTable(SparkSession.active, path).init()
    new GraftSparkTable(path, acceptAnySchema = false)
  }

  /** SQL `ALTER TABLE ... ADD COLUMNS (...)` / `DROP COLUMN ...` → the
    * metadata-only evolution commits (evolveSchema/dropColumn). All ADDs in
    * one statement land as ONE commit; each DROP is its own commit (it must
    * tombstone the name). Anything else (renames, type changes, reorders)
    * is refused — name-based column mapping cannot express those safely. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tablePath(ident)
    if (!isTable(path)) throw new NoSuchTableException(ident)
    val table = new GraftTable(SparkSession.active, path)
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    val other = changes.filterNot(c =>
      c.isInstanceOf[TableChange.AddColumn] || c.isInstanceOf[TableChange.DeleteColumn])
    require(other.isEmpty,
      s"unsupported ALTER TABLE change(s): ${other.map(_.getClass.getSimpleName).mkString(", ")}")
    if (adds.nonEmpty) {
      adds.foreach(a => require(a.fieldNames.length == 1,
        s"nested column ${a.fieldNames.mkString(".")} not supported"))
      table.evolveSchema(StructType(adds.map(a =>
        org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, a.isNullable)).toArray).toDDL)
    }
    drops.foreach { d =>
      require(d.fieldNames.length == 1,
        s"nested column ${d.fieldNames.mkString(".")} not supported")
      table.dropColumn(d.fieldNames.head)
    }
    new GraftSparkTable(path, acceptAnySchema = false)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    LakeIO.of(tablePath(ident)).delete("")
    MetaCache.invalidateLocation(tablePath(ident))
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("rename not supported (path-addressed tables)")

  // -- FunctionCatalog: serves the bucket transform so Catalyst can resolve
  // the KeyGroupedPartitioning a bucket-clustered scan reports (the function
  // identity is what storage-partitioned-join compatibility compares) --
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket") Bucketing.BucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  // -- ProcedureCatalog: the Iceberg-style maintenance surface,
  // CALL <cat>.system.compact(`table` => 'ns.t', ...) — see GraftProcedures --
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val p = if (ident.namespace().sameElements(Array("system")))
      GraftProcedures.load(ident.name(), warehouse) else None
    p.getOrElse(throw new RuntimeException(
      s"no such procedure ${ident.namespace().mkString(".")}.${ident.name()} " +
      s"(available: system.{${GraftProcedures.names.mkString(", ")}})"))
  }

  // -- SupportsNamespaces (warehouse directories) --
  override def listNamespaces(): Array[Array[String]] = {
    val io = LakeIO.of(warehouse)
    io.list("").filter(child => !isTable(s"$warehouse/$child"))
      .map(Array(_)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    LakeIO.of(warehouse).exists(namespace.mkString("/")) || namespace.isEmpty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    LakeIO.of(warehouse).mkdirs(namespace.mkString("/"))

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace metadata not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val io = LakeIO.of(warehouse)
    val rel = namespace.mkString("/")
    if (!io.exists(rel)) return false
    require(cascade || io.list(rel).isEmpty, s"namespace $rel is not empty")
    io.delete(rel)
    true
  }
}
