package graft.sources

import graft.mergetree.{ColumnarMergeTree, MergeTreeTable, MetaFiles}
import graft.mergetree.ColumnarMergeTree.TableDef

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Name-addressed DSv2 catalog over a directory of mergetree tables — the
  * ClickHouse-database face of the engine (a ClickHouse user says
  * `db.table`, not a filesystem path). Register with:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft
  * }}}
  *
  * `graft.ns.t` maps to directory `<warehouse>/ns/t`; the tables are the
  * SAME self-describing tabledef.json directories the path-based
  * `format("mergetree")` face reads, so the two faces interoperate on
  * identical storage. Everything the path face supports (INSERT/SELECT/
  * DELETE, FINAL via read option, MVs, projections) works on catalog
  * identifiers too — plus the catalog-only verbs:
  *
  *   - `CREATE TABLE graft.ns.t (…) OPTIONS (orderBy 'k', …)` — DDL-born
  *     tables, same tabledef as the Scala API writes;
  *   - `ALTER TABLE graft.ns.t ADD COLUMN c BIGINT` /
  *     `DROP COLUMN c` / `ALTER COLUMN c TYPE BIGINT` — the SQL face of
  *     the rewrite-free schema evolution (ColumnarMergeTree.addColumn /
  *     dropColumn / widenColumn): metadata-only, no part rewritten, the
  *     only ALTER economics that hold at 100 TB;
  *   - DROP/RENAME TABLE, namespaces as directories.
  *
  * Catalog state is the filesystem — no extra metastore to drift from the
  * table directories (the declared single-driver posture of SURVEY §8; a
  * multi-driver deployment would swap this class for one backed by a
  * shared store, the interface is the seam).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _

  override def name(): String = catalogName

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Paths.get(Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name: set spark.sql.catalog.$name.warehouse to a directory")))
    Files.createDirectories(warehouse)
  }

  /** Segment-validated resolve under the warehouse — EVERY identifier and
    * namespace path goes through here, so neither a table name nor a
    * namespace like `..` can traverse outside the warehouse (dropNamespace
    * CASCADE recursively deletes; an unvalidated segment would let it
    * delete the warehouse's parent).
    */
  private def resolveSegs(segs: Seq[String]): Path = {
    segs.foreach(s => require(
      s.nonEmpty && !s.contains('/') && !s.contains('\\') && s != ".." && s != ".",
      s"catalog $catalogName: illegal identifier segment '$s'"))
    segs.foldLeft(warehouse)(_.resolve(_))
  }

  /** Identifier → warehouse slot (before following any external-location
    * pointer).
    */
  private def dirOf(ident: Identifier): Path =
    resolveSegs(ident.namespace.toSeq :+ ident.name)

  /** External tables (CREATE TABLE … LOCATION) keep their data at the given
    * path; the warehouse slot holds a one-line pointer file so the
    * identifier remains resolvable. RENAME moves the pointer, DROP follows
    * it (managed semantics: data goes too, as ClickHouse drops data).
    */
  private def extlocPath(slot: Path): Path = slot.resolve("extloc")

  /** Identifier → the directory actually holding the table definition. */
  private def tableDir(ident: Identifier): Path =
    resolveTableDir(ident.namespace.toSeq :+ ident.name)

  /** Segment-validated slot resolve that FOLLOWS an external-location
    * pointer — shared with the SQL maintenance verbs (GraftSqlParser.
    * resolveDir), so the path-traversal check and the extloc semantics
    * cannot drift between name resolution and the maintenance path
    * (previously the verbs re-implemented the check inline and never
    * followed extloc, so OPTIMIZE, ALTER, and the meta table functions failed on every
    * external-LOCATION catalog table).
    */
  private[sources] def resolveTableDir(segs: Seq[String]): Path = {
    val slot = resolveSegs(segs)
    MetaFiles.read(extlocPath(slot)).fold(slot)(loc => Paths.get(loc.trim))
  }

  private def isTableDir(p: Path): Boolean = TableDef.load(p.toString).isDefined

  /** Sidecar for catalog-level table properties the tabledef doesn't carry
    * (today just `final`): a catalog-born table can declare collapsed-by-
    * default reads like the path face's `final 'true'` option. Lives in the
    * table directory, so RENAME moves it and DROP deletes it for free.
    */
  private def propsPath(dir: Path): Path = dir.resolve("catprops.json")
  private def finalProp(dir: Path): Boolean =
    MetaFiles.read(propsPath(dir)).exists(_.contains("\"final\":true"))

  override def tableExists(ident: Identifier): Boolean = isTableDir(tableDir(ident))

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    TableDef.load(dir.toString) match {
      case Some(d) => new GenericMergeTreeV2Table(
        dir.toString, StructType.fromDDL(d.schemaDdl), d.orderBy,
        finalRead = finalProp(dir))
      case None => throw new NoSuchTableException(ident)
    }
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    require(partitions.isEmpty,
      "mergetree: use OPTIONS (partitionBy '…'), not PARTITIONED BY — " +
        "partitioning is table metadata, parts stay mergetree-managed")
    // OPTIONS arrive with TableCatalog.OPTION_PREFIX ("option.") — strip it;
    // bare keys (provider/location/owner bookkeeping) pass through so
    // tableDefFromOptions sees one flat namespace either way.
    val opts = new CaseInsensitiveStringMap(properties.asScala.map {
      case (k, v) if k.toLowerCase.startsWith(TableCatalog.OPTION_PREFIX) =>
        k.substring(TableCatalog.OPTION_PREFIX.length) -> v
      case kv => kv
    }.asJava)
    require(schema.nonEmpty, "mergetree: CREATE TABLE needs explicit columns")
    require(opts.containsKey("orderBy"),
      "mergetree: CREATE TABLE needs OPTIONS (orderBy 'col[,col…]')")
    val defn = MergeTreeTableProvider.tableDefFromOptions(schema, opts)
    // LOCATION overrides the warehouse layout (external table): data lives
    // at the location, the warehouse slot holds a pointer file so loadTable/
    // DROP/RENAME keep resolving the identifier.
    val external = Option(properties.get(TableCatalog.PROP_LOCATION))
      .map(l => Paths.get(MergeTreeTableProvider.localPath(l)))
    val dir = external.getOrElse(dirOf(ident))
    Files.createDirectories(dir)
    // Validate the target BEFORE writing the external-location pointer: a
    // failed CREATE that left a dangling extloc would make a later DROP
    // TABLE follow it and delete a FOREIGN table's data.
    require(TableDef.load(dir.toString).isEmpty,
      s"mergetree: $dir already holds a table definition")
    external.foreach { loc =>
      MetaFiles.publish(extlocPath(dirOf(ident)), loc.toString + "\n")
    }
    TableDef.store(dir.toString, defn)
    if (opts.getBoolean("final", false))
      MetaFiles.publish(propsPath(dir), "{\"final\":true}\n")
    MergeTreeTableProvider.attachMvIfRequested(dir.toString, opts)
    MergeTreeTableProvider.attachProjectionsIfRequested(dir.toString, opts)
    new GenericMergeTreeV2Table(dir.toString, schema, defn.orderBy,
      finalRead = finalProp(dir))
  }

  /** The SQL face of rewrite-free schema evolution. Each change maps to the
    * corresponding ColumnarMergeTree API, which carries ALL the invariants
    * (protected ORDER BY/mode/TTL columns, projection lockstep, MV guards,
    * widen-only type changes) — the catalog adds no second implementation
    * that could drift.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    val spark = SparkSession.active
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"mergetree: cannot add nested column ${add.fieldNames.mkString(".")}")
        ColumnarMergeTree.open(spark, dir.toString)
          .addColumn(add.fieldNames.head, add.dataType)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"mergetree: cannot drop nested column ${del.fieldNames.mkString(".")}")
        ColumnarMergeTree.open(spark, dir.toString).dropColumn(del.fieldNames.head)
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames.length == 1,
          s"mergetree: cannot retype nested column ${upd.fieldNames.mkString(".")}")
        ColumnarMergeTree.open(spark, dir.toString)
          .widenColumn(upd.fieldNames.head, upd.newDataType)
      case other => throw new UnsupportedOperationException(
        s"mergetree: unsupported ALTER ${other.getClass.getSimpleName} " +
          "(supported: ADD COLUMN, DROP COLUMN, ALTER COLUMN … TYPE)")
    }
    loadTable(ident)
  }

  /** DROP TABLE deletes the data, like ClickHouse (these are managed
    * tables; the catalog IS the storage layout).
    */
  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTableDir(dir)) false
    else {
      MergeTreeTable.deleteRecursively(dir)
      val slot = dirOf(ident) // external table: also remove the pointer slot
      if (slot != dir && Files.exists(slot)) MergeTreeTable.deleteRecursively(slot)
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    // Move the warehouse SLOT: for a managed table that is the data, for an
    // external one just the pointer — either way the data location holding
    // parts is undisturbed mid-rename.
    val from = dirOf(oldIdent)
    val to = dirOf(newIdent)
    Files.createDirectories(to.getParent)
    Files.move(from, to)
  }

  /** A directory is a catalog entry if it holds a tabledef (managed) or an
    * external-location pointer.
    */
  private def isTableSlot(p: Path): Boolean =
    isTableDir(p) || Files.exists(extlocPath(p))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = resolveSegs(namespace.toSeq)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) && isTableSlot(p))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  // ---------------------------------------------------------- functions
  // FunctionCatalog is what lets Spark resolve the `bucket(N, col)`
  // partition transform a scan reports in its KeyGroupedPartitioning
  // (V2ScanPartitioningAndOrdering looks up the literal name "bucket" on
  // the RELATION'S catalog) — without it, bucket-partitioned tables could
  // never storage-partition-join. The catalog is stateless here: one
  // built-in function, no filesystem entries.

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)

  override def loadFunction(
      ident: Identifier): org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name.equalsIgnoreCase("bucket"))
      GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def functionExists(ident: Identifier): Boolean =
    ident.namespace.isEmpty && ident.name.equalsIgnoreCase("bucket")

  // ------------------------------------------------- namespaces = directories

  override def listNamespaces(): Array[Array[String]] = {
    val s = Files.list(warehouse)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTableSlot(p))
      .map(p => Array(p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = resolveSegs(namespace.toSeq)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTableSlot(p))
      .map(p => namespace :+ p.getFileName.toString)
      .toArray
    finally s.close()
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || Files.isDirectory(resolveSegs(namespace.toSeq))

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    Files.createDirectories(resolveSegs(namespace.toSeq))
  }

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "mergetree: namespaces carry no mutable metadata")

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean = {
    require(namespace.nonEmpty,
      s"catalog $catalogName: refusing to drop the warehouse root")
    val dir = resolveSegs(namespace.toSeq)
    if (!Files.isDirectory(dir)) false
    else {
      if (!cascade) {
        val s = Files.list(dir)
        val empty = try !s.iterator().hasNext finally s.close()
        require(empty, s"namespace ${namespace.mkString(".")} is not empty")
      }
      MergeTreeTable.deleteRecursively(dir)
      true
    }
  }
}
