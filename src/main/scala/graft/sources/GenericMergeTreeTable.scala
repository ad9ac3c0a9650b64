package graft.sources

import graft.mergetree.{ColumnarMergeTree, KeyOrder, MergeTreeConfig}
import graft.mergetree.ColumnarMergeTree.{GManifest, GPartMeta}

import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

/** The SQL face of the schema-generic table (SURVEY §1.4's "ClickHouse's
  * real model"): `CREATE TABLE t USING mergetree OPTIONS (path ...)` over a
  * directory created by ColumnarMergeTree — schema, ORDER BY, and merge
  * mode come from the persisted tabledef.json, so the first thing a real
  * user does (address their own table from SQL) works.
  *
  * Reads are vectorized (ParquetColumnarReader) with both pruning layers:
  * driver-side part pruning from gmanifest leading-key bounds (O8) and
  * parquet row-group skip via a pushed FilterPredicate (O7). A scan whose
  * pruned parts fit `MergeTreeConfig.fitsLocalRead` plans ONE split that reports
  * `SinglePartition` (see [[SingleSplitScan]]): no exchange above it, and
  * no Spark job for a small read. A larger scan packs the surviving part files,
  * in manifest order, into splits of Spark's own file-split size
  * (MergeTreePartition.pack), so it launches as many tasks as
  * `spark.read.parquet` would. Reads are RAW
  * part rows — Replacing/Summing collapse is a read-time VIEW concern, like
  * ClickHouse SELECT without FINAL; `ColumnarMergeTree.scan()` is the
  * FINAL-applying API.
  *
  * Writes go through the DSv2→V1 InsertableRelation shim: the driver hands
  * the whole DataFrame to `ColumnarMergeTree.insertBatch`, which
  * range-partitions + sorts on the ORDER BY keys and lands one part under
  * the same manifest lock as every other writer — SQL `INSERT INTO` and the
  * Scala API are literally the same write path.
  */
class GenericMergeTreeV2Table(
    val path: String,
    tableSchema: StructType,
    orderBy: Seq[String],
    /** `final 'true'` table/read option: MergeTreeFinalRule (registered via
      * GraftExtensions) rewrites any relation over a finalRead table into the
      * merge-mode-collapsed plan — ClickHouse `SELECT … FROM t FINAL` for the
      * SQL face. Raw-parts reads (the default) stay the merge-on-read-less
      * view, like ClickHouse without FINAL.
      */
    val finalRead: Boolean = false,
    /** `snapshot 'N'` read option: time travel — scans plan against the
      * manifest committed at snapshot N (SQL face of
      * ColumnarMergeTree.scanAt). Readable as long as that snapshot's
      * retired parts survive the GC grace window; a purged snapshot fails
      * loudly at planning, never partially. Snapshot-pinned tables are
      * read-only (writes/deletes are rejected).
      */
    val snapshotSeq: Option[Long] = None,
    /** `sample 'num/den'` read option: ClickHouse `SELECT … SAMPLE n/d` for
      * the SQL face — MergeTreeFinalRule rewrites the relation to keep only
      * rows whose ORDER-BY-key hash falls in the first num/den of the hash
      * space (shared predicate with ColumnarMergeTree.sampleScan; applied
      * after the FINAL collapse when both options are set, deterministic
      * and sample-composable like ClickHouse's sampling-key contract).
      */
    val sampleFrac: Option[(Long, Long)] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  /** Partition column when PARTITION BY is a bare column of the schema (the
    * only shape value-equality pruning and partition-drop DELETEs act on;
    * expression partitioning still prunes through the Scala scanPartitions
    * API).
    */
  private val partitionCol: Option[String] =
    ColumnarMergeTree.TableDef.load(path)
      .flatMap(_.partitionBy).filter(tableSchema.fieldNames.contains)

  /** PARTITION BY bucket(N, col): parts carry the BUCKET id, not the value,
    * so this deliberately does NOT feed [[partitionCol]] (an equality on
    * the column must never be mistaken for an equality on the stored tag —
    * a DELETE WHERE col = v routed to dropPartition would drop the value's
    * whole bucket). The scan builder prunes equalities by HASHING them to
    * their bucket instead, and reports the transform for SPJ.
    */
  private val bucketSpec: Option[(Int, String)] =
    ColumnarMergeTree.TableDef.load(path)
      .flatMap(_.partitionBy).flatMap(ColumnarMergeTree.bucketPartition)
      .filter { case (_, c) => tableSchema.fieldNames.contains(c) }

  override def name(): String = s"mergetree:$path"
  override def schema(): StructType = tableSchema

  /** Surface the engine-defining metadata to `DESCRIBE TABLE EXTENDED` /
    * `SHOW TBLPROPERTIES` — a ClickHouse user's first questions about a
    * table are its ORDER BY, engine mode, partitioning, and TTL.
    */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    ColumnarMergeTree.TableDef.load(path).foreach { d =>
      m.put("orderBy", d.orderBy.mkString(","))
      m.put("mode", ColumnarMergeTree.TableDef.decodeMode(d.mode).toString)
      d.partitionBy.foreach(m.put("partitionBy", _))
      d.ttl.foreach(m.put("ttl", _))
      d.bloomFilterColumns.foreach(c => m.put("bloomFilterColumns", c.mkString(",")))
      d.minmaxColumns.foreach(c => m.put("minmaxColumns", c.mkString(",")))
      d.tokenBloomColumns.foreach(c => m.put("tokenBloomColumns", c.mkString(",")))
      d.ngramBloomColumns.foreach(c => m.put("ngramBloomColumns", c.mkString(",")))
      d.hllColumns.foreach(c => m.put("hllColumns", c.mkString(",")))
      d.topKColumns.foreach(c => m.put("topKColumns", c.mkString(",")))
      d.quantileColumns.foreach(c => m.put("quantileColumns", c.mkString(",")))
      d.setIndexColumns.foreach(c => m.put("setIndexColumns", c.mkString(",")))
      d.gcGraceSeconds.foreach(g => m.put("gcGraceSeconds", g.toString))
    }
    m
  }
  // BATCH_WRITE: `DataFrameWriter.save` on a path takes the DSv2 write
  // only for tables declaring it; V1_BATCH_WRITE then plans the V1Write.
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  /** SQL `DELETE FROM t WHERE …` — the standard-SQL face of
    * ColumnarMergeTree.deleteWhere (ClickHouse's ALTER TABLE … DELETE):
    * matching parts are rewritten without the matching rows, concurrently,
    * and swapped atomically; NULL-predicate rows are kept (SQL WHERE
    * semantics). `canDeleteWhere` rejects filters this translation does not
    * cover, so Spark fails the statement loudly instead of deleting the
    * wrong rows.
    */
  private def filterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r) => for { a <- filterToColumn(l); b <- filterToColumn(r) } yield a && b
    case Or(l, r)  => for { a <- filterToColumn(l); b <- filterToColumn(r) } yield a || b
    case Not(c)    => filterToColumn(c).map(!_)
    case AlwaysTrue()  => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(filterToColumn(_).isDefined)

  /** Partition values named by a pure partition-equality DELETE (every
    * filter an EqualTo/In on the partition column), in the manifest's
    * canonical string form — or None when any filter touches anything else.
    */
  private def partitionEqualityValues(filters: Array[Filter]): Option[Seq[String]] = {
    val pc = partitionCol.getOrElse(return None)
    def canon(v: Any): Option[String] = GenericMergeTreeScan.canonPartitionValue(v)
    val perFilter = filters.toSeq.map {
      case EqualTo(`pc`, v) => canon(v).map(Seq(_))
      // EVERY value must canonicalize or the route falls back to the
      // rewrite path — flatMap would silently drop unconvertible values
      // (date/decimal partitions) and "delete" an empty partition set.
      case In(`pc`, vs) =>
        val cs = vs.toSeq.map(canon(_))
        if (cs.forall(_.isDefined)) Some(cs.flatten) else None
      case _                => None
    }
    if (perFilter.isEmpty || perFilter.exists(_.isEmpty)) None
    // Conjunct equalities intersect (two different values = empty = no-op).
    else Some(perFilter.flatten.map(_.toSet).reduce(_ intersect _).toSeq)
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(snapshotSeq.isEmpty, "a snapshot-pinned mergetree table is read-only")
    val t = ColumnarMergeTree.open(SparkSession.active, path)
    // The dropPartition fast path requires every live part to carry a
    // partition tag: parts from pre-tag manifests (partition = None) stay
    // VISIBLE to reads but invisible to a tag-filtered drop — their
    // matching rows would silently survive. Untagged parts ⇒ rewrite path.
    val allTagged = t.parts.forall(_.partition.isDefined)
    partitionEqualityValues(filters).filter(_ => allTagged) match {
      case Some(values) =>
        // ClickHouse ALTER TABLE … DROP PARTITION: O(manifest) unlink, no
        // part is read or rewritten — the decontamination op a pipeline
        // actually runs ("drop yesterday's crawl") must not cost O(data).
        values.foreach(t.dropPartition)
      case None =>
        val cond = filters.flatMap(filterToColumn(_))
          .reduceOption(_ && _).getOrElse(lit(true))
        // `SET spark.graft.lightweightDelete=true` routes DELETE FROM to
        // the O(manifest) lightweight path (ClickHouse `DELETE FROM` vs
        // ALTER … DELETE): rows hide immediately, parts rewrite later in
        // merges. Default stays the physical rewrite.
        val lightweight = try {
          SparkSession.active.conf
            .get("spark.graft.lightweightDelete", "false").toBoolean
        } catch { case scala.util.control.NonFatal(_) => false }
        if (lightweight) t.deleteLightweight(cond)
        else t.deleteWhere(cond)
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // Per-read `snapshot` option: catalog-name reads time-travel via
    // `spark.read.option("snapshot", n).table(...)` — the path face bakes
    // the pin into the table instance instead (orElse: never both).
    new GenericScanBuilder(path, tableSchema, orderBy, partitionCol,
      snapshotSeq.orElse(Option(options.get("snapshot")).map(_.toLong)),
      bucketSpec)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(snapshotSeq.isEmpty, "a snapshot-pinned mergetree table is read-only")
    require(info.schema().fieldNames.toSeq == tableSchema.fieldNames.toSeq,
      s"mergetree write requires columns ${tableSchema.fieldNames.mkString(",")}, " +
        s"got ${info.schema().fieldNames.mkString(",")}")
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: DataFrame, overwrite: Boolean) => {
            val t = ColumnarMergeTree.open(data.sparkSession, path)
            // INSERT INTO appends (and fires MVs); INSERT OVERWRITE
            // atomically replaces — the whole table, or, on a
            // mergetree-partitioned table, only the partitions present in
            // the batch (dynamic partition overwrite, the SQL backfill op;
            // the connector's partitioning lives in tabledef.json, not in
            // Spark's catalog, so the dynamic scoping happens table-side).
            if (replace || overwrite) t.overwriteBatch(data)
            else t.insertBatch(data)
          }
      }
    }
  }
}

/** Test/diagnostic hook: (planned, total) parts at the last generic scan. */
object GenericMergeTreeScan {
  /** Canonical manifest string form of a pushed partition-filter value —
    * the ONE canonicalizer shared by scan pruning and DELETE-by-partition
    * (they must agree on which values match the stored form, or a pruned
    * scan and a partition-drop would disagree about the same predicate).
    */
  private[sources] def canonPartitionValue(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
              _: java.lang.Byte) => Some(n.asInstanceOf[Number].longValue().toString)
    case b: java.lang.Boolean => Some(b.toString)
    case _ => None
  }
  val lastPruning: AtomicReference[(Int, Int)] = new AtomicReference((0, 0))
}

class GenericScanBuilder(path: String, tableSchema: StructType, orderBy: Seq[String],
                         partitionCol: Option[String] = None,
                         snapshotSeq: Option[Long] = None,
                         bucketSpec: Option[(Int, String)] = None)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val leadKey = orderBy.head
  private val leadType = tableSchema(leadKey).dataType

  /** Alternate-sort-order routes: projection leading column → projection
    * table path (identical rows, different physical order). A range
    * predicate on a routed column serves the scan from the projection's
    * parts, where manifest min/max pruning applies — primary-key pruning
    * economics for non-primary columns, through plain SQL. Disabled under
    * a snapshot pin (the pin names the BASE table's manifest; a
    * projection's parts are not covered by it).
    */
  private val projRoutes: Map[String, String] =
    if (snapshotSeq.isDefined) Map.empty
    else ColumnarMergeTree.MvRegistry.load(path)
      .filter(_.name.startsWith(ColumnarMergeTree.ProjPrefix))
      .flatMap(d => ColumnarMergeTree.TableDef.load(d.targetPath)
        .flatMap(_.orderBy.headOption)
        .filter(c => c != leadKey && tableSchema.fieldNames.contains(c))
        .map(_ -> d.targetPath))
      .toMap

  /** Minmax skip-index columns declared in the tabledef: range predicates
    * on them prune parts via per-part manifest bounds (no routing — the
    * bounds live on the base table's own parts). The leading key is
    * excluded (its pruning path is the primary min/max).
    */
  private val minmaxCols: Set[String] =
    ColumnarMergeTree.TableDef.load(path)
      .flatMap(_.minmaxColumns).getOrElse(Nil)
      .filter(c => c != leadKey && tableSchema.fieldNames.contains(c)).toSet

  /** set(N) skip-index columns declared in the tabledef: equality/IN
    * predicates on them prune parts via the per-part `_set_` sidecars —
    * the pruning minmax bounds can't give a low-cardinality column whose
    * values interleave across every part's range. Leading key excluded
    * (its equality prunes via the primary min/max path).
    */
  private val setIdxCols: Set[String] =
    ColumnarMergeTree.TableDef.load(path)
      .flatMap(_.setIndexColumns).getOrElse(Nil)
      .filter(c => c != leadKey && tableSchema.fieldNames.contains(c) &&
        ColumnarMergeTree.setIndexEligible(tableSchema(c).dataType)).toSet

  /** Columns whose range predicates can prune parts somewhere: the primary
    * leading key (on the base), a projection's leading key (routed), or a
    * minmax skip-index column (per-part bounds).
    */
  private def isRangeCol(c: String): Boolean =
    c == leadKey || projRoutes.contains(c) || minmaxCols(c)

  private var required: StructType = tableSchema
  private val los = scala.collection.mutable.Map.empty[String, Any]
  private val his = scala.collection.mutable.Map.empty[String, Any]
  private def lo: Option[Any] = los.get(leadKey)
  private def hi: Option[Any] = his.get(leadKey)
  private var pushed: Array[Filter] = Array.empty
  /** Partition values a partition-column equality narrows the scan to (None
    * = unconstrained). Conjuncts intersect; partition pruning is exact on
    * the stored string form, so EqualTo/In translate completely — but every
    * filter is still re-applied by Spark (pruning is part-level).
    */
  private var wantedPartitions: Option[Set[String]] = None

  private def canonPartition(v: Any): Option[String] =
    GenericMergeTreeScan.canonPartitionValue(v)

  /** The bucket a pushed equality value lands in, when `a` is the bucket
    * partition column — the same pmod(xxhash64, n) the write side stamped.
    */
  private def bucketOf(a: String, v: Any): Option[Int] = bucketSpec match {
    case Some((n, c)) if c == a && v != null =>
      GraftBucketFunction.bucketIdOfValue(n, tableSchema(a).dataType, v)
    case _ => None
  }

  private def narrowPartitions(values: Set[String]): Unit =
    wantedPartitions = Some(wantedPartitions.fold(values)(_ intersect values))

  private def narrowLo(c: String, v: Any): Unit =
    los(c) = los.get(c).fold(v)(cur => if (cmp(c, v, cur) > 0) v else cur)
  private def narrowHi(c: String, v: Any): Unit =
    his(c) = his.get(c).fold(v)(cur => if (cmp(c, v, cur) < 0) v else cur)

  /** Canonical probe values per set(N)-indexed column; conjuncts intersect
    * (x = 'a' AND x IN ('a','b') probes {'a'}).
    */
  private val setEquals = scala.collection.mutable.Map.empty[String, Set[String]]
  private def setUsable(c: String, v: Any): Boolean = setIdxCols(c) && v != null
  private def narrowSet(c: String, vs: Set[String]): Unit =
    setEquals(c) = setEquals.get(c).fold(vs)(_ intersect vs)
  private def cmp(c: String, a: Any, b: Any): Int = tableSchema(c).dataType match {
    case StringType => KeyOrder.cmp(a.toString, b.toString)
    case DoubleType | FloatType =>
      java.lang.Double.compare(a.asInstanceOf[Number].doubleValue(),
        b.asInstanceOf[Number].doubleValue())
    case _ => java.lang.Long.compare(a.asInstanceOf[Number].longValue(),
      b.asInstanceOf[Number].longValue())
  }

  private def usable(c: String, v: Any): Boolean = tableSchema(c).dataType match {
    case StringType => v.isInstanceOf[String]
    case LongType | IntegerType | ShortType | ByteType => v.isInstanceOf[Number]
    // float range bounds only feed minmax part pruning (never the typed
    // parquet row-group predicate, which stays key-only)
    case DoubleType | FloatType if minmaxCols(c) => v.isInstanceOf[Number]
    case _ => false
  }

  /** Conservative range extraction on the leading ORDER BY key and on any
    * projection leading key (routable); > / < keep the inclusive bound
    * (block-level pruning only — Spark re-applies every filter post-scan).
    * Equality/IN on the partition column additionally narrows the scanned
    * partition set — at 100 TB the partition predicate is the first and
    * cheapest pruning layer (one day out of a thousand).
    */
  private def collect(f: Filter): Boolean = f match {
    case EqualTo(a, v) if partitionCol.contains(a) && canonPartition(v).isDefined =>
      narrowPartitions(Set(canonPartition(v).get))
      if (a == leadKey && usable(a, v)) { narrowLo(a, v); narrowHi(a, v) }
      true
    case In(a, vs) if partitionCol.contains(a) &&
        vs.nonEmpty && vs.forall(canonPartition(_).isDefined) =>
      narrowPartitions(vs.map(canonPartition(_).get).toSet); true
    // bucket(N, col) partitioning: an equality on the column prunes to the
    // value's bucket (all rows holding v live in exactly one bucket part
    // set; EqualTo never matches NULL rows, so the NULL partition is
    // safely skipped). The DELETE dropPartition fast path deliberately
    // does NOT get this — dropping v's bucket would drop its neighbors.
    case EqualTo(a, v) if bucketOf(a, v).isDefined =>
      narrowPartitions(Set(bucketOf(a, v).get.toString))
      if (a == leadKey && usable(a, v)) { narrowLo(a, v); narrowHi(a, v) }
      true
    case In(a, vs) if bucketSpec.exists(_._2 == a) && vs.nonEmpty &&
        vs.forall(bucketOf(a, _).isDefined) =>
      narrowPartitions(vs.map(bucketOf(a, _).get.toString).toSet); true
    case EqualTo(a, v) if (isRangeCol(a) && usable(a, v)) || setUsable(a, v) =>
      if (isRangeCol(a) && usable(a, v)) { narrowLo(a, v); narrowHi(a, v) }
      if (setUsable(a, v)) narrowSet(a, Set(ColumnarMergeTree.setIndexCanon(v)))
      true
    case In(a, vs) if vs.nonEmpty && vs.forall(setUsable(a, _)) =>
      narrowSet(a, vs.map(ColumnarMergeTree.setIndexCanon).toSet); true
    case GreaterThanOrEqual(a, v) if isRangeCol(a) && usable(a, v) => narrowLo(a, v); true
    case GreaterThan(a, v) if isRangeCol(a) && usable(a, v)        => narrowLo(a, v); true
    case LessThanOrEqual(a, v) if isRangeCol(a) && usable(a, v)    => narrowHi(a, v); true
    case LessThan(a, v) if isRangeCol(a) && usable(a, v)           => narrowHi(a, v); true
    case And(a, b) =>
      val ca = collect(a); val cb = collect(b); ca || cb
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(collect)
    filters // block-level pruning only: Spark re-evaluates every filter
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    // Prefer the base when its own key is constrained (or nothing is);
    // otherwise route to a projection whose leading key carries bounds —
    // identical rows, but the manifest min/max pruning actually bites.
    val route: Option[(String, String)] =
      if (lo.isDefined || hi.isDefined) None
      else projRoutes.toSeq.sortBy(_._1)
        .find { case (c, _) => los.contains(c) || his.contains(c) }
    // Minmax bounds prune the BASE table's parts (their manifest carries
    // the colStats); a projection-routed scan reads the projection's parts
    // instead, so the bounds are dropped there (its parts carry none —
    // colAllowsRange would keep everything anyway).
    val mmBounds: Map[String, (Option[Any], Option[Any])] =
      minmaxCols.iterator
        .filter(c => los.contains(c) || his.contains(c))
        .map(c => c -> (los.get(c), his.get(c))).toMap
    // Storage-partitioned-join eligibility: a bare-column PARTITION BY of
    // a type whose canonical string form round-trips exactly (the same
    // family the set index trusts), or a bucket(N, col) transform over an
    // eligible column. The projection-routed branch reads a DIFFERENT
    // table whose parts carry no partition tags — never SPJ.
    val spjSpec: Option[SpjSpec] =
      partitionCol.map(c => (c, tableSchema(c).dataType))
        .filter { case (_, dt) => ColumnarMergeTree.setIndexEligible(dt) }
        .map { case (c, dt) => IdentitySpj(c, dt): SpjSpec }
        .orElse(bucketSpec.collect {
          case (n, c) if GraftBucketFunction.eligible(tableSchema(c).dataType) =>
            BucketSpj(n, c): SpjSpec
        })
    // Runtime-filterable columns (SPARK-35779 dynamic filtering), most
    // selective prune wins when a column is eligible several ways:
    // partition tag > bucket hash > leading-key range > set sidecar >
    // minmax bounds. The set sidecar outranks minmax for these because a
    // runtime filter is always an equality set — exactly what the sidecar
    // answers — while interleaved low-cardinality values defeat bounds.
    val rtCols: Map[String, (RtKind, org.apache.spark.sql.types.DataType)] = {
      val m = scala.collection.mutable.Map.empty[String, RtKind]
      minmaxCols.foreach(c => m(c) = RtMinMax)
      setIdxCols.foreach(c => m(c) = RtSet)
      m(leadKey) = RtLeadKey
      bucketSpec.foreach { case (n, c) =>
        if (GraftBucketFunction.eligible(tableSchema(c).dataType)) m(c) = RtBucket(n)
      }
      partitionCol.foreach(c => m(c) = RtPartition)
      m.map { case (c, k) => c -> (k, tableSchema(c).dataType) }.toMap
    }
    route match {
      case Some((c, projPath)) =>
        // Projection-routed scans read a DIFFERENT table whose manifest
        // bounds cover only the routed column — runtime filters on it
        // prune as the projection's leading key; nothing else is known.
        // (Projection targets are never mut-tagged: lightweight mutations
        // refuse tables with projections.)
        new GenericMergeTreeScanImpl(projPath, required, tableSchema,
          c, tableSchema(c).dataType,
          los.get(c), his.get(c), wantedPartitions, snapshotSeq,
          rtCols = Map(c -> (RtLeadKey, tableSchema(c).dataType)))
      case None =>
        new GenericMergeTreeScanImpl(path, required, tableSchema,
          leadKey, leadType, lo, hi,
          wantedPartitions, snapshotSeq, mmBounds, setEquals.toMap, spjSpec,
          rtCols)
    }
  }
}

/** How a runtime (join-driven) filter on a column prunes parts — the
  * dynamic-partition-pruning face of the scan (SPARK-35779): Spark hands
  * the build side's join-key values to [[SupportsRuntimeFiltering.filter]]
  * as an `In`, and the scan drops every part that provably holds none of
  * them, BEFORE any task launches. At 100 TB this is the pruning layer a
  * star join lives on: the dim predicate names 5 of 1000 partitions and
  * the fact scan never lists the other 995.
  */
private[sources] sealed trait RtKind
/** Values are partition tags: exact narrowing on the stored string form. */
private[sources] case object RtPartition extends RtKind
/** bucket(N, col) partitioning: values hash to their bucket ids. */
private[sources] final case class RtBucket(n: Int) extends RtKind
/** The leading ORDER BY key: manifest min/max interval probes. */
private[sources] case object RtLeadKey extends RtKind
/** A minmax skip-index column: per-part colStats bounds probes. */
private[sources] case object RtMinMax extends RtKind
/** A set(N) skip-index column: per-part distinct-value sidecar probes. */
private[sources] case object RtSet extends RtKind

/** How a scan reports its storage layout for Spark's storage-partitioned
  * join: PARTITION BY a bare column (keys are the column values) or the
  * bucket(N, col) transform (keys are the int bucket ids — the function
  * identity lives in [[GraftBucketFunction]], resolved through
  * [[GraftCatalog]]).
  */
private[sources] sealed trait SpjSpec
private[sources] final case class IdentitySpj(
    col: String, dt: org.apache.spark.sql.types.DataType) extends SpjSpec
private[sources] final case class BucketSpj(n: Int, col: String) extends SpjSpec

class GenericMergeTreeScanImpl(
    path: String,
    required: StructType,
    tableSchema: StructType,
    leadKey: String,
    leadType: org.apache.spark.sql.types.DataType,
    lo: Option[Any],
    hi: Option[Any],
    wantedPartitions: Option[Set[String]] = None,
    snapshotSeq: Option[Long] = None,
    colBounds: Map[String, (Option[Any], Option[Any])] = Map.empty,
    setEquals: Map[String, Set[String]] = Map.empty,
    spjSpec: Option[SpjSpec] = None,
    rtCols: Map[String, (RtKind, org.apache.spark.sql.types.DataType)] = Map.empty)
    extends SingleSplitScan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsRuntimeFiltering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // ------------------------------------------------- runtime (join) filters

  /** Columns Spark may runtime-filter (DPP, SPARK-35779), restricted to
    * the scan's OUTPUT columns (Spark resolves each reported reference
    * against the scan relation — a column pruning dropped must not be
    * advertised; the join key that makes a filter possible is always in
    * the output anyway). Advertised under SPJ grouping too: runtime
    * filters then prune parts WITHIN key groups — every group keeps its
    * key and reports its (possibly empty) file set, which satisfies
    * BatchScanExec's key-grouped contract (the filtered partition values
    * must be a subset of the originals; Spark back-fills empties), so the
    * 100 TB star join gets the shuffle-free plan AND dim-driven part
    * pruning at once instead of choosing.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (rtCols.isEmpty) Array.empty
    else rtCols.keys.toArray.filter(required.fieldNames.contains).sorted
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  /** Runtime In-value sets per column (conjuncts intersect). A column is
    * only present when EVERY non-null pushed value was usable — narrowing
    * on a partial set would prune parts that hold the values we failed to
    * understand. NULLs are dropped before that check: a null never matches
    * the equi-join the filter came from, so "only null" correctly narrows
    * to the empty set (the join is empty).
    */
  @volatile private var rtValues: Map[String, Set[Any]] = Map.empty

  /** Largest runtime-filter value set a column prunes with; beyond it the
    * column's filter is ignored (scan everything — the filter is an
    * optimization, the join still does the row-level work). Caps the
    * driver-side per-part probing at |parts| × cap string compares.
    */
  private def rtMaxValues: Int = try {
    SparkSession.active.conf.get("spark.graft.runtimeFilter.maxValues", "4096").toInt
  } catch { case scala.util.control.NonFatal(_) => 4096 }

  override def filter(filters: Array[Filter]): Unit = {
    val updates = filters.flatMap {
      case In(a, vs) if rtCols.contains(a)     => Some(a -> vs.toSet.filter(_ != null))
      case EqualTo(a, v) if rtCols.contains(a) && v != null => Some(a -> Set[Any](v))
      case _ => None // unrecognized runtime filter: no pruning, never wrong
    }
    updates.foreach { case (c, vs) =>
      if (vs.size <= rtMaxValues && rtUsable(c, vs))
        rtValues = rtValues.updated(c, rtValues.get(c).fold(vs)(_ intersect vs))
    }
  }

  /** Every value must be narrowable for its column's prune kind. */
  private def rtUsable(c: String, vs: Set[Any]): Boolean = {
    val (kind, dt) = rtCols(c)
    kind match {
      case RtPartition => vs.forall(GenericMergeTreeScan.canonPartitionValue(_).isDefined)
      case RtBucket(n) => vs.forall(GraftBucketFunction.bucketIdOfValue(n, dt, _).isDefined)
      // overlaps/colAllowsRange/setIndexAllows keep the part on any value
      // they can't compare — per-value usability is built in.
      case RtLeadKey | RtMinMax | RtSet => true
    }
  }

  /** Parts that can hold at least one runtime value of every filtered
    * column. Partition/bucket narrowing is exact on the tag; the interval
    * and sidecar kinds probe per (part, value) — bounded by rtMaxValues.
    */
  private def rtSurviving(parts: List[GPartMeta]): List[GPartMeta] =
    rtValues.foldLeft(parts) { case (keep, (c, vs)) =>
      val (kind, dt) = rtCols(c)
      kind match {
        case RtPartition =>
          val wanted = vs.map(GenericMergeTreeScan.canonPartitionValue(_).get)
          keep.filter(_.partition.forall(wanted)) // untagged parts stay
        case RtBucket(n) =>
          val wanted = vs.map(v =>
            GraftBucketFunction.bucketIdOfValue(n, dt, v).get.toString)
          keep.filter(_.partition.forall(wanted))
        case RtLeadKey => keep.filter(p => vs.exists(v => p.overlaps(v, v)))
        case RtMinMax =>
          keep.filter(p => vs.exists(v => p.colAllowsRange(c, Some(v), Some(v))))
        case RtSet =>
          val canon = vs.map(ColumnarMergeTree.setIndexCanon)
          keep.filter(p => ColumnarMergeTree.setIndexAllows(path, p.dir, c, canon))
      }
    }

  /** The manifest this scan plans against: live, or — under the `snapshot`
    * read option — the one committed at that snapshot, validated eagerly
    * (every listed part directory must still exist) so a GC-purged snapshot
    * fails the whole query, never silently drops rows.
    */
  // lazy val: a Scan instance is per-query, and estimateStatistics +
  // planInputPartitions each need the part list — one manifest load (and
  // one snapshot-validation sweep) per query, not one per call.
  private lazy val manifestParts: List[GPartMeta] = snapshotSeq match {
    case None => GManifest.load(path).map(_.parts).getOrElse(Nil)
    case Some(seq) =>
      val m = ColumnarMergeTree.SnapshotLog.load(path, seq).getOrElse(
        throw new IllegalArgumentException(s"no snapshot $seq at $path " +
          s"(available: ${ColumnarMergeTree.SnapshotLog.list(path).mkString(",")})"))
      val missing = m.parts.filterNot(p =>
        Files.isDirectory(Paths.get(path, p.dir)))
      require(missing.isEmpty,
        s"snapshot $seq is no longer readable: parts " +
          s"${missing.map(_.partId).mkString(",")} were purged (GC grace passed)")
      m.parts
  }

  private def surviving: List[GPartMeta] =
    // Runtime (join-driven) filters last — empty until Spark's dynamic
    // pruning calls filter(), so planning-time callers (statistics) see
    // the static pruning only.
    if (rtValues.isEmpty) staticParts else rtSurviving(staticParts)

  /** Static (planning-time) pruning only — the basis for SPJ group
    * identity, which must not depend on WHEN a runtime filter arrived
    * (groups formed after filter() would drop whole key groups; the
    * key-grouped contract prunes within groups instead). Computed once per
    * scan, like manifestParts: statistics, the split decision, the SPJ
    * groups and the splits all start from it.
    */
  private lazy val staticParts: List[GPartMeta] = {
    // Partition pruning first (exact on the stored value; untagged parts are
    // conservatively kept), then leading-key range pruning.
    val inPartition = wantedPartitions match {
      case None         => manifestParts
      case Some(wanted) => manifestParts.filter(_.partition.forall(wanted))
    }
    val inKeyRange = (lo, hi) match {
      case (None, None) => inPartition
      case _ => inPartition.filter(p =>
        p.overlaps(lo.getOrElse(p.minKey), hi.getOrElse(p.maxKey)))
    }
    // Minmax skip-index pruning: per-part bounds on pushed non-key range
    // predicates; parts without bounds for a column are kept. Every prune
    // layer stays sound under pending lightweight mutations: DELETEs only
    // remove rows, and updateLightweight REFUSES to patch any column that
    // feeds pruning (ORDER BY, PARTITION BY refs, every skip-index column)
    // precisely so stored per-part statistics never go stale against a tag.
    val inBounds =
      if (colBounds.isEmpty) inKeyRange
      else inKeyRange.filter(p => colBounds.forall { case (c, (l, h)) =>
        p.colAllowsRange(c, l, h)
      })
    // set(N) skip-index pruning: per-part distinct-value sidecars on
    // pushed equality/IN predicates; sidecar-less/saturated parts are kept.
    val inSets =
      if (setEquals.isEmpty) inBounds
      else inBounds.filter(p => setEquals.forall { case (c, vs) =>
        ColumnarMergeTree.setIndexAllows(path, p.dir, c, vs)
      })
    inSets
  }

  override def estimateStatistics(): Statistics = {
    val parts = surviving
    val bytes = parts.map(_.diskSize).sum
    val rows = parts.map(_.rowCount).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }

  override def description(): String = {
    val range = (lo, hi) match {
      case (None, None) => "full"
      case _            => s"[${lo.getOrElse("-inf")}, ${hi.getOrElse("+inf")}]"
    }
    val snap = snapshotSeq.fold("")(s => s" snapshot=$s")
    val mm = if (colBounds.isEmpty) ""
      else colBounds.toSeq.sortBy(_._1).map { case (c, (l, h)) =>
        s"$c=[${l.getOrElse("-inf")}, ${h.getOrElse("+inf")}]"
      }.mkString(" minmax=", ",", "")
    s"mergetree-generic $path$snap $leadKey=$range$mm cols=${required.fieldNames.mkString(",")}" +
      MergeTreePartition.splitsNote(singleSplit)
  }

  /** See [[SingleSplitScan]]: taken from the STATIC pruning, like the SPJ
    * groups, so a runtime filter arriving later narrows the one split's
    * files but never changes the layout the plan was built on.
    */
  override lazy val singleSplit: Boolean =
    spjGroups.isEmpty && staticParts.forall(_.muts.isEmpty) &&
      MergeTreeConfig().fitsLocalRead(SparkSession.active,
        staticParts.map(_.rowCount).sum, staticParts.map(_.diskSize).sum)

  /** Storage-partitioned-join groups: one (typed key, parts) bucket per
    * live partition value — computed ONCE (outputPartitioning and
    * planInputPartitions must describe the same layout) and only when BOTH
    * gates are on: Spark's `spark.sql.sources.v2.bucketing.enabled` (its
    * own SPJ switch — default TRUE on Spark 4) AND the source-side opt-in
    * `spark.graft.preserveDataGrouping` (default FALSE — the Iceberg
    * `preserve-data-grouping` pattern). The source gate exists because
    * grouped splits trade scan parallelism (one task per partition VALUE)
    * for shuffle-free joins: right when you're joining co-partitioned
    * tables, wrong as a default for every probe of a bucket-partitioned
    * index. Untagged parts (pre-partitioning legacy) disable SPJ for the
    * scan — every row must belong to exactly one reported group or the
    * join silently drops matches.
    */
  private lazy val spjGroups: Option[Seq[(InternalRow, List[GPartMeta])]] =
    spjSpec.flatMap { spec =>
      val enabled = try {
        val s = SparkSession.active
        s.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.V2_BUCKETING_ENABLED) &&
          s.conf.get("spark.graft.preserveDataGrouping", "false").toBoolean
      } catch { case scala.util.control.NonFatal(_) => false }
      if (!enabled) None
      else {
        // STATIC pruning only: group identity must not depend on when a
        // runtime filter arrived — runtime values prune within the groups
        // at planInputPartitions time.
        val keep = staticParts
        // Pending lightweight mutations disable SPJ grouping for the scan:
        // the mut program runs row-based per part and correctness must
        // never wait on a marker/rule — the join shuffles until the next
        // merge materializes the tags (mutations are transient by design).
        if (keep.isEmpty || keep.exists(_.partition.isEmpty) ||
            keep.exists(_.muts.nonEmpty)) None
        else Some(keep.groupBy(_.partition.get).toSeq.sortBy(_._1)
          .map { case (v, ps) => (typedPartitionKey(v, spec), ps) })
      }
    }

  private def typedPartitionKey(v: String, spec: SpjSpec): InternalRow = {
    import org.apache.spark.sql.types._
    val x: Any =
      if (v == ColumnarMergeTree.NullPartition) null
      else spec match {
        // Bucket keys are the TRANSFORM's results — int bucket ids —
        // regardless of the column's own type.
        case BucketSpj(_, _) => v.toInt
        case IdentitySpj(_, dt) => dt match {
          case StringType  => org.apache.spark.unsafe.types.UTF8String.fromString(v)
          case LongType    => v.toLong
          case IntegerType => v.toInt
          case ShortType   => v.toShort
          case ByteType    => v.toByte
          case BooleanType => v.toBoolean
          case _           => null // unreachable: spjSpec is setIndexEligible-gated
        }
      }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](x))
  }

  /** Spark's storage-partitioned join (SPARK-37375): report the physical
    * layout so a join of two mergetree tables PARTITION BY the same column
    * plans with NO shuffle on either side — the co-located-join shape that
    * matters at 100 TB (the exchange this removes is the corpus-sized
    * one). Inactive (UnknownPartitioning) unless the v2-bucketing conf is
    * on AND every live part is partition-tagged.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjGroups match {
      case Some(gs) =>
        import org.apache.spark.sql.connector.expressions.Expressions
        val key = spjSpec.get match {
          case IdentitySpj(c, _) => Expressions.identity(c)
          // The bucket transform: Spark resolves the name "bucket" through
          // the relation's FunctionCatalog (GraftCatalog) — two scans whose
          // bound functions share canonicalName + N join exchange-free.
          case BucketSpj(n, c)   => Expressions.bucket(n, c)
        }
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(key), gs.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  private def parquetFiles(p: GPartMeta): List[String] =
    MergeTreePartition.parquetFiles(Paths.get(path, p.dir))

  override def planInputPartitions(): Array[InputPartition] = {
    spjGroups match {
      case Some(gs) =>
        // Runtime (join-driven) filters prune parts WITHIN key groups,
        // never group identities: an emptied group still reports its key
        // with zero files, so the KeyGroupedPartitioning the join planned
        // against survives filtering (values stay a subset — exactly what
        // BatchScanExec verifies). Composition of SPARK-37375 (SPJ) with
        // SPARK-35779 (runtime pruning): zero-exchange AND a strict part
        // subset under a selective dim filter.
        val pruned = gs.map { case (key, ps) =>
          (key, if (rtValues.isEmpty) ps else rtSurviving(ps))
        }
        GenericMergeTreeScan.lastPruning.set(
          (pruned.map(_._2.size).sum, manifestParts.size))
        // ONE InputPartition per partition value (all its parts' files
        // chained in a single reader) — the simplest layout every SPJ
        // planner version accepts.
        pruned.map { case (key, ps) =>
          MergeTreeGroupedPartition(ps.flatMap(parquetFiles).toArray, key)
            : InputPartition
        }.toArray
      case None =>
        val keep = surviving
        GenericMergeTreeScan.lastPruning.set((keep.size, manifestParts.size))
        if (keep.forall(_.muts.isEmpty))
          MergeTreePartition.plan(keep.flatMap(parquetFiles), singleSplit)
        else {
          // Pending lightweight mutations: the scan applies them ITSELF —
          // `format("mergetree")` needs no analyzer rule, and snapshot/
          // attach paths inherit correctness from the manifest the scan
          // plans from. One program compile per DISTINCT mutation list;
          // untagged parts ride along row-based with an empty program
          // (Spark forbids mixing columnar and row partitions in a scan).
          val spark = SparkSession.active
          val programs: Map[List[ColumnarMergeTree.GMut], (StructType, Seq[MutStage])] =
            keep.map(_.muts).distinct
              .map(ms => ms -> MutProgram.compile(spark, tableSchema, required, ms))
              .toMap
          keep.flatMap { p =>
            val (readSchema, stages) = programs(p.muts)
            parquetFiles(p).map(f =>
              MergeTreeMutPartition(f, readSchema, stages): InputPartition)
          }.toArray
        }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GenericReaderFactory(required,
      GenericReaderFactory.rangePredicate(leadKey, leadType, lo, hi))
}

/** The one scan reader factory of both mergetree sources (the KV table's
  * scan is this factory with a string-key predicate): vectorized reads of
  * every plain and grouped split, row reads of lightweight-mutation splits.
  */
class GenericReaderFactory(
    required: StructType,
    filter: Option[FilterPredicate])
    extends PartitionReaderFactory {

  // Mut partitions are row-based (interpreted per-row programs); a scan
  // emits either all-plain or all-mut partitions, so Spark's no-mixing
  // invariant holds by construction.
  override def supportColumnarReads(partition: InputPartition): Boolean =
    !partition.isInstanceOf[MergeTreeMutPartition]

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case MergeTreePartition(files) => new ChainedColumnarReader(files, required, filter)
      case MergeTreeGroupedPartition(files, _) =>
        new ChainedColumnarReader(files, required, filter)
      case other => throw new UnsupportedOperationException(
        s"no columnar reader for ${other.getClass.getSimpleName}")
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case MergeTreeMutPartition(f, readSchema, stages) =>
        // The pushed range predicate stays valid on mut parts: it names
        // only the leading ORDER BY key, which lightweight UPDATE refuses
        // to patch (row-group skip is sound on pre-patch values).
        new MutRowReader(f, readSchema, filter, stages, required)
      case _ => throw new UnsupportedOperationException(
        "mergetree-generic scan is columnar; row reader is never planned")
    }
}

object GenericReaderFactory {

  /** A leading-key range `[lo, hi]` compiled to a parquet FilterPredicate
    * for row-group skip (O7), for both sources' scans. Only types whose
    * parquet physical encoding this can name get a predicate: string,
    * integral, double and float leads; anything else (decimal, date, …)
    * returns None — an int-column fallback would compare MISMATCHED types
    * in the parquet stats filter (crash, or a truncated bound misprune when
    * a projection routes a double column here). Pruning is an
    * optimization; correctness never depends on it.
    */
  def rangePredicate(leadKey: String, leadType: org.apache.spark.sql.types.DataType,
      lo: Option[Any], hi: Option[Any]): Option[FilterPredicate] = {
    def one(v: Any, lower: Boolean): Option[FilterPredicate] = leadType match {
      case StringType =>
        val c = FilterApi.binaryColumn(leadKey)
        val b = Binary.fromString(v.toString)
        Some(if (lower) FilterApi.gtEq(c, b) else FilterApi.ltEq(c, b))
      case LongType =>
        val c = FilterApi.longColumn(leadKey)
        val b = java.lang.Long.valueOf(v.asInstanceOf[Number].longValue())
        Some(if (lower) FilterApi.gtEq(c, b) else FilterApi.ltEq(c, b))
      case IntegerType | ShortType | ByteType =>
        val c = FilterApi.intColumn(leadKey)
        val b = java.lang.Integer.valueOf(v.asInstanceOf[Number].intValue())
        Some(if (lower) FilterApi.gtEq(c, b) else FilterApi.ltEq(c, b))
      case DoubleType =>
        val c = FilterApi.doubleColumn(leadKey)
        val b = java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue())
        Some(if (lower) FilterApi.gtEq(c, b) else FilterApi.ltEq(c, b))
      case FloatType =>
        val c = FilterApi.floatColumn(leadKey)
        val b = java.lang.Float.valueOf(v.asInstanceOf[Number].floatValue())
        Some(if (lower) FilterApi.gtEq(c, b) else FilterApi.ltEq(c, b))
      case _ => None
    }
    (lo.flatMap(one(_, lower = true)), hi.flatMap(one(_, lower = false))) match {
      case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
      case (a, b)             => a.orElse(b)
    }
  }
}
