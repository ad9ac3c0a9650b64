package graft.mergetree

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Merge semantics of a generic table — the ClickHouse table-engine family:
  * Plain appends (MergeTree), keep-latest-version per key
  * (ReplacingMergeTree), and sum-on-merge per key (SummingMergeTree).
  * Collapse is applied BOTH at read time (merge-on-read over parts not yet
  * compacted) and inside compaction merges; both are safe under partial
  * application because max-of-version and sum are associative — a key
  * spanning two merge bins re-collapses at read.
  */
sealed trait MergeMode
object MergeMode {
  case object Plain extends MergeMode
  /** Keep the row with the greatest `versionCol` per `keyCols` group;
    * versionCol must be unique within a key group for determinism (like the
    * reference's unique u64 timestamps).
    */
  final case class Replacing(keyCols: Seq[String], versionCol: String) extends MergeMode
  /** Sum `sumCols` per `keyCols` group; remaining non-key columns collapse
    * to max() (a deterministic refinement of ClickHouse's "any value").
    */
  final case class Summing(keyCols: Seq[String], sumCols: Seq[String]) extends MergeMode
  /** VersionedCollapsingMergeTree: each state row (`signCol` = 1) is
    * cancelled by a matching row with the SAME (keyCols, versionCol) and
    * sign = -1. Collapse keeps the (key, version) groups whose sign sum is
    * positive and emits one sign=1 row per surviving group — net-sign is a
    * plain sum, so partial application inside merge bins is safe for the
    * same associativity reason as Summing. Cancel rows are expected to
    * repeat the state row's payload (ClickHouse's contract); payload columns
    * collapse to max() for determinism when they don't.
    */
  final case class Collapsing(keyCols: Seq[String], signCol: String,
                              versionCol: String) extends MergeMode
  /** AggregatingMergeTree, restricted to re-collapsible functions: each
    * aggregated column collapses per `keyCols` group with its declared
    * function — `sum` | `min` | `max` — all of which RE-apply associatively
    * to their own output, so collapse-in-merge composes with merge-on-read
    * across bins exactly like Summing. `count` is spelled as sum over a
    * 1-valued column and `avg` as two summed columns (the standard
    * SummingMergeTree idiom); general ClickHouse AggregateFunction states
    * would need a serialized-state column, out of scope. Remaining non-key
    * columns collapse to max() (deterministic refinement of "any").
    */
  final case class Aggregating(keyCols: Seq[String],
                               aggCols: Seq[(String, String)]) extends MergeMode
}

/** Schema-generic MergeTree table — the generalization SURVEY §1.4 calls
  * "ClickHouse's real model": an arbitrary `StructType` with a declared
  * ORDER BY key list, of which `KVRow`'s (key, timestamp) table
  * (MergeTreeTable) is the fixed-schema compatibility case.
  *
  * Same physical design as the compat table: immutable sorted parquet part
  * directories + an atomic JSON manifest carrying min/max of the LEADING
  * order-by column for driver-side part pruning (O8); row groups capped at
  * granuleSize so footer statistics play the sparse index (O6/O7). Batch
  * ingest only — the row-at-a-time memtable is a compatibility-surface
  * concern, a generic analytical table ingests micro-batches (streaming
  * included) as parts.
  *
  * Pruning supports string- and integral-typed leading keys (the common
  * ClickHouse layouts); other leading-key types skip part pruning and rely
  * on parquet row-group stats — correctness never depends on pruning.
  */
final class ColumnarMergeTree private (
    val spark: SparkSession,
    val path: String,
    val schema: StructType,
    val orderBy: Seq[String],
    val config: MergeTreeConfig,
    val mode: MergeMode,
    /** ClickHouse PARTITION BY: a SQL expression over the table's columns.
      * Each ingest batch lands as one part PER distinct partition value,
      * merges never cross partitions, and a partition predicate prunes whole
      * parts from the manifest before any file is opened — at 100 TB this is
      * the first and cheapest pruning layer (a date-partitioned table scans
      * one day out of a thousand without touching the other 999).
      */
    val partitionBy: Option[String] = None,
    /** ClickHouse TTL: a SQL boolean expression marking EXPIRED rows (the
      * reference idiom `TTL ts + INTERVAL 90 DAY` is spelled here as the
      * expiry predicate, e.g. "ts < 1700000000"). Expired rows are dropped
      * lazily inside compaction merges (like ClickHouse — reads may still
      * see them until a merge touches the part) or eagerly via applyTtl().
      */
    val ttl: Option[String] = None,
    /** ClickHouse SAMPLE BY column — see TableDef.sampleBy. */
    val sampleBy: Option[String] = None) {

  import ColumnarMergeTree._

  require(orderBy.nonEmpty && orderBy.forall(schema.fieldNames.contains),
    s"orderBy ${orderBy.mkString(",")} must be columns of the schema")
  sampleBy.foreach { c =>
    require(schema.fieldNames.contains(c), s"sampleBy: unknown column $c")
    require(Seq(org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(schema(c).dataType),
      s"sampleBy column $c must be integral (a uniform hash on [0, 2^32))")
  }
  mode match {
    case MergeMode.Replacing(keys, v) =>
      require((keys :+ v).forall(schema.fieldNames.contains), "bad Replacing columns")
      require(keys.contains(orderBy.head),
        "Replacing keyCols must include the leading order-by key so part " +
          "pruning commutes with the collapse")
    case MergeMode.Summing(keys, sums) =>
      require((keys ++ sums).forall(schema.fieldNames.contains), "bad Summing columns")
      require(keys.contains(orderBy.head),
        "Summing keyCols must include the leading order-by key")
    case MergeMode.Collapsing(keys, sign, version) =>
      require((keys ++ Seq(sign, version)).forall(schema.fieldNames.contains),
        "bad Collapsing columns")
      require(keys.contains(orderBy.head),
        "Collapsing keyCols must include the leading order-by key")
    case MergeMode.Aggregating(keys, aggs) =>
      require((keys ++ aggs.map(_._1)).forall(schema.fieldNames.contains),
        "bad Aggregating columns")
      require(keys.contains(orderBy.head),
        "Aggregating keyCols must include the leading order-by key")
      require(aggs.nonEmpty && aggs.forall(a => Set("sum", "min", "max")(a._2)),
        "Aggregating functions must be sum|min|max (count = sum over a " +
          "1-valued column, avg = two summed columns)")
      require(aggs.map(_._1).forall(c => !keys.contains(c)),
        "a column cannot be both an Aggregating key and an aggregate")
    case MergeMode.Plain => ()
  }
  partitionBy.foreach { p =>
    // Fail at table construction, not first insert, on an unresolvable
    // partition expression (partitionValueExpr, not raw expr(p): the
    // bucket(N, col) transform is table metadata, not a SQL function —
    // validating it raw would reject every bucket-partitioned table).
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .select(ColumnarMergeTree.partitionValueExpr(p))
  }

  private val lock = new Object
  /** Serializes maintenance ops (optimize / deleteWhere) against each other;
    * writers are NOT blocked — ingest only takes `lock` for the snapshot and
    * the manifest swap.
    */
  private val maintenanceLock = new Object

  // The learned-bounds write path plans the custom range exchange; the
  // imperative registration keeps it working in sessions without
  // spark.sql.extensions configured (same as MergeTreeTable).
  graft.plans.BoundedRangeStrategy.register(spark)
  @volatile private var manifest: GManifest =
    GManifest.load(path).getOrElse(GManifest(0L, Nil))
  @volatile private var closed = false

  /** Background merge worker (O19 for the generic table, mirroring
    * MergeTreeTable's): wakes every mergeIntervalSeconds and compacts when
    * the part count exceeds maxParts. optimize() itself is concurrent-writer
    * safe, so the worker needs no extra coordination; a failed round must
    * not kill the worker — retry next wake.
    */
  private val bgThread: Option[Thread] =
    if (!config.enableBackgroundMerge) None
    else {
      val t = new Thread(() => {
        while (!closed) {
          try Thread.sleep(config.mergeIntervalSeconds * 1000L)
          catch { case _: InterruptedException => }
          if (!closed) {
            // Compaction first (it materializes tags in whatever it merges
            // anyway), then fold the remaining pending mutations: a table
            // UNDER maxParts otherwise never merges, so its tags would sit
            // until the per-part cap refuses the next statement.
            // SYSTEM STOP MERGES pauses this whole block (re-checked every
            // wake, so START MERGES resumes within one interval).
            try {
              if (!mergesStopped) { optimize(); materializePendingMutations() }
            } catch {
              case e: Throwable if !closed =>
                System.err.println(s"[cmt-bg] merge round failed, retrying: $e")
            }
          }
        }
      }, s"cmt-bg-$path")
      t.setDaemon(true)
      t.start()
      Some(t)
    }

  /** Stop the background worker (if any) and purge grace-expired retired
    * parts — a table that retires parts and then goes idle would otherwise
    * leak the directories until its next maintenance op. Idempotent.
    */
  def shutdown(): Unit = {
    closed = true
    bgThread.foreach(_.interrupt())
    purgeGc()
  }

  /** Stop THIS instance's background merge worker without purging — the
    * schema-evolution methods return a REOPENED table and the receiver is
    * to be discarded; its worker still running would compact with the
    * STALE schema and physically drop a just-added column's data from
    * every part it rewrites. (A worker in another process holding the old
    * schema has the same hazard — coordinate ALTERs with background
    * merging across processes, as ClickHouse does via replication queues.)
    */
  private def stopBackgroundWorker(): Unit = {
    closed = true
    bgThread.foreach(_.interrupt())
  }

  private def leadKey: String = orderBy.head
  private def leadIsNumeric: Boolean = schema(leadKey).dataType match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _                                             => false
  }

  // ---------------------------------------------------------------- ingest

  /** Append a batch: one sorted part per partition value (one part total
    * when the table is unpartitioned). Concurrent callers are safe — the
    * write job runs outside the lock. Attached materialized views receive
    * the same batch (transformed) after the source part lands.
    *
    * A partitioned batch is CRASH-ATOMIC: every part lands unregistered
    * first, then ONE manifest update publishes them all — a reader (or a
    * writer dying mid-batch) observes the whole batch or none of it, never
    * a partition-by-partition prefix. (The index classes lean on this:
    * an InvertedIndex.append is all-or-nothing across its bucket parts.)
    */
  def insertBatch(df: DataFrame, partitions: Int = 0): Unit = {
    require(df.schema.fieldNames.toSeq == schema.fieldNames.toSeq,
      s"batch schema ${df.schema.fieldNames.mkString(",")} != table schema")
    // Types too (nullability aside — at every nesting level, since parquet
    // encodes int-vs-long etc., not containsNull): a same-named wrong-typed
    // batch would land parts whose physical encoding the table's read
    // schema can never decode — fail the insert, not every later scan.
    val mismatched = df.schema.fields.zip(schema.fields).collect {
      case (b, t) if !ColumnarMergeTree.sameTypeIgnoreNull(b.dataType, t.dataType) =>
        s"${b.name}: ${b.dataType} != ${t.dataType}"
    }
    require(mismatched.isEmpty,
      s"batch column types differ from the table schema (${mismatched.mkString("; ")})")
    val landed: Seq[GPartMeta] = partitionBy match {
      case None    => Seq(writePart(df, partitions, register = true, partition = None))
      case Some(p) =>
        val metas = writePartitioned(df, partitions, p, register = false)
        swapParts(Nil, metas, metas)
        metas
    }
    // MV defs re-read per batch (one tiny JSON read, like the manifest
    // refresh per scan): an MV attached AFTER this instance opened — by
    // DDL or another process — fires on the very next batch. Only parts
    // registered at or past the def's id fence flow: older parts were
    // covered by its POPULATE snapshot (see createMaterializedView).
    mvDefs.foreach { d =>
      val fresh = landed.filter(p =>
        p.partId >= d.sinceVersion.getOrElse(0L) ||
          d.populatedIds.exists(ids => !ids.contains(p.partId)))
      if (fresh.nonEmpty) {
        // A def committed MID-batch (between two partitioned part
        // registrations) splits it: only the rows of post-fence parts
        // flow — the pre-fence parts are in the populate snapshot.
        val input =
          if (fresh.size == landed.size) df
          else df.filter(partitionValueExpr(partitionBy.get)
            .isin(fresh.flatMap(_.partition): _*))
        val out = applyMvSql(d.sql, input).cache()
        try if (!out.isEmpty) mvTarget(d).insertBatch(out)
        finally out.unpersist()
      }
    }
  }

  // -------------------------------------------------------- schema evolution

  /** ClickHouse ALTER TABLE … ADD COLUMN, rewrite-free: the column is
    * appended to the persisted table definition — NO part is touched.
    * Reads null-fill it for parts written before the ALTER (an explicit
    * read schema resolves a requested-but-absent parquet column to nulls),
    * parts rewritten by later merges materialize it physically, so storage
    * converges without ever paying an O(data) rewrite — the only ALTER
    * posture that works at 100 TB. Returns the reopened table (an instance
    * holds its schema immutably; discard the receiver for further use).
    * Writers still holding the old schema land old-shape parts that read
    * as nulls — same convergence, no coordination needed.
    */
  def addColumn(name: String, dataType: DataType): ColumnarMergeTree = {
    stopBackgroundWorker()
    // Projections are identity copies: widen their surface in lockstep —
    // target schema first, then the identity-select column list, then the
    // base. A crash mid-sequence fails the next insert LOUDLY (the MV
    // select names a column its input doesn't have yet) instead of
    // silently syncing copies that null-fill a column the base has values
    // for — which a routed scan would then serve as wrong results.
    require(!schema.fieldNames.contains(name), s"column '$name' already exists")
    val projDefs = mvDefs.filter(_.name.startsWith(ProjPrefix))
    projDefs.foreach(d =>
      ColumnarMergeTree.open(spark, d.targetPath).addColumn(name, dataType))
    if (projDefs.nonEmpty) refreshProjectionSelects(extraCol = Some(name))
    ManifestLocks.locked(path) {
      val defn = TableDef.load(path).getOrElse(
        throw new IllegalStateException(s"no table definition at $path"))
      val cur = StructType.fromDDL(defn.schemaDdl)
      require(!cur.fieldNames.contains(name), s"column '$name' already exists")
      TableDef.store(path, defn.copy(
        schemaDdl = cur.add(StructField(name, dataType, nullable = true)).toDDL))
    }
    ColumnarMergeTree.open(spark, path, config)
  }

  /** Rewrite every projection's identity SELECT to the base's current
    * column list (optionally plus a just-added column not yet persisted).
    */
  private def refreshProjectionSelects(extraCol: Option[String] = None,
                                       dropCol: Option[String] = None): Unit = {
    val cols = (schema.fieldNames.toSeq ++ extraCol).filterNot(dropCol.contains)
    val sql = s"SELECT ${cols.map(f => s"`$f`").mkString(", ")} " +
      s"FROM ${ColumnarMergeTree.MvInput}"
    MvRegistry.update(path)(_.map(d =>
      if (d.name.startsWith(ProjPrefix)) d.copy(sql = sql) else d))
  }

  /** ALTER TABLE … DROP COLUMN, rewrite-free: removed from the definition
    * only; parts keep the physical column until a merge rewrites them (an
    * explicit read schema simply never projects it). Columns referenced by
    * ORDER BY, the merge mode, PARTITION BY, or TTL are protected — the
    * sort order, collapse, and pruning metadata would silently break.
    */
  def dropColumn(name: String): ColumnarMergeTree = {
    stopBackgroundWorker()
    // A projection sorted on this column is as protective as the base's
    // own ORDER BY (its copy and routing would break); other projections
    // follow the drop in lockstep — select list first (a crash between
    // fails the next sync loudly on a schema mismatch, never a silent
    // divergence), then target schema, then base.
    val defn0 = TableDef.load(path).getOrElse(
      throw new IllegalStateException(s"no table definition at $path"))
    require(StructType.fromDDL(defn0.schemaDdl).fieldNames.contains(name),
      s"no column '$name'")
    val protectedCols = orderBy.toSet ++
      ColumnarMergeTree.modeColumns(TableDef.decodeMode(defn0.mode)) ++
      defn0.partitionBy.toSeq.flatMap(exprRefs) ++
      defn0.ttl.toSeq.flatMap(exprRefs)
    require(!protectedCols.contains(name),
      s"column '$name' is referenced by ORDER BY / merge mode / " +
        "PARTITION BY / TTL and cannot be dropped")
    val (projDefs, otherMvs) = mvDefs.partition(_.name.startsWith(ProjPrefix))
    val sortedOnIt = projections.collect { case (n, ob) if ob.contains(name) => n }
    require(sortedOnIt.isEmpty,
      s"column '$name' is the sort key of projection(s) " +
        s"${sortedOnIt.mkString(", ")} — drop them first")
    // Same guard as widenColumn: a non-projection MV reading this column
    // would fail per-batch transform AFTER the source part has already
    // landed — the caller sees an exception although the data committed,
    // and a retry double-inserts. Refuse up front instead.
    val referencing = otherMvs.filter(d => mvSqlReferences(d.sql, name))
    require(referencing.isEmpty,
      s"column '$name' is read by materialized view(s) " +
        s"${referencing.map(_.name).mkString(", ")} — drop them first")
    if (projDefs.nonEmpty) refreshProjectionSelects(dropCol = Some(name))
    projDefs.foreach(d =>
      ColumnarMergeTree.open(spark, d.targetPath).dropColumn(name))
    ManifestLocks.locked(path) {
      val defn = TableDef.load(path).getOrElse(
        throw new IllegalStateException(s"no table definition at $path"))
      val cur = StructType.fromDDL(defn.schemaDdl)
      TableDef.store(path, defn.copy(
        schemaDdl = StructType(cur.filterNot(_.name == name)).toDDL))
    }
    ColumnarMergeTree.open(spark, path, config)
  }

  /** ALTER TABLE … MODIFY COLUMN to a wider type, rewrite-free: only the
    * persisted definition changes — Spark's vectorized parquet reader
    * up-converts narrower stored values at scan time (type widening), and
    * parts rewritten by later merges materialize the wide type physically,
    * so storage converges without an O(data) rewrite — same posture as
    * ADD/DROP COLUMN, the only ALTER economics that work at 100 TB.
    * Restricted to the integer-family upcasts + float→double that the
    * reader guarantees lossless; ORDER BY/mode/PARTITION BY/TTL columns of
    * INTEGRAL type are allowed (manifest key bounds compare numerically,
    * canonical partition values are integer strings — both width-blind),
    * float→double on them is refused.
    */
  def widenColumn(name: String, to: DataType): ColumnarMergeTree = {
    stopBackgroundWorker()
    // A non-projection MV reading this column may transform it arbitrarily
    // (its target schema was derived from the narrow type): refuse, the
    // user rebuilds those views. Projections are identity copies — widen
    // their targets FIRST, then the base: if we crash in between, a wide
    // target read-schema still reads narrow base-synced parts correctly
    // (type widening), whereas the reverse order would land wide parts
    // under a narrow target definition and break the projection's reads.
    val defn0 = TableDef.load(path).getOrElse(
      throw new IllegalStateException(s"no table definition at $path"))
    val cur0 = StructType.fromDDL(defn0.schemaDdl)
    require(cur0.fieldNames.contains(name), s"no column '$name'")
    val from = cur0(name).dataType
    val integralRank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    val ok = (integralRank.contains(from) && integralRank.contains(to) &&
      integralRank(to) > integralRank(from)) ||
      (from == FloatType && to == DoubleType)
    require(ok, s"cannot widen ${from.simpleString} to ${to.simpleString} " +
      "(supported: byte<short<int<long upcasts, float->double)")
    if (from == FloatType) {
      val structural = orderBy.toSet ++
        ColumnarMergeTree.modeColumns(TableDef.decodeMode(defn0.mode)) ++
        defn0.partitionBy.toSeq.flatMap(exprRefs) ++
        defn0.ttl.toSeq.flatMap(exprRefs) ++
        projections.flatMap(_._2)
      require(!structural.contains(name),
        s"float column '$name' is referenced by ORDER BY / merge mode / " +
          "PARTITION BY / TTL / a projection sort key and cannot be widened")
    }
    val (projDefs, otherMvs) = mvDefs.partition(_.name.startsWith(ProjPrefix))
    val referencing = otherMvs.filter(d => mvSqlReferences(d.sql, name))
    require(referencing.isEmpty,
      s"column '$name' is read by materialized view(s) " +
        s"${referencing.map(_.name).mkString(", ")} — drop and recreate them " +
        "after the widen (their target schemas derive from the narrow type)")
    projDefs.foreach(d =>
      ColumnarMergeTree.open(spark, d.targetPath).widenColumn(name, to))
    ManifestLocks.locked(path) {
      val defn = TableDef.load(path).getOrElse(
        throw new IllegalStateException(s"no table definition at $path"))
      val cur = StructType.fromDDL(defn.schemaDdl)
      TableDef.store(path, defn.copy(schemaDdl = StructType(cur.map(f =>
        if (f.name == name) f.copy(dataType = to) else f)).toDDL))
    }
    ColumnarMergeTree.open(spark, path, config)
  }

  private def exprRefs(e: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(e).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    }

  /** Whether an MV's SQL reads `column` (parsed, not substring-matched);
    * SELECT * conservatively counts as reading everything.
    */
  private def mvSqlReferences(sql: String, column: String): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedStar}
    val plan = spark.sessionState.sqlParser.parsePlan(sql)
    var hit = false
    plan.foreach(_.expressions.foreach(_.foreach {
      case a: UnresolvedAttribute if a.nameParts.last.equalsIgnoreCase(column) => hit = true
      case _: UnresolvedStar => hit = true
      case _ =>
    }))
    hit
  }

  // ------------------------------------------------------ materialized views

  /** Insert-triggered materialized views, ClickHouse semantics: the MV's
    * SQL (over the `__INPUT__` placeholder relation) transforms EACH
    * inserted batch and the result lands in the target table — batches
    * inserted before the MV existed do not flow in unless `populate = true`
    * (ClickHouse POPULATE). With a Summing/Aggregating target the per-batch
    * partial aggregates collapse in the target's merges/reads, which is
    * exactly the ClickHouse AggregatingMergeTree-MV pattern and the reason
    * this is scale-safe: each ingest pays one map-side partial over its own
    * batch, never a re-aggregation of the table. Definitions persist in
    * mvdefs.json, so every opener (API, DSv2 connector, streaming) triggers
    * them; targets chain (an MV target's own MVs fire on its inserts).
    *
    * The transform recomputes the batch plan (the landed part is not
    * re-read); with a deterministic source df the two are identical.
    */
  def createMaterializedView(name: String, targetPath: String, sql: String,
      targetOrderBy: Seq[String], targetMode: MergeMode = MergeMode.Plain,
      targetPartitionBy: Option[String] = None,
      populate: Boolean = false): ColumnarMergeTree = {
    require(sql.contains(ColumnarMergeTree.MvInput),
      s"MV sql must read FROM ${ColumnarMergeTree.MvInput}")
    ColumnarMergeTree.requireNoMvCycle(path, targetPath)
    val outSchema = applyMvSql(sql,
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)).schema
    // The target inherits only the per-column sketch/skip configs whose
    // columns its OWN schema carries — inheriting the source's verbatim
    // would make every target insert throw on a declared column the
    // transformed schema lacks.
    val outNames = outSchema.fieldNames.toSet
    val targetCfg = config.copy(
      bloomFilterColumns = config.bloomFilterColumns.filter(outNames),
      minmaxColumns = config.minmaxColumns.filter(outNames),
      tokenBloomColumns = config.tokenBloomColumns.filter(outNames),
      ngramBloomColumns = config.ngramBloomColumns.filter(outNames),
      hllColumns = config.hllColumns.filter(outNames),
      topKColumns = config.topKColumns.filter(outNames),
      quantileColumns = config.quantileColumns.filter(outNames),
      setIndexColumns = config.setIndexColumns.filter(outNames))
    // Name uniqueness decided INSIDE the registry lock: two racing creators
    // of 'name' would otherwise both pass a stale pre-check and the target
    // would receive every batch twice, permanently double-counting. The
    // target table is created only AFTER that check passes — a failed
    // duplicate call must not clobber the existing target's persisted
    // definition (mode/order/schema) while the registry keeps routing
    // batches to it.
    //
    // The manifest is snapshotted under the SAME lock acquisition and the
    // def is fenced at the next part id AND at the snapshot's part-id set:
    // a published part before the fence is covered by the populate
    // snapshot below (trigger skips it), one after flows through the
    // trigger — and a batch IN FLIGHT during this create (its ids
    // allocated, so < fence, but unpublished, so absent from the
    // snapshot) still flows via the not-in-snapshot condition. Never both
    // (double count), never neither (lost batch). ClickHouse documents
    // this exact POPULATE race as unsolved; the fence + snapshot set
    // close it here.
    var snapshot = Seq.empty[GPartMeta]
    var target: ColumnarMergeTree = null
    MvRegistry.update(path) { cur =>
      require(!cur.exists(_.name == name), s"materialized view '$name' exists")
      target = ColumnarMergeTree.create(spark, targetPath, outSchema,
        targetOrderBy, targetCfg, targetMode, targetPartitionBy)
      val man = GManifest.load(path).getOrElse(GManifest(0L, Nil))
      snapshot = man.parts
      cur :+ MvDef(name, targetPath, sql, Some(GManifest.nextIdOf(man)),
        Some(man.parts.map(_.partId).toList))
    }
    mvTargets.put(targetPath, target)
    if (populate) {
      val out = applyMvSql(sql, collapse(readParts(snapshot))).cache()
      try if (!out.isEmpty) target.insertBatch(out)
      finally out.unpersist()
    }
    target
  }

  /** Detach and forget an MV (the target table itself is left in place). */
  def dropMaterializedView(name: String): Unit = {
    var dropped: Option[MvDef] = None
    MvRegistry.update(path) { cur =>
      dropped = cur.find(_.name == name)
      require(dropped.nonEmpty, s"no materialized view '$name'")
      cur.filterNot(_.name == name)
    }
    // Only evict if no surviving MV shares the target path (allowed: two
    // views may fan into one table; the cache is per-path).
    dropped.foreach(d =>
      if (!mvDefs.exists(_.targetPath == d.targetPath))
        mvTargets.remove(d.targetPath))
  }

  def materializedViews: Seq[String] = mvDefs.map(_.name)

  /** The (open) target table of an attached MV. */
  def materializedViewTarget(name: String): ColumnarMergeTree =
    mvTarget(mvDefs.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no materialized view '$name'")))

  // ------------------------------------------------------------ projections

  /** ClickHouse ALTER TABLE … ADD PROJECTION, restricted to its common
    * form (an alternate physical sort order): the projection is an
    * identity materialized view into a nested table ordered by
    * `projOrderBy`, kept in sync by the MV machinery on every insert and
    * by explicit propagation on mutations (see deleteWhere/updateWhere).
    * `rangeScanAuto` routes a range predicate to whichever copy can prune
    * parts on that column — the base or a projection — so point/range
    * queries on a NON-primary column get primary-key pruning economics at
    * the cost of one extra stored copy (exactly ClickHouse's trade).
    * Restricted to Plain-mode unpartitioned tables (projections over
    * collapsing modes need collapse-aware routing; ClickHouse restricts
    * them similarly).
    */
  def addProjection(name: String, projOrderBy: Seq[String]): ColumnarMergeTree = {
    require(mode == MergeMode.Plain && partitionBy.isEmpty && ttl.isEmpty,
      // TTL excluded because the base's TTL-in-compaction would drop rows
      // the projection copy still holds (the target has no TTL and merges
      // on its own schedule) — a routed scan must NEVER see different rows.
      "projections require a Plain-mode unpartitioned table without TTL")
    require(projOrderBy.nonEmpty && projOrderBy.forall(schema.fieldNames.contains),
      s"projection order ${projOrderBy.mkString(",")} must name table columns")
    val cols = schema.fieldNames.map(f => s"`$f`").mkString(", ")
    createMaterializedView(s"$ProjPrefix$name",
      Paths.get(path, s"proj_$name").toString,
      s"SELECT $cols FROM ${ColumnarMergeTree.MvInput}",
      targetOrderBy = projOrderBy, populate = true)
  }

  def dropProjection(name: String): Unit =
    dropMaterializedView(s"$ProjPrefix$name")

  /** Declared projections: name -> ORDER BY of the stored copy. */
  def projections: Seq[(String, Seq[String])] =
    mvDefs.filter(_.name.startsWith(ProjPrefix)).map { d =>
      val ob = TableDef.load(d.targetPath).map(_.orderBy).getOrElse(Nil)
      d.name.stripPrefix(ProjPrefix) -> ob
    }

  // ------------------------------------------- aggregate projections

  /** ClickHouse AGGREGATE projection (`ALTER TABLE … ADD PROJECTION p
    * (SELECT keys…, aggs… GROUP BY keys…)`): a pre-aggregated copy of the
    * table, one partial-aggregate batch per insert (the MV trigger),
    * partials collapsed by the target's Aggregating merges — so a matching
    * aggregate query reads Σ|groups per part| rows instead of the table.
    * That is the feature's entire 100 TB economics: a daily-rollup query
    * over a petabyte table touches megabytes of projection parts.
    *
    * Supported aggregates are the re-collapsible set the Aggregating mode
    * documents — `sum` | `min` | `max` | `count` (count merges as sum) —
    * because the routed read must be able to RE-aggregate stored partials,
    * including rolling them up to a coarser key set (see aggScanAuto).
    * Output columns are named canonically (`sum_<col>`, `count_all`), which
    * makes the stored copy self-describing: routing introspects the target's
    * persisted merge mode, no extra registry entry needed. Same table
    * restrictions as sort projections, same reasons.
    */
  def addAggProjection(name: String, groupBy: Seq[String],
      aggs: Seq[(String, String)]): ColumnarMergeTree = {
    require(mode == MergeMode.Plain && partitionBy.isEmpty && ttl.isEmpty,
      "aggregate projections require a Plain-mode unpartitioned table without TTL")
    require(groupBy.nonEmpty && groupBy.forall(schema.fieldNames.contains),
      s"projection GROUP BY ${groupBy.mkString(",")} must name table columns")
    require(aggs.nonEmpty, "aggregate projection needs at least one aggregate")
    aggs.foreach { case (fn, c) =>
      require(Set("sum", "min", "max", "count")(fn),
        s"unsupported projection aggregate '$fn' (sum|min|max|count)")
      require(fn == "count" || schema.fieldNames.contains(c),
        s"projection aggregate column '$c' is not a table column")
    }
    val aliases = aggs.map { case (fn, c) => aggProjAlias(fn, c) }
    require(aliases.distinct.size == aliases.size,
      s"duplicate projection aggregates: ${aliases.mkString(",")}")
    val selects = groupBy.map(g => s"`$g`") ++ aggs.map {
      case ("count", _) => s"COUNT(*) AS `${aggProjAlias("count", "*")}`"
      case (fn, c)      => s"${fn.toUpperCase}(`$c`) AS `${aggProjAlias(fn, c)}`"
    }
    val sql = s"SELECT ${selects.mkString(", ")} FROM ${ColumnarMergeTree.MvInput} " +
      s"GROUP BY ${groupBy.map(g => s"`$g`").mkString(", ")}"
    val mergeSpec = aggs.map { case (fn, c) =>
      aggProjAlias(fn, c) -> (if (fn == "count") "sum" else fn)
    }
    createMaterializedView(s"$AggProjPrefix$name",
      Paths.get(path, s"aggproj_$name").toString, sql,
      targetOrderBy = groupBy,
      targetMode = MergeMode.Aggregating(groupBy, mergeSpec),
      populate = true)
  }

  def dropAggProjection(name: String): Unit =
    dropMaterializedView(s"$AggProjPrefix$name")

  /** Declared aggregate projections: name -> (GROUP BY keys, agg columns). */
  def aggProjections: Seq[(String, Seq[String], Seq[String])] =
    aggProjDefs.map { d =>
      mvTarget(d).mode match {
        case MergeMode.Aggregating(keys, spec) =>
          (d.name.stripPrefix(AggProjPrefix), keys, spec.map(_._1))
        case _ => (d.name.stripPrefix(AggProjPrefix), Nil, Nil)
      }
    }

  /** Aggregate query with ClickHouse's projection routing: answered from a
    * projection whose keys cover `groupBy` (a SUPERSET — sum/min/max/count
    * all re-aggregate associatively, so a coarser rollup folds the finer
    * partials) and whose stored aggregates cover every requested one; falls
    * back to aggregating the base scan otherwise. Both routes produce
    * identical rows and identical canonical column names (`groupBy` cols,
    * then `sum_<col>`/`count_all`/…), so callers never see which copy
    * answered — only the bytes read differ. `groupBy = Nil` is the global
    * aggregate. The routed read takes the target's rawScan — ONE
    * aggregation both merges uncompacted partials and rolls up to the
    * requested keys (every non-key projection column is an agg column, so
    * skipping the intermediate collapse loses nothing).
    */
  def aggScanAuto(groupBy: Seq[String], aggs: Seq[(String, String)]): DataFrame = {
    require(groupBy.forall(schema.fieldNames.contains),
      s"groupBy ${groupBy.mkString(",")} must name table columns")
    require(aggs.nonEmpty, "aggScanAuto needs at least one aggregate")
    val outCols = groupBy.map(col) ++
      aggs.map { case (fn, c) => col(aggProjAlias(fn, c)) }
    aggProjectionFor(groupBy, aggs) match {
      case Some(d) =>
        val t = mvTarget(d)
        val merged = aggs.map { case (fn, c) =>
          val a = aggProjAlias(fn, c)
          (fn match {
            case "count" | "sum" => sum(col(a))
            case "min"           => min(col(a))
            case _               => max(col(a))
          }).cast(t.schema(a).dataType).as(a)
        }
        t.rawScan().groupBy(groupBy.map(col): _*)
          .agg(merged.head, merged.tail: _*)
          .select(outCols: _*)
      case None =>
        val direct = aggs.map { case (fn, c) =>
          (fn match {
            case "count" => count(lit(1))
            case "sum"   => sum(col(c))
            case "min"   => min(col(c))
            case _       => max(col(c))
          }).as(aggProjAlias(fn, c))
        }
        scan().groupBy(groupBy.map(col): _*)
          .agg(direct.head, direct.tail: _*)
          .select(outCols: _*)
    }
  }

  private[graft] def aggProjectionFor(groupBy: Seq[String],
      aggs: Seq[(String, String)]): Option[MvDef] =
    aggProjDefs.find { d =>
      mvTarget(d).mode match {
        case MergeMode.Aggregating(keys, spec) =>
          groupBy.toSet.subsetOf(keys.toSet) &&
            aggs.forall { case (fn, c) => spec.exists(_._1 == aggProjAlias(fn, c)) }
        case _ => false
      }
    }

  private def aggProjDefs: List[MvDef] =
    mvDefs.filter(_.name.startsWith(AggProjPrefix))

  /** A row-level mutation cannot be replayed against stored partial
    * aggregates (a deleted row's contribution to `sum_v` is unrecoverable
    * from the partials) — rebuild each copy from the already-mutated base,
    * which is what ClickHouse's mutations do to projection parts too.
    */
  private def rebuildAggProjections(): Unit =
    aggProjDefs.foreach { d =>
      mvTarget(d).overwriteBatch(applyMvSql(d.sql, scan()))
    }

  private def aggProjAlias(fn: String, c: String): String =
    if (fn == "count") "count_all" else s"${fn}_$c"

  private def AggProjPrefix = ColumnarMergeTree.AggProjPrefix

  /** Range scan on ANY column, routed to the copy that can prune on it:
    * the base table when `column` is the primary leading key, else a
    * projection whose leading key is `column`, else a filtered full scan
    * of the base (correct, just unpruned). Results are identical rows in
    * all three cases — only the I/O differs.
    */
  def rangeScanAuto(column: String, lo: Any, hi: Any): DataFrame =
    if (column == leadKey) rangeScan(lo, hi)
    else projectionFor(column) match {
      case Some(p) => p.rangeScan(lo, hi)
      case None => scan().filter(col(column) >= lit(lo) && col(column) <= lit(hi))
    }

  private def projectionFor(column: String): Option[ColumnarMergeTree] =
    mvDefs.filter(_.name.startsWith(ProjPrefix))
      .find(d => TableDef.load(d.targetPath).exists(_.orderBy.headOption.contains(column)))
      .map(mvTarget)

  private def projectionTargets: Seq[ColumnarMergeTree] =
    mvDefs.filter(_.name.startsWith(ProjPrefix)).map(mvTarget)

  private def ProjPrefix = ColumnarMergeTree.ProjPrefix

  /** Always the persisted truth — see insertBatch. */
  private def mvDefs: List[MvDef] = MvRegistry.load(path)
  // Keyed by TARGET PATH, not MV name: a drop-and-recreate of 'name' with
  // a new targetPath (possibly from another process — defs re-read per
  // batch) must open the new target, not serve the cached old one.
  private val mvTargets =
    new scala.collection.concurrent.TrieMap[String, ColumnarMergeTree]()

  private def mvTarget(d: MvDef): ColumnarMergeTree =
    mvTargets.getOrElseUpdate(d.targetPath,
      ColumnarMergeTree.open(spark, d.targetPath))

  /** Run the MV SQL over `input`: register it under a unique temp-view
    * name, substitute the placeholder, analyze (sql() analyzes eagerly, so
    * dropping the view after is safe), return the frame. Everything runs on
    * INPUT's own session — a streaming foreachBatch hands a frame bound to
    * a cloned micro-batch session whose temp-view catalog the table's
    * captured session cannot see.
    */
  private def applyMvSql(sql: String, input: DataFrame): DataFrame = {
    val s = input.sparkSession
    val v = s"graft_mv_in_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    input.createOrReplaceTempView(v)
    try s.sql(sql.replace(ColumnarMergeTree.MvInput, v))
    finally s.catalog.dropTempView(v)
  }

  /** Write a sorted part into a staging dir; the final `part_<id>` name is
    * claimed inside GManifest.register's per-path lock (id allocation +
    * rename + optional manifest append are one atomic step — same
    * anti-clobber design as MergeTreeTable.writePartInternal).
    * `register=false` leaves the part fenced but unlisted, for maintenance
    * jobs that swap a batch of outputs in atomically at the end.
    * `partition` is the part's partition value, carried through rewrites
    * and merges (which never mix partitions). `inputs` nonEmpty = this
    * write is a rewrite/merge of exactly those parts (bounds derive from
    * them — see learnedWriteBounds).
    */
  private def writePart(df: DataFrame, partitions: Int, register: Boolean,
                        partition: Option[String],
                        inputs: Seq[GPartMeta] = Nil): GPartMeta =
    claim(stagePart(df, partitions, partition, inputs), register)

  /** [[writePart]] up to the claim: the sorted part written to a staging
    * dir, its sidecars built and its footers read.
    */
  private def stagePart(df: DataFrame, partitions: Int, partition: Option[String],
                        inputs: Seq[GPartMeta]): StagedPart = {
    val stage = Paths.get(path, s".part_stage_${java.util.UUID.randomUUID()}")
    val sortCols = orderBy.map(col)
    val n = if (partitions > 0) partitions
      else math.max(1, math.min(spark.sparkContext.defaultParallelism, 32))
    val sorted =
      if (n <= 1) df.coalesce(1).sortWithinPartitions(sortCols: _*)
      else learnedWriteBounds(partition, n, inputs) match {
        // Steady state (and every merge/rewrite): split the batch on the
        // table's LEARNED lead-key distribution — the stock
        // repartitionByRange reads the batch twice (a sampling pass, then
        // the write pass), which for a merge means every input part read
        // 2×. See learnedWriteBounds.
        case Some(bounds) =>
          org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
              graft.plans.BoundedRangeRepartition(leadKey, bounds, df.queryExecution.analyzed))
            .sortWithinPartitions(sortCols: _*)
        case None =>
          df.repartitionByRange(n, sortCols: _*).sortWithinPartitions(sortCols: _*)
      }
    val writer = config.bloomFilterColumns.foldLeft(
      sorted.write
        .option("parquet.block.row.count.limit", config.granuleSize)
        .option("compression", config.compression)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    writer.mode("overwrite").parquet(stage.toString)
    prepareStaged(stage, partition)
  }

  /** Maintenance rewrites: `stage` runs for every item as concurrent
    * Spark jobs (wall-time = slowest item instead of the sum; each job
    * parallelizes internally too, but a 10k-part table must not pay 10k
    * sequential driver round-trips — round-3 verdict), then the staged
    * parts are claimed in ITEM order, unregistered (the op swaps them in).
    * Part ids, directory names and the manifest therefore follow the op's
    * bin order, not the order its threads finish in, so one op sequence
    * always writes the same manifest.
    */
  private def writeConcurrently[A](items: Seq[A])(stage: A => StagedPart): Seq[GPartMeta] = {
    DriverPool.inParallel(items, threads = 8)(stage).map(claim(_, register = false))
  }

  /** Per-part row-group (lead-key min, lead-key max, rows) triples, cached
    * per immutable part id — the write path's distribution sketch (see
    * learnedWriteBounds). Only SUCCESSFUL footer reads cache: a transient
    * I/O blip must not disable the learned path for the part's lifetime
    * (r14 advice — the old Option cache pinned Try failures forever); a
    * permanently unreadable footer re-pays one footer read per write
    * attempt, which the write job itself dwarfs.
    */
  private val leadPointsCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[(String, String, Long)]]()

  private def leadPointsOf(p: GPartMeta): Option[Seq[(String, String, Long)]] =
    Option(leadPointsCache.get(p.partId)).orElse(
      scala.util.Try(PartStats.colRanges(
        spark.sessionState.newHadoopConf(), s"$path/${p.dir}", leadKey)).toOption
        .map { r => leadPointsCache.put(p.partId, r); r })

  /** The lead key's order over its canonical string form: numeric for
    * integral, date/time and floating leads, UTF-8 for the rest. Throws
    * NumberFormatException on a value the type cannot parse.
    */
  private def leadCompare(dt: DataType): (String, String) => Int = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType =>
      (a, b) => java.lang.Long.compare(a.toLong, b.toLong)
    case FloatType | DoubleType => (a, b) => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _                      => KeyOrder.cmp
  }

  /** Learned write bounds (the generic-engine analog of MergeTreeTable's
    * key-sample path): split keys for sorting a new batch — or a MERGE's
    * output — into `n` range-partitioned files, from parts' own row-group
    * lead-key bounds (rank samples of the table's distribution; parts are
    * sorted runs, so their row-group boundaries tile their range finely).
    * Each row group contributes BOTH endpoints at half its mass —
    * weighting whole groups at their minima biased every split key low
    * and let the tail partition absorb the overflow (r14 advice).
    *
    * `inputs` nonEmpty = a rewrite/merge of exactly those parts: bounds
    * derive from the data actually being rewritten — the precise
    * distribution, no drift possible. `inputs` empty = a fresh external
    * batch: bounds come from the whole live partition, GUARDED by the
    * staircase detector — under append/monotonic-key ingest every new
    * batch's keys sit ABOVE all learned bounds (the whole batch would
    * route to one tail task, steady-state, and nothing would re-trigger
    * sampling because bounds stay "computable" forever — r14 advice).
    * Monotonic ingest leaves an unmistakable metadata signature — each
    * recently created part begins at or above everything older (see
    * [[KeySample.ingestStaircase]]) — on which the learned path hands back
    * None and the caller pays the one sampling pass that balances the
    * batch; at most one early batch misroutes before the staircase is
    * visible.
    *
    * Scoped to the same PARTITION as the write, since merges never cross
    * partitions and per-partition distributions differ by design. None
    * (→ caller samples) while the partition is empty, the lead type is
    * unsupported, a footer is unreadable, or the points are too thin to
    * cut n ways.
    */
  private def learnedWriteBounds(partition: Option[String], n: Int,
      inputs: Seq[GPartMeta]): Option[Seq[String]] = {
    if (n <= 1) return None
    val dt = schema(leadKey).dataType
    if (!graft.plans.BoundedRangeRepartitionExec.supports(dt)) return None
    val src = if (inputs.nonEmpty) inputs
      else lock.synchronized(manifest.parts).filter(_.partition == partition)
    if (src.isEmpty) return None
    if (inputs.isEmpty && KeySample.ingestStaircase(
        src.map(p => (p.minKey, p.maxKey, p.creationTime, p.partId)))(leadCompare(dt)))
      return None
    val perPart = src.map(leadPointsOf)
    if (perPart.exists(_.isEmpty)) return None
    val pts = perPart.flatMap(_.get).flatMap { case (lo, hi, rows) =>
      // Both endpoints at half the group's mass — weighting whole groups
      // at their minima biased every split key low and the tail partition
      // absorbed the overflow (r14 advice).
      Seq(Option(lo).map(l => (l, rows / 2.0)),
        Option(hi).map(h => (h, rows / 2.0))).flatten
    }
    if (pts.size < n * 8) return None // < 4 row groups per cut: too thin
    Some(KeySample.splitBoundsTyped(pts, n, dt)).filter(_.nonEmpty)
  }

  /** A staged part directory with its sidecars built and its manifest
    * metadata read from the freshly-written footers, not yet claimed.
    */
  private def prepareStaged(stage: java.nio.file.Path,
                            partition: Option[String]): StagedPart = {
    buildTokenBlooms(stage)
    buildNgramBlooms(stage)
    buildSetIndexes(stage)
    buildHllSketches(stage)
    buildTopKSketches(stage)
    buildQuantileSketches(stage)
    StagedPart(stage, partition, footerMeta(stage.toString), MergeTreeTable.dirSize(stage))
  }

  /** Claim a staged part directory as `part_<id>`. */
  private def claim(s: StagedPart, register: Boolean): GPartMeta = {
    val fm = s.footer
    val now = System.currentTimeMillis()
    // register=false outputs are intent-recorded by register() itself —
    // inside the manifest lock's critical section in lock mode, so the
    // dir is protected from the instant it exists under its final name.
    val meta = GManifest.register(path, s.dir, append = register,
      intent = !register) { partId =>
      GPartMeta(partId, fm.minKey, fm.maxKey, leadIsNumeric, fm.rows, fm.granules, s.size,
        now, s.partition, colStats = Some(fm.colStats).filter(_.nonEmpty))
    }
    if (register) lock.synchronized {
      manifest = GManifest.load(path).getOrElse(manifest)
    }
    meta
  }

  /** Partitioned ingest: ONE distributed write job splits the batch into
    * `__pv=<value>` subdirectories (Spark's dynamic-partition write), each
    * of which is then claimed as its own part. The partition column is
    * derived, so the data files keep exactly the table schema; rows within
    * each part are sorted by the ORDER BY key as usual. Driver work is
    * bounded by the number of DISTINCT partition values in the batch (the
    * ClickHouse posture: a thousand partitions is fine, a million is a
    * mis-designed partition key).
    */
  private def writePartitioned(df: DataFrame, partitions: Int, pexpr: String,
                               register: Boolean = true): Seq[GPartMeta] = {
    val stage = Paths.get(path, s".part_stage_${java.util.UUID.randomUUID()}")
    val sortCols = orderBy.map(col)
    val n = if (partitions > 0) partitions
      else math.max(1, math.min(spark.sparkContext.defaultParallelism, 32))
    val keyed = df.withColumn("__pv", partitionValueExpr(pexpr))
    val sorted =
      if (n <= 1) keyed.coalesce(1).sortWithinPartitions(col("__pv") +: sortCols: _*)
      else keyed.repartitionByRange(n, col("__pv") +: sortCols: _*)
        .sortWithinPartitions(col("__pv") +: sortCols: _*)
    val writer = config.bloomFilterColumns.foldLeft(
      sorted.write
        .partitionBy("__pv")
        .option("parquet.block.row.count.limit", config.granuleSize)
        .option("compression", config.compression)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    writer.mode("overwrite").parquet(stage.toString)
    // Sorted, so part ids follow partition-directory order rather than
    // the directory listing's.
    val subdirs = {
      val s = Files.list(stage)
      try s.iterator().asScala.filter(d =>
        Files.isDirectory(d) && d.getFileName.toString.startsWith("__pv=")).toSeq
        .sortBy(_.getFileName.toString)
      finally s.close()
    }
    try subdirs.map { sub =>
      val value = ColumnarMergeTree.unescapePartitionDir(
        sub.getFileName.toString.stripPrefix("__pv="))
      claim(prepareStaged(sub, partition = Some(value)), register)
    } finally MergeTreeTable.deleteRecursively(stage)
  }

  /** Manifest metadata of a freshly-written part from ONE pass over its
    * footers ([[PartStats.footers]], which applies the partial-stats rule):
    * the leading-key bounds, (rows, granules) and the minmax skip-index
    * entries.
    * Lead bounds are null (= part unprunable) unless every populated row
    * group carries lead stats of the lead's kind — integral leads compare
    * as longs, everything else as UTF-8 strings (round-3 verdict bug #2).
    *
    * Minmax eligibility is decided by the TABLE SCHEMA type, not the
    * runtime stats class: pruning compares manifest bounds against LOGICAL
    * predicate values, so only types whose parquet stats ARE the logical
    * value may participate — integer family → "long", float family →
    * "double", strings → "string". Decimal (unscaled-int stats),
    * Timestamp/Date (epoch encodings) and everything else are skipped: an
    * entry keyed on the physical encoding would prune parts the predicate
    * matches (e.g. Decimal(10,2) 100.00 stored as 10000 vs a pushed
    * `price > 200`). A declared column without a complete bound of its
    * kind gets no entry.
    */
  private def footerMeta(dir: String): FooterMeta = {
    def kindFor(dt: DataType): Option[String] = dt match {
      case ByteType | ShortType | IntegerType | LongType => Some("long")
      case FloatType | DoubleType => Some("double")
      case StringType => Some("string")
      case _ => None
    }
    val declared: Map[String, String] = config.minmaxColumns.flatMap(c =>
      schema.fields.find(_.name == c)
        .flatMap(f => kindFor(f.dataType)).map(c -> _)).toMap
    val f = PartStats.footers(spark.sessionState.newHadoopConf(), dir,
      leadKey +: declared.keys.toSeq)
    val leadKind = if (leadIsNumeric) "long" else "string"
    val lead = f.bounds(leadKey).filter(_.kind == leadKind)
    val colStats = declared.keys.toList.sorted.flatMap(c =>
      f.bounds(c).filter(_.kind == declared(c))
        .map(b => GColStat(c, b.lo.toString, b.hi.toString, declared(c))))
    FooterMeta(lead.map(_.lo.toString).orNull, lead.map(_.hi.toString).orNull,
      f.rows, f.rowGroups, colStats)
  }

  // ----------------------------------------------------------------- query

  /** Full table scan: surviving manifest parts, with the table's merge-mode
    * collapse applied (merge-on-read over not-yet-compacted parts).
    */
  def scan(): DataFrame = collapse(scanPruned(None, None))

  /** Uncollapsed view of the raw part rows, for diagnostics. */
  def rawScan(): DataFrame = scanPruned(None, None)

  /** Range scan on the leading order-by key, inclusive both ends like the
    * reference (src/granule.cpp:57); the predicate is applied in the plan
    * (pushed to parquet) AND used for driver-side part pruning. The collapse
    * commutes with the filter because keyCols include the leading key
    * (enforced in the constructor).
    */
  def rangeScan(lo: Any, hi: Any): DataFrame =
    collapse(scanPruned(Some(lo), Some(hi))
      .filter(col(leadKey) >= lit(lo) && col(leadKey) <= lit(hi)))

  /** ClickHouse `SAMPLE k` (0 < k < 1): the deterministic slice of the
    * table whose sampling value falls below k·2³² — every row of a
    * sampling key lands in or out TOGETHER (consistent across queries and
    * re-runs, the property `TABLESAMPLE`/`rand()` cannot give), and two
    * samples with k₁ < k₂ nest. With a declared `sampleBy` column LEADING
    * the ORDER BY, the slice is a lead-key range: whole parts prune
    * driver-side (`lastPruning` reports it) and row groups prune from
    * footer stats — the storage-level sampling that makes interactive
    * exploration of a 100 TB table cost k·100 TB. Without `sampleBy`, an
    * md5 slice of the lead key gives the same semantics but reads every
    * granule (row-level filter only). SQL face: `SELECT … FROM t SAMPLE
    * 0.1` (GraftSqlParser rewrite, same predicate).
    */
  def sampleScan(k: Double): DataFrame = sampleScan(k, 0.0)

  /** `SAMPLE k OFFSET m` (ClickHouse): the slice [m·2³², (m+k)·2³²) —
    * disjoint offsets give DISJOINT, deterministic subsets of the same
    * table (the train/test split a data pipeline wants: `SAMPLE 0.9` for
    * training, `SAMPLE 0.1 OFFSET 0.9` for eval, no row in both, every
    * row in one).
    */
  def sampleScan(k: Double, offset: Double): DataFrame = {
    require(k > 0 && k <= 1 && offset >= 0 && offset + k <= 1 + 1e-12,
      s"SAMPLE needs 0 < k, 0 <= offset, offset + k <= 1; got k=$k offset=$offset")
    val lo = ColumnarMergeTree.sampleThreshold(offset)
    val hi = ColumnarMergeTree.sampleThreshold(offset + k)
    sampleBy match {
      case Some(c) if c == leadKey =>
        // inclusive range [lo, hi-1] ≡ `lo <= c < hi` on integral values;
        // drives the same part pruning + pushed filter as rangeScan
        collapse(scanPruned(Some(lo), Some(hi - 1))
          .filter(col(c) >= lit(lo) && col(c) < lit(hi)))
      case Some(c) =>
        scan().filter(col(c) >= lit(lo) && col(c) < lit(hi))
      case None =>
        scan().filter(expr(ColumnarMergeTree.md5SlicePredicate(leadKey, k, offset)))
    }
  }

  /** Range scan on a minmax skip-index column (ClickHouse `minmax` index,
    * part-level): parts whose recorded [min, max] for `column` is disjoint
    * from [lo, hi] are dropped DRIVER-SIDE from the manifest — no footer
    * read, no task — then the predicate is applied in the plan as usual
    * (pushed to parquet, which prunes row groups within surviving parts).
    * Parts without bounds for the column (pre-index parts, incomplete
    * footer stats) are always read — pruning is an optimization, never a
    * correctness dependency. `lastPruning` reports (planned, total).
    *
    * Collapse caveat: for non-Plain modes a version of a key may live in a
    * pruned part, so the collapse here runs over the SURVIVING parts only
    * and the filter is applied before it — same contract as ClickHouse,
    * where a skip-index read is a raw-parts optimization and FINAL +
    * skip-index filter on an unrelated column is the user's bet that the
    * filter column is stable across versions of a key.
    */
  def scanWhere(column: String, lo: Any, hi: Any): DataFrame = {
    require(schema.fieldNames.contains(column), s"no column '$column'")
    refresh()
    val live = manifest.parts
    val surviving = live.filter(_.colAllows(column, lo, hi))
    lastPruning = (surviving.size, live.size)
    collapse(readParts(surviving)
      .filter(col(column) >= lit(lo) && col(column) <= lit(hi)))
  }

  /** Scan restricted to the given partition values: every part outside the
    * requested partitions is pruned from the manifest before any file I/O —
    * the whole point of PARTITION BY at 100 TB. Requires a partitioned
    * table. Values are the string form of the partition expression
    * (NullPartition for SQL NULL).
    */
  def scanPartitions(values: Seq[String]): DataFrame = {
    require(partitionBy.nonEmpty, "scanPartitions on an unpartitioned table")
    refresh() // see parts landed by the connector / another instance
    val wanted = values.toSet
    val live = manifest.parts
    val surviving = live.filter(_.partition.exists(wanted))
    lastPruning = (surviving.size, live.size)
    collapse(readParts(surviving))
  }

  /** Distinct partition values currently present (manifest-only). */
  def partitions: Seq[String] = manifest.parts.flatMap(_.partition).distinct.sorted

  /** Snapshot ids available for time travel, oldest first (one per
    * committed manifest state, last 64 kept).
    */
  def snapshots: Seq[Long] = SnapshotLog.list(path)

  /** Read the table AS OF snapshot `seq` (time travel): plans against the
    * manifest committed then. Readable as long as the parts that manifest
    * lists still exist — parts retired since stay on disk for
    * gcGraceSeconds, so the grace window IS the time-travel horizon; a
    * snapshot whose parts were purged fails loudly, never partially.
    */
  def scanAt(seq: Long): DataFrame = {
    val m = SnapshotLog.load(path, seq).getOrElse(throw new IllegalArgumentException(
      s"no snapshot $seq (available: ${snapshots.mkString(",")})"))
    val missing = m.parts.filterNot(p =>
      Files.exists(Paths.get(s"$path/${p.dir}")))
    require(missing.isEmpty,
      s"snapshot $seq is no longer readable: parts " +
        s"${missing.map(_.partId).mkString(",")} were purged (GC grace passed)")
    collapse(readParts(m.parts))
  }

  /** Snapshot `seq`'s part list, loaded and validated ONCE — `None` when
    * the snapshot is gone from the log or any of its parts was purged. A
    * caller issuing several pinned range scans (the inverted index scans
    * one bucket per query term) resolves the pinned-vs-live decision here
    * a single time, so one search can never mix two corpus states across
    * buckets — and pays one snapshot parse + one existence sweep per
    * search instead of one per bucket.
    */
  def snapshotPartsOption(seq: Long): Option[Seq[GPartMeta]] =
    SnapshotLog.load(path, seq).map(_.parts)
      .filter(_.forall(p => Files.exists(Paths.get(s"$path/${p.dir}"))))

  /** [[rangeScan]] over an explicit part list (from
    * [[snapshotPartsOption]]): same driver-side lead-key pruning as the
    * live scan, planned against the pinned parts.
    */
  def rangeScanOf(parts: Seq[GPartMeta], lo: Any, hi: Any): DataFrame = {
    val surviving = parts.filter(_.overlaps(lo, hi))
    lastPruning = (surviving.size, parts.size)
    collapse(readParts(surviving)
      .filter(col(leadKey) >= lit(lo) && col(leadKey) <= lit(hi)))
  }

  /** The small-input serve of the lead-key ranges `rangeSets` (see
    * `MergeTreeConfig.localScanMaxRows`): the rows of the parts they
    * overlap, read on the driver through the DSv2 scan's columnar reader,
    * every file of every part once and in parallel, and returned per range
    * set as the rows in the set's ranges ([[rangeScan]]'s row-level
    * filter, evaluated here) — no Dataset is planned. A row's first fields
    * are `columns` in order; the lead key may follow. `parts` None reads
    * the live manifest (refreshed, like the scans); Some is a pinned list
    * from [[snapshotPartsOption]].
    *
    * None — the caller plans the distributed scan — unless the table is
    * Plain (no merge-on-read collapse to replay), no part to read has
    * pending lightweight mutations, and the parts each range set overlaps,
    * summed over the sets, hold at most localScanMaxRows manifest rows and
    * at most `spark.sql.files.openCostInBytes` of manifest `diskSize`.
    * The row count was sized for KV rows; the byte bound makes wide rows
    * (vectors) count for what they weigh. It is Spark's own estimate of
    * the bytes a scan reads in the time one file open takes, and a
    * distributed search pays at least a job launch, which costs more than
    * a file open. A set is one consumer of the rows (an IVF query scores
    * every row of its probed lists), so a part two sets overlap counts
    * twice but is read once. Nothing is cached.
    */
  private[graft] def localRangeScan(parts: Option[Seq[GPartMeta]],
      rangeSets: Seq[Seq[(Any, Any)]],
      columns: Seq[String]): Option[Seq[Seq[org.apache.spark.sql.catalyst.InternalRow]]] = {
    if (mode != MergeMode.Plain || config.localScanMaxRows <= 0) return None
    val all = parts.getOrElse { refresh(); manifest.parts }
    def overlapping(ranges: Seq[(Any, Any)]) =
      all.filter(p => ranges.exists { case (l, h) => p.overlaps(l, h) })
    val setParts = rangeSets.map(overlapping)
    val ranges = rangeSets.flatten.distinct
    val surviving = overlapping(ranges)
    lastPruning = (surviving.size, all.size)
    if (!config.fitsLocalRead(spark, setParts.map(_.map(_.rowCount).sum).sum,
          setParts.map(_.map(_.diskSize).sum).sum) ||
        surviving.exists(_.muts.nonEmpty)) return None
    val read = StructType((columns :+ leadKey).distinct.map(schema(_).copy(nullable = true)))
    val files = surviving.flatMap { p =>
      // Row-group skip on the ranges this part overlaps (an OR of them),
      // when every one compiles to a parquet predicate.
      val preds = ranges.filter { case (l, h) => p.overlaps(l, h) }.map { case (l, h) =>
        graft.sources.GenericReaderFactory.rangePredicate(
          leadKey, schema(leadKey).dataType, Some(l), Some(h))
      }
      val filter =
        if (preds.exists(_.isEmpty)) None
        else preds.flatten.reduceOption(org.apache.parquet.filter2.predicate.FilterApi.or(_, _))
      PartStats.parquetFiles(Paths.get(path, p.dir)).map(f => (p.partId, f.toString, filter))
    }
    val fileRows = DriverPool.inParallel(files) { case (_, file, filter) =>
      val toRow = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(read)
      val reader = new graft.sources.ChainedColumnarReader(Array(file), read, filter)
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.catalyst.InternalRow]
      try while (reader.next()) reader.get().rowIterator().asScala.foreach(r => out += toRow(r).copy())
      finally reader.close()
      out
    }
    val rowsOf = files.map(_._1).zip(fileRows).groupMap(_._1)(_._2)
    // One predicate per distinct range, `leadKey >= lo AND leadKey <= hi`;
    // a row is in a set when one of the set's predicates is true (the OR's
    // SQL semantics: a NULL key is in no set). A row can only match a range
    // its part overlaps, so only those are tried.
    val inRange = ranges.zip(org.apache.spark.sql.graft.ColumnBridge.bound(spark, read,
      ranges.map { case (l, h) => col(leadKey) >= lit(l) && col(leadKey) <= lit(h) }: _*)).toMap
    Some(rangeSets.zip(setParts).map { case (set, ps) =>
      ps.flatMap { p =>
        val preds = set.filter { case (l, h) => p.overlaps(l, h) }.distinct.map(inRange)
        rowsOf.getOrElse(p.partId, Nil).flatten.filter(r => preds.exists(_.eval(r) == true))
      }
    })
  }

  /** ClickHouse `SELECT … SAMPLE k`: a deterministic pseudo-random subset —
    * rows whose 64-bit hash of the ORDER BY key columns falls in the first
    * `num/den` of the hash space. Deterministic across runs, parts, merges,
    * and engines reading the same rows (xxhash64 of the key, not of
    * physical position), and composable: SAMPLE 1/4 ⊂ SAMPLE 1/2, like
    * ClickHouse's sampling-key contract. Evaluated in the scan (codegen
    * hash + compare), so it composes with part pruning and the collapse.
    */
  def sampleScan(num: Long, den: Long): DataFrame = {
    require(num >= 0 && den > 0 && num <= den, s"bad sample fraction $num/$den")
    if (num == den) return scan()
    scan().filter(ColumnarMergeTree.samplePredicate(orderBy, num, den))
  }

  /** ClickHouse `SELECT … SAMPLE n` (absolute form): approximately n rows
    * via the SAME hash predicate, the fraction derived from the manifest
    * row count — metadata only, no counting scan. Keeps sampleScan's
    * determinism and subset-composability (a larger n is a superset of a
    * smaller one); n ≥ totalRows degenerates to the full scan. The yield
    * is approximate exactly like ClickHouse's (hash uniformity, not an
    * exact limit — a LIMIT would break determinism under parallelism).
    */
  def sampleScanRows(n: Long): DataFrame = {
    require(n >= 0, s"bad sample size $n")
    if (n == 0L) return scan().limit(0) // max(1, ...) below would keep ~total/2^20 rows
    refresh()
    val total = totalRows
    if (total == 0L || n >= total) return scan()
    val den = 1L << 20
    // BigInt: n * den overflows Long for n > ~8.8e12 requested rows —
    // trillion-row asks are real at 100 TB. Driver-side, once per call.
    sampleScan(math.max(1L, (BigInt(n) * den / total).toLong), den)
  }

  /** ClickHouse ALTER TABLE ... DROP PARTITION: every part belonging to the
    * partition is unlinked from the manifest in one atomic swap — no data
    * file is read or rewritten, which is why partition-aligned retention
    * (drop last month) is O(manifest) instead of O(data) like deleteWhere.
    * Returns the number of rows dropped.
    */
  /** ClickHouse `TRUNCATE TABLE`: drop every live part in ONE manifest
    * swap — O(manifest), no data rewrite, schema/indexes/tabledef kept.
    * Retired parts go through the reader-grace GC like every maintenance
    * op, so in-flight scans keep their inputs.
    */
  def truncate(): Long = maintenanceLock.synchronized {
    var gone = Seq.empty[GPartMeta]
    lock.synchronized {
      manifest = GManifest.update(path) { cur =>
        gone = cur.parts
        GManifest(cur.version, Nil)
      }
    }
    retireParts(gone)
    gone.map(_.rowCount).sum
  }

  def dropPartition(value: String): Long = maintenanceLock.synchronized {
    require(partitionBy.nonEmpty, "dropPartition on an unpartitioned table")
    // Victims are selected by partition VALUE inside the RMW itself: a
    // concurrent merge may have replaced this partition's parts with new
    // ids since any pre-read — an id-based filter would miss the merged
    // part and the "dropped" rows would survive.
    var gone = Seq.empty[GPartMeta]
    lock.synchronized {
      manifest = GManifest.update(path) { cur =>
        gone = cur.parts.filter(_.partition.contains(value))
        GManifest(cur.version, cur.parts.filterNot(_.partition.contains(value)))
      }
    }
    retireParts(gone)
    gone.map(_.rowCount).sum
  }

  // -------------------------------------------------------- reader-safe GC

  /** Unlink-then-delete with a reader grace window: parts replaced by a
    * maintenance op are recorded in a persisted GC list instead of deleted
    * inline, so a scan planned against the pre-op manifest keeps its input
    * files until gcGraceSeconds pass; each maintenance op purges whatever
    * has expired. gcGraceSeconds=0 keeps the old eager behavior (purge
    * happens in the same op that retired the parts).
    */
  private def retireParts(gone: Iterable[GPartMeta]): Unit = {
    if (gone.isEmpty) return
    gone.foreach(p => leadPointsCache.remove(p.partId))
    val now = System.currentTimeMillis()
    GcList.update(path)(cur =>
      GcList(cur.retired ++ gone.map(p => GcEntry(p.partId, now, p.dirName))))
    purgeGc()
  }

  /** Release intent entries once their dirs are published (manifest),
    * retired (GC list), or deleted — one batched RMW per maintenance op.
    */
  private def intentDrop(dirs: Seq[String]): Unit =
    if (dirs.nonEmpty) {
      val gone = dirs.toSet
      IntentSet.update(path)(cur =>
        IntentSet(cur.staged.filterNot(e => gone(e.dir))))
    }

  /** Delete retired part directories whose grace has expired; `force` drops
    * all of them regardless of age (table teardown). Returns dirs deleted.
    *
    * Dirs are deleted BEFORE their entries leave the persisted list: a crash
    * between the two just leaves already-deleted entries behind, and
    * deleteRecursively is idempotent so the next purge unlinks them no-op.
    * The reverse order would leak the dirs permanently (no record left).
    *
    * Each purge also sweeps ORPHANED part directories: dirs on disk that no
    * manifest entry, GC entry, or detached part references — a writer that
    * died between staging-rename and manifest publish (log-mode uuid claim,
    * or a maintenance output that never swapped in) leaves exactly this.
    * Orphans are deleted only past a conservative age floor (≥ 10 min AND
    * the table's grace window, even under `force`), so an IN-FLIGHT
    * maintenance op's just-written unregistered outputs are never swept.
    * The same sweep, under the same floor, deletes the temp siblings of
    * torn metadata publishes in the table root and `snapshots/`
    * ([[MetaFiles.sweepTemps]]); they are not counted in the result.
    */
  def purgeGc(force: Boolean = false): Int = {
    val cutoff = System.currentTimeMillis() - config.gcGraceSeconds * 1000L
    val victims = GcList.load(path).retired.filter(e => force || e.retiredAt <= cutoff)
    victims.foreach(e =>
      MergeTreeTable.deleteRecursively(Paths.get(s"$path/${e.dir}")))
    if (victims.nonEmpty) {
      val gone = victims.map(_.partId).toSet
      GcList.update(path)(cur => GcList(cur.retired.filterNot(e => gone(e.partId))))
    }
    victims.size + purgeOrphans(force)
  }

  /** See purgeGc: delete aged part dirs referenced by nothing persisted.
    *
    * "Referenced" includes every part of every RETAINED SNAPSHOT, not just
    * the live manifest: a part unlinked by the latest commit but not yet
    * recorded in the GC list (the instant between swapParts' publish and
    * retireParts' GcList append) is still listed in the previous snapshot,
    * so a concurrent purger cannot bypass the grace window — and parts a
    * scanAt within the time-travel horizon may still read are protected
    * for the same reason. The age check uses the NEWEST mtime of the dir
    * and its immediate children (a long distributed write keeps bumping
    * its `_temporary` subtree; the top-level stage-dir mtime alone is
    * frozen at job start). Sweeps are throttled to one per table per
    * minute — they list the table dir and read the retained snapshots,
    * which must not tax every small maintenance op (retireParts calls
    * purgeGc on each).
    */
  private def purgeOrphans(force: Boolean): Int = {
    val now = System.currentTimeMillis()
    val proceed = force || ColumnarMergeTree.orphanSweepAt.synchronized {
      val last = ColumnarMergeTree.orphanSweepAt.getOrElse(path, 0L)
      if (now - last < 60000L) false
      else { ColumnarMergeTree.orphanSweepAt.put(path, now); true }
    }
    if (!proceed) return 0
    val floorMs = math.max(600L, config.gcGraceSeconds.toLong) * 1000L
    val cutoff = now - floorMs
    // Torn metadata publishes (root records and snapshots); not counted.
    Seq(Paths.get(path), Paths.get(path, "snapshots"))
      .foreach(MetaFiles.sweepTemps(_, cutoff))
    val snapshotParts = SnapshotLog.list(path).flatMap(seq =>
      SnapshotLog.load(path, seq).map(_.parts.map(_.dir)).getOrElse(Nil))
    // In-flight maintenance outputs (register=false, pre-swap) are
    // protected by the persisted intent set regardless of age — the mtime
    // floor alone can't cover a rewrite whose stage-to-swap gap exceeds it
    // (a concurrent purger in ANOTHER process isn't throttled by our
    // per-JVM sweep map). Entries past IntentTtlMs belong to a crashed op:
    // they stop protecting and are pruned, as are entries whose dir is
    // already gone (the op's own drop lost a race or crashed mid-cleanup).
    val intents = IntentSet.load(path).staged
    val liveIntents = intents.filter(_.createdAt > now - ColumnarMergeTree.IntentTtlMs)
    val staleIntents = intents.filterNot(liveIntents.contains).map(_.dir) ++
      liveIntents.filterNot(e => Files.exists(Paths.get(path, e.dir))).map(_.dir)
    if (staleIntents.nonEmpty) {
      val gone = staleIntents.toSet
      IntentSet.update(path)(cur =>
        IntentSet(cur.staged.filterNot(e => gone(e.dir))))
    }
    val referenced: Set[String] =
      (GManifest.load(path).map(_.parts).getOrElse(Nil).map(_.dir) ++
        GcList.load(path).retired.map(_.dir) ++
        DetachedSet.load(path).map(_.dir) ++ snapshotParts ++
        liveIntents.map(_.dir)).toSet
    // `.part_stage_*` covers the other crash window: a writer dying
    // between the distributed write and the staging rename.
    val dirs = try {
      val s = Files.list(Paths.get(path))
      try s.iterator().asScala.filter { d =>
        val n = d.getFileName.toString
        Files.isDirectory(d) && (n.startsWith("part_") || n.startsWith(".part_stage_"))
      }.toList
      finally s.close()
    } catch {
      // Entries vanishing under a concurrent purger surface as
      // UncheckedIOException from the stream iterator — skip this sweep
      // rather than fail the maintenance op that triggered it.
      case _: java.io.IOException => Nil
      case _: java.io.UncheckedIOException => Nil
    }
    // RECURSIVE newest mtime: Spark's FileOutputCommitter does its task
    // activity several levels deep (stage/_temporary/0/_temporary/
    // attempt_*/…), so a shallow check would see an in-flight write's
    // top levels frozen at job start and sweep a LIVE staging dir. An
    // unreadable entry reads as "active" (Long.MaxValue) — never swept.
    // The walk's ITERATOR throws UncheckedIOException (not IOException)
    // when an entry vanishes mid-iteration — e.g. a concurrent purger
    // deleting the same orphan. Treat both as "active" (never swept); an
    // escape here would fail the calling maintenance op AFTER its manifest
    // commit already succeeded.
    def newestMtime(d: java.nio.file.Path): Long =
      try {
        val s = Files.walk(d)
        try s.iterator().asScala
          .map(c => try Files.getLastModifiedTime(c).toMillis
                    catch {
                      case _: java.io.IOException => Long.MaxValue
                      case _: java.io.UncheckedIOException => Long.MaxValue
                    })
          .foldLeft(0L)(math.max)
        finally s.close()
      } catch {
        case _: java.io.IOException => Long.MaxValue
        case _: java.io.UncheckedIOException => Long.MaxValue
      }
    val orphans = dirs.filter(d =>
      !referenced(d.getFileName.toString) && newestMtime(d) <= cutoff)
    // Same rationale per-delete: losing a delete race to another purger
    // must not fail this op.
    orphans.foreach(d =>
      try MergeTreeTable.deleteRecursively(d)
      catch {
        case _: java.io.IOException => ()
        case _: java.io.UncheckedIOException => ()
      })
    orphans.size
  }

  /** Part ids retired but not yet purged — diagnostic/test hook. */
  def gcPending: Seq[Long] = GcList.load(path).retired.map(_.partId)

  /** Apply the table's merge semantics to a row set (see
    * ColumnarMergeTree.applyMode).
    */
  private def collapse(df: DataFrame): DataFrame =
    ColumnarMergeTree.applyMode(df, schema, mode, partitionBy)

  private def partitionValueExpr(p: String): Column =
    ColumnarMergeTree.partitionValueExpr(p)

  private def scanPruned(lo: Option[Any], hi: Option[Any]): DataFrame = {
    refresh() // scan()/rangeScan() see connector-landed parts, like scanPartitions
    val live = manifest.parts
    val surviving = (lo, hi) match {
      case (Some(l), Some(h)) => live.filter(_.overlaps(l, h))
      case _                  => live
    }
    lastPruning = (surviving.size, live.size)
    readParts(surviving)
  }

  /** Build the tokenbf sidecars for a freshly-staged part: one distributed
    * distinct-token pass per indexed column, bits written INTO the stage dir
    * so the manifest claim carries data + index atomically (underscore
    * files are invisible to parquet reads). Sized for ~100k distinct tokens
    * at 1% fpp (~120 KB/part/column): real-text parts hold vocabularies,
    * not token streams, and a saturated bloom only costs pruning, never
    * correctness.
    */
  private def buildTokenBlooms(stage: java.nio.file.Path): Unit =
    buildTokenBlooms(stage, config.tokenBloomColumns)

  private def buildTokenBlooms(dir: java.nio.file.Path, cols: Seq[String]): Unit =
    cols.foreach { c =>
      require(schema.fieldNames.contains(c), s"tokenBloomColumns: unknown column $c")
      val toks = spark.read.schema(schema).parquet(dir.toString)
        .select(explode(split(col(c).cast("string"),
          ColumnarMergeTree.TokenSplitRe)).as("tok"))
        .filter(length(col("tok")) > 0)
      val bf = toks.stat.bloomFilter("tok",
        ColumnarMergeTree.TokenBloomExpectedTokens, ColumnarMergeTree.TokenBloomFpp)
      val bytes = new java.io.ByteArrayOutputStream()
      bf.writeTo(bytes)
      MetaFiles.publish(dir.resolve(s"_tokenbf_$c"), bytes.toByteArray)
    }

  /** Build the ngrambf sidecars for a freshly-staged part: one distributed
    * pass per indexed column collecting character 3-grams, bits written
    * into the stage dir so the manifest claim carries data + index
    * atomically (same contract as the tokenbf sidecar). Rows shorter than
    * 3 chars contribute their whole (short) value — harmless extra bits,
    * and probes never ask about them (needles < 3 chars full-scan).
    */
  private def buildNgramBlooms(stage: java.nio.file.Path): Unit =
    buildNgramBlooms(stage, config.ngramBloomColumns)

  private def buildNgramBlooms(dir: java.nio.file.Path, cols: Seq[String]): Unit =
    cols.foreach { c =>
      require(schema.fieldNames.contains(c), s"ngramBloomColumns: unknown column $c")
      val str = col(c).cast("string")
      val grams = transform(
        sequence(lit(1), greatest(lit(1), length(str) - lit(ColumnarMergeTree.NgramSize - 1))),
        i => str.substr(i, lit(ColumnarMergeTree.NgramSize)))
      val g = spark.read.schema(schema).parquet(dir.toString)
        .select(explode(grams).as("g"))
        .filter(length(col("g")) > 0)
      val bf = g.stat.bloomFilter("g",
        ColumnarMergeTree.NgramBloomExpectedNgrams, ColumnarMergeTree.NgramBloomFpp)
      val bytes = new java.io.ByteArrayOutputStream()
      bf.writeTo(bytes)
      MetaFiles.publish(dir.resolve(s"_ngrambf_$c"), bytes.toByteArray)
    }

  /** Build the set(N) sidecars for a freshly-staged part: one distributed
    * distinct pass per indexed column; ≤ [[ColumnarMergeTree.SetIndexMaxValues]]
    * distinct non-null values are persisted (canonical cast-to-string
    * form — the probe encodes its values identically), more records a
    * SATURATED sidecar that never prunes (ClickHouse set(max_rows)
    * overflow). Only integral/string/boolean columns are eligible — their
    * string form is unambiguous; a float's is not ("1.0" vs "1") and an
    * equality probe on one is a smell anyway. NULLs are excluded: an
    * equality/IN probe never matches NULL, so a part of only NULLs is
    * correctly prunable via its (empty) set.
    */
  private def buildSetIndexes(stage: java.nio.file.Path): Unit =
    buildSetIndexes(stage, config.setIndexColumns)

  private def buildSetIndexes(dir: java.nio.file.Path, cols: Seq[String]): Unit =
    cols.foreach { c =>
      require(schema.fieldNames.contains(c), s"setIndexColumns: unknown column $c")
      if (ColumnarMergeTree.setIndexEligible(schema(c).dataType)) {
        val cap = ColumnarMergeTree.SetIndexMaxValues
        val vals = spark.read.schema(schema).parquet(dir.toString)
          .select(col(c).cast("string").as("v"))
          .filter(col("v").isNotNull)
          .distinct().limit(cap + 1)
          .collect().map(_.getString(0))
        val payload =
          if (vals.length > cap) """{"saturated":true}"""
          else {
            import org.json4s.DefaultFormats
            import org.json4s.jackson.Serialization
            Serialization.write(Map("values" -> vals.sorted.toList))(DefaultFormats)
          }
        MetaFiles.publish(dir.resolve(s"_set_$c"), payload)
      }
    }

  /** Build the per-part HLL `uniq` sidecars: one distributed hash+aggregate
    * pass per listed column over the freshly-staged files, 2 KB of
    * registers written into the stage dir so the manifest claim carries
    * data + sketch atomically. NULLs don't count (count-distinct
    * semantics); an empty part writes all-zero registers (estimate 0).
    */
  private def buildHllSketches(stage: java.nio.file.Path): Unit =
    config.hllColumns.foreach { c =>
      require(schema.fieldNames.contains(c), s"hllColumns: unknown column $c")
      val agg = udaf(new graft.functions.HllAggregator)
      val regs = spark.read.schema(schema).parquet(stage.toString)
        .filter(col(c).isNotNull)
        .select(xxhash64(col(c)).as("h"))
        .agg(agg(col("h")).as("regs"))
        .head().getAs[Array[Byte]](0)
      Files.write(stage.resolve(s"_hll_$c"), regs)
    }

  /** Build the per-part SpaceSaving top-K sidecars: one distributed
    * aggregate per listed column (k = capacity, so the FULL summary is
    * emitted), persisted as a JSON term→count map. The summary is
    * mergeable (Agarwal et al. 2012), which is what makes the driver-side
    * fold in [[approxTopK]] legitimate.
    */
  private def buildTopKSketches(stage: java.nio.file.Path): Unit =
    config.topKColumns.foreach { c =>
      require(schema.fieldNames.contains(c), s"topKColumns: unknown column $c")
      val cap = ColumnarMergeTree.TopKSidecarCapacity
      val agg = udaf(new graft.functions.TopKAggregator(cap, cap))
      val rows = spark.read.schema(schema).parquet(stage.toString)
        .select(col(c).cast("string").as("t"))
        .agg(agg(col("t")).as("s"))
        .selectExpr("inline(s)")
        .collect() // ≤ capacity rows by construction
      val m: Map[String, Long] =
        rows.iterator.map(r => r.getString(0) -> r.getLong(1)).toMap
      import org.json4s.DefaultFormats
      import org.json4s.jackson.Serialization
      Files.write(stage.resolve(s"_topk_$c"),
        Serialization.write(m)(DefaultFormats).getBytes("UTF-8"))
    }

  /** Table-wide approximate heavy hitters for `column` from the per-part
    * sidecars: O(manifest) driver-side summary merges, ZERO data I/O for
    * covered parts; sidecar-less parts are summarized on the fly (scan
    * bounded to exactly those parts) and heal on the next merge. Exact in
    * the no-eviction regime (per-part distinct ≤ 4096), SpaceSaving
    * guarantees otherwise. Counts stored rows, pre-FINAL-collapse.
    */
  def approxTopK(column: String, k: Int): Seq[(String, Long)] = {
    require(config.topKColumns.contains(column),
      s"approxTopK: '$column' is not in topKColumns ${config.topKColumns}")
    require(k > 0 && k <= ColumnarMergeTree.TopKSidecarCapacity,
      s"approxTopK: need 0 < k <= ${ColumnarMergeTree.TopKSidecarCapacity}")
    refresh()
    val cap = ColumnarMergeTree.TopKSidecarCapacity
    val agg = new graft.functions.TopKAggregator(k, cap)
    import org.json4s.DefaultFormats
    import org.json4s.jackson.JsonMethods
    implicit val fmts: org.json4s.Formats = DefaultFormats
    var state = agg.zero
    val uncovered = manifest.parts.filter { p =>
      val f = Paths.get(path, p.dir, s"_topk_$column")
      if (Files.exists(f)) {
        val m = JsonMethods.parse(new String(Files.readAllBytes(f), "UTF-8"))
          .extract[Map[String, Long]]
        state = agg.merge(state, graft.functions.TopKState(m))
        false
      } else true
    }
    if (uncovered.nonEmpty) {
      val dagg = udaf(new graft.functions.TopKAggregator(cap, cap))
      val rows = readParts(uncovered)
        .select(col(column).cast("string").as("t"))
        .agg(dagg(col("t")).as("s"))
        .selectExpr("inline(s)")
        .collect()
      state = agg.merge(state,
        graft.functions.TopKState(
          rows.iterator.map(r => r.getString(0) -> r.getLong(1)).toMap))
    }
    agg.finish(state).map(tc => tc.term -> tc.cnt)
  }

  /** Build the per-part quantile sidecars: one percentile_approx aggregate
    * per listed numeric column over the freshly-staged files — 257
    * order-statistic knots (i/256) + the non-null count, persisted as
    * JSON. Knots of different parts pool as a weighted empirical
    * distribution, which is what makes the driver-side quantile in
    * [[approxQuantiles]] legitimate.
    */
  private def buildQuantileSketches(stage: java.nio.file.Path): Unit =
    config.quantileColumns.foreach { c =>
      require(schema.fieldNames.contains(c), s"quantileColumns: unknown column $c")
      val probs = ColumnarMergeTree.QuantileKnots
      val r = spark.read.schema(schema).parquet(stage.toString)
        .agg(
          count(col(c)).as("n"),
          percentile_approx(col(c).cast("double"), typedLit(probs), lit(10000)).as("qs"))
        .head()
      val n = r.getLong(0)
      val qs: Seq[Double] =
        if (n == 0L || r.isNullAt(1)) Nil else r.getSeq[Double](1)
      import org.json4s.DefaultFormats
      import org.json4s.jackson.Serialization
      Files.write(stage.resolve(s"_quant_$c"),
        Serialization.write(Map("n" -> n, "qs" -> qs))(DefaultFormats)
          .getBytes("UTF-8"))
    }

  /** Table-wide approximate quantiles of `column` from the per-part
    * sidecars: each part contributes its 257 knots weighted n/257, the
    * pooled distribution is sorted once driver-side and walked for the
    * requested probabilities — O(manifest) work, ZERO data I/O for covered
    * parts; sidecar-less parts are summarized on the fly (scan bounded to
    * exactly those parts) and heal on the next merge. Rank error ≤ ~0.4%
    * per part (knot spacing) + 10⁻⁴ (percentile_approx accuracy). Values
    * are stored rows, pre-FINAL-collapse.
    */
  def approxQuantiles(column: String, probs: Seq[Double]): Seq[Double] = {
    require(config.quantileColumns.contains(column),
      s"approxQuantiles: '$column' is not in quantileColumns ${config.quantileColumns}")
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"approxQuantiles: probabilities must be in [0, 1]: $probs")
    refresh()
    import org.json4s.DefaultFormats
    import org.json4s.jackson.JsonMethods
    implicit val fmts: org.json4s.Formats = DefaultFormats
    val pooled = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val uncovered = manifest.parts.filter { p =>
      val f = Paths.get(path, p.dir, s"_quant_$column")
      if (Files.exists(f)) {
        val j = JsonMethods.parse(new String(Files.readAllBytes(f), "UTF-8"))
        val n = (j \ "n").extract[Long]
        val qs = (j \ "qs").extract[Seq[Double]]
        if (n > 0 && qs.nonEmpty)
          pooled ++= qs.map(v => v -> n.toDouble / qs.length)
        false
      } else true
    }
    if (uncovered.nonEmpty) {
      val r = readParts(uncovered)
        .agg(
          count(col(column)).as("n"),
          percentile_approx(col(column).cast("double"),
            typedLit(ColumnarMergeTree.QuantileKnots), lit(10000)).as("qs"))
        .head()
      if (r.getLong(0) > 0 && !r.isNullAt(1)) {
        val qs = r.getSeq[Double](1)
        pooled ++= qs.map(v => v -> r.getLong(0).toDouble / qs.length)
      }
    }
    require(pooled.nonEmpty, s"approxQuantiles: no non-null values for '$column'")
    val sorted = pooled.sortBy(_._1)
    val total = sorted.iterator.map(_._2).sum
    probs.map { p =>
      val target = p * total
      var cum = 0.0
      var i = 0
      while (i < sorted.length - 1 && cum + sorted(i)._2 < target) {
        cum += sorted(i)._2
        i += 1
      }
      sorted(i)._1
    }
  }

  /** Table-wide approximate distinct count of `column`, answered from the
    * per-part HLL sidecars: O(manifest) driver-side register merges, ZERO
    * data I/O for parts carrying the sketch. Parts written before the
    * sketch was declared (no sidecar) are sketched on the fly — a scan
    * bounded to exactly those parts — so the answer is always over the
    * whole table and the next merge rewrites them with sidecars. Estimates
    * stored rows (pre-FINAL-collapse), ~2.3% standard error (2048
    * registers). The 100 TB path for "how many distinct X": metadata
    * reads, not a corpus scan + shuffle.
    */
  def approxDistinct(column: String): Long = {
    require(config.hllColumns.contains(column),
      s"approxDistinct: '$column' is not in hllColumns ${config.hllColumns}")
    refresh()
    val live = manifest.parts
    val merged = graft.functions.HllSketch.empty
    val uncovered = live.filter { p =>
      val f = Paths.get(path, p.dir, s"_hll_$column")
      if (Files.exists(f)) {
        graft.functions.HllSketch.mergeInto(merged, Files.readAllBytes(f))
        false
      } else true
    }
    if (uncovered.nonEmpty) {
      val agg = udaf(new graft.functions.HllAggregator)
      val regs = readParts(uncovered)
        .filter(col(column).isNotNull)
        .select(xxhash64(col(column)).as("h"))
        .agg(agg(col("h")).as("regs"))
        .head().getAs[Array[Byte]](0)
      graft.functions.HllSketch.mergeInto(merged, regs)
    }
    graft.functions.HllSketch.estimate(merged)
  }

  /** Parts whose ngram bloom may contain EVERY 3-gram of `needle` — a part
    * missing any one of them cannot contain the substring. Sidecar-less
    * parts are kept (index accelerates, never filters).
    */
  private[graft] def ngramBloomParts(column: String, needle: String): Seq[GPartMeta] = {
    val probes = needle.sliding(ColumnarMergeTree.NgramSize)
      .filter(_.length == ColumnarMergeTree.NgramSize).toSet
    refresh()
    manifest.parts.filter { p =>
      ColumnarMergeTree.loadBloom(Paths.get(path, p.dir, s"_ngrambf_$column"))
        .forall(bf => probes.forall(bf.mightContainString))
    }
  }

  /** `contains(column, needle)` scan: ClickHouse's ngrambf-indexed
    * substring search. Probes each live part's 3-gram bloom DRIVER-SIDE
    * (all of the needle's 3-grams must be present for a part to survive),
    * then applies the exact substring residual. Needles under 3 chars have
    * no complete 3-gram to probe and scan everything — the index can only
    * ever accelerate.
    */
  def scanContains(column: String, needle: String): DataFrame = {
    require(needle.nonEmpty, "contains: empty needle")
    val live = { refresh(); manifest.parts }
    val surviving =
      if (needle.length < ColumnarMergeTree.NgramSize) live
      else ngramBloomParts(column, needle)
    lastPruning = (surviving.size, live.size)
    collapse(readParts(surviving))
      .filter(col(column).cast("string").contains(needle))
  }

  /** Parts whose token bloom may contain `token` — the sidecar probe behind
    * [[scanHasToken]]. Parts without a sidecar (written before the index
    * was declared) are kept: the index accelerates, never filters.
    */
  private[graft] def tokenBloomParts(column: String, token: String): Seq[GPartMeta] = {
    refresh()
    manifest.parts.filter { p =>
      ColumnarMergeTree.loadBloom(Paths.get(path, p.dir, s"_tokenbf_$column"))
        .forall(_.mightContainString(token))
    }
  }

  /** `hasToken(column, token)` scan: ClickHouse's tokenbf-indexed text
    * search. Probes each live part's token bloom DRIVER-SIDE (O(manifest)
    * sidecar reads, no task launch for excluded parts), then applies the
    * exact whole-token residual filter on the survivors. Only whole-token
    * equality may consult the index — substring search must full-scan.
    */
  def scanHasToken(column: String, token: String): DataFrame = {
    require(token.nonEmpty && !ColumnarMergeTree.TokenSplitRe.r.findFirstIn(token).isDefined,
      s"hasToken: '$token' is not a single token")
    val live = { refresh(); manifest.parts }
    val surviving = tokenBloomParts(column, token)
    lastPruning = (surviving.size, live.size)
    collapse(readParts(surviving))
      .filter(array_contains(
        split(col(column).cast("string"), ColumnarMergeTree.TokenSplitRe), token))
  }

  /** Parts whose set(N) sidecar may hold ANY of the canonical-string probe
    * values — the probe behind [[scanIn]] and the connector's equality
    * pruning. Sidecar-less and saturated parts are kept: the index
    * accelerates, never filters.
    */
  private[graft] def setIndexParts(column: String, values: Set[String]): Seq[GPartMeta] = {
    refresh()
    manifest.parts.filter(p =>
      ColumnarMergeTree.setIndexAllows(path, p.dir, column, values))
  }

  /** Equality/IN scan on a set(N) skip-index column (ClickHouse `set`,
    * part-level): each live part's persisted distinct-value set is probed
    * DRIVER-SIDE and parts containing none of the requested values are
    * skipped before any file I/O — the pruning minmax bounds can't give a
    * low-cardinality column whose values interleave across every part's
    * [min, max]. The exact residual filter applies on survivors as usual
    * (pushed to parquet, where the row-group dictionary/stats prune
    * further). Same collapse caveat as [[scanWhere]].
    */
  def scanIn(column: String, values: Seq[Any]): DataFrame = {
    require(schema.fieldNames.contains(column), s"no column '$column'")
    require(values.nonEmpty, "scanIn: empty value set")
    val canon = values.map(ColumnarMergeTree.setIndexCanon).toSet
    val surviving = setIndexParts(column, canon)
    lastPruning = (surviving.size, manifest.parts.size)
    collapse(readParts(surviving)
      .filter(col(column).isInCollection(values)))
  }

  /** THE part-reading funnel for every query face: one multi-path parquet
    * read per distinct pending-lightweight-delete predicate list, each
    * with its keep filter applied, unioned. Tables with no pending
    * deletes (the steady state) take the single-scan branch unchanged.
    * File paths are baked from the caller's part list, so one manifest
    * read fixes what a whole query sees — a concurrent DELETE cannot
    * double- or part-read.
    */
  private[mergetree] def readParts(parts: Seq[GPartMeta]): DataFrame =
    if (parts.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      val groups = parts.groupBy(_.muts).toSeq
        .sortBy(_._1.toString) // deterministic plan shape
      groups.map { case (muts, ps) =>
        ColumnarMergeTree.applyMuts(
          spark.read.schema(schema).parquet(ps.map(p => s"$path/${p.dir}"): _*),
          muts)
      }.reduce(_ union _)
    }

  /** (planned, total) parts at the last scan — test/diagnostic hook. */
  @volatile var lastPruning: (Int, Int) = (0, 0)

  // ----------------------------------------------------------- maintenance

  /** Re-read the on-disk manifest (picks up parts landed by the DSv2
    * connector or another instance since this instance's last mutation).
    */
  def refresh(): Unit = lock.synchronized {
    manifest = GManifest.load(path).getOrElse(GManifest(0L, Nil))
  }

  /** Compare-and-swap `oldIds` for `add` in the persisted manifest: the
    * swap applies only if every oldId is still listed. maintenanceLock is
    * per-INSTANCE, and the cross-process manifest lock serializes only the
    * read-modify-write — two instances (API + DSv2 connector, or two
    * processes) can still both rewrite the same parts concurrently. The
    * loser's filterNot would find its oldIds already gone and append its
    * outputs anyway, duplicating every rewritten row; instead the loser
    * detects the conflict inside the RMW, leaves the manifest untouched,
    * deletes its freshly-written `fresh` part dirs, and returns false.
    * On success the replaced parts retire through the grace GC.
    */
  private[graft] def swapParts(old: Seq[GPartMeta], add: Seq[GPartMeta],
                               fresh: Seq[GPartMeta]): Boolean = {
    val oldIds = old.map(_.partId).toSet
    // The CAS compares (partId, pending mutations), not id alone: a
    // maintenance op computed its outputs from the parts AS IT READ
    // them — if a lightweight DELETE/UPDATE tagged any of them in
    // between, the outputs would resurrect or un-patch rows. Ids don't
    // change on a tag, so the mutation list is part of the identity.
    val oldPreds = old.map(p => p.partId -> p.muts).toMap
    var applied = false
    var gone = Seq.empty[GPartMeta]
    lock.synchronized {
      manifest = GManifest.update(path) { cur =>
        // Assigned UNCONDITIONALLY on every run: the log-mode CAS loop
        // re-runs this closure on retries, and a retry whose subset check
        // flips false must not inherit applied=true/gone from a lost
        // attempt (the final run is the one whose result published — its
        // assignments are the ones that stick).
        val curPreds = cur.parts.map(p => p.partId -> p.muts).toMap
        applied = oldIds.forall(id =>
          curPreds.get(id).contains(oldPreds(id)))
        gone = if (applied) cur.parts.filter(p => oldIds(p.partId)) else Nil
        if (applied)
          GManifest(cur.version, cur.parts.filterNot(p => oldIds(p.partId)) ++ add)
        else cur
      }
    }
    val addIds = add.map(_.partId).toSet
    if (applied) retireParts(gone.filterNot(p => addIds(p.partId)))
    else fresh.foreach(m =>
      MergeTreeTable.deleteRecursively(Paths.get(s"$path/${m.dir}")))
    // Published (or deleted-on-conflict) outputs leave the intent set —
    // they're now referenced by the manifest / GC list / nothing at all.
    intentDrop((add ++ fresh).map(_.dir).distinct)
    applied
  }

  /** ClickHouse `OPTIMIZE TABLE … FINAL [DEDUPLICATE]`: merge ALL parts
    * down to one per partition regardless of maxParts, fully applying the
    * merge mode and lazy TTL everywhere — the "make the table fully
    * collapsed on disk" op (reads no longer pay any merge-on-read until
    * new parts land). `deduplicate = true` additionally drops fully
    * identical rows (all columns equal) during the rewrite, like
    * ClickHouse DEDUPLICATE — the retroactive cure for an accidentally
    * re-inserted batch on a Plain table, where no merge mode would ever
    * collapse the copies. `dedupBy` is ClickHouse `DEDUPLICATE BY col1,
    * col2`: rows are duplicates when they agree on JUST those columns;
    * the survivor is pinned deterministically (the row sorting FIRST on
    * the remaining columns — ClickHouse keeps an arbitrary one, which
    * would make re-runs and oracle comparison nondeterministic here).
    */
  def optimizeFinal(deduplicate: Boolean = false,
                    dedupBy: Seq[String] = Nil): Unit = maintenanceLock.synchronized {
    require(dedupBy.forall(schema.fieldNames.contains),
      s"DEDUPLICATE BY unknown columns ${dedupBy.filterNot(schema.fieldNames.contains).mkString(",")}")
    val dedup = deduplicate || dedupBy.nonEmpty
    refresh()
    val groups = manifest.parts.groupBy(_.partition).toSeq
      .sortBy(_._1.getOrElse("")).map(_._2)
    // Singletons rewrite too when a TTL (MATERIALIZE TTL semantics) or a
    // collapsing merge mode is declared — a single part can still hold
    // not-yet-collapsed duplicate keys from one raw insertBatch; only a
    // Plain no-TTL singleton is already final. DEDUPLICATE likewise
    // rewrites singletons (one part can hold identical rows).
    val toMerge =
      if (dedup || ttl.isDefined || mode != MergeMode.Plain) groups
      // Pending lightweight mutations rewrite singletons too — OPTIMIZE
      // FINAL is the materialization point the lightweight DELETE/UPDATE
      // statements promise.
      else groups.filter(g => g.size > 1 || g.exists(_.muts.nonEmpty))
    if (toMerge.isEmpty) return
    val rest = schema.fieldNames.filterNot(dedupBy.contains).map(col).toSeq
    val written = writeConcurrently(toMerge) { bin =>
      // readParts applies each part's pending lightweight-delete
      // predicates, so the rewrite MATERIALIZES them (outputs carry none).
      val raw = readParts(bin)
      val unexpired = ttl.fold(raw)(t => raw.filter(!coalesce(expr(t), lit(false))))
      val deduped =
        if (dedupBy.nonEmpty && rest.nonEmpty) {
          // One representative per dedupBy group, deterministically: the
          // row_number window shares the shuffle the part write's range
          // partition would need anyway.
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(dedupBy.map(col): _*).orderBy(rest: _*)
          unexpired
            .withColumn("__dd_rn", row_number().over(w))
            .filter(col("__dd_rn") === 1).drop("__dd_rn")
        }
        else if (dedup) unexpired.dropDuplicates()
        else unexpired
      stagePart(collapse(deduped), 0, bin.head.partition, inputs = bin)
    }
    // A fully-expired / fully-cancelled group yields 0 rows: drop it from
    // the table (and disk) instead of registering a phantom part with
    // inverted bounds that keeps its partition listed forever.
    val (newMetas, empty) = written.partition(_.rowCount > 0)
    empty.foreach(m =>
      MergeTreeTable.deleteRecursively(Paths.get(s"$path/${m.dir}")))
    intentDrop(empty.map(_.dir))
    // CAS-swap: a conflict means another instance already merged these
    // parts (or a lightweight DELETE re-tagged them — our outputs were
    // computed before it) — our outputs are discarded (merging is
    // idempotent work, so losing the race is not an error).
    swapParts(toMerge.flatten, newMetas, newMetas)
    // A plain merge preserves the row set, but DEDUPLICATE is a row-level
    // mutation: projection copies must drop the same rows (dedupBy picks
    // its representative by column VALUES, so the differently-sorted copy
    // elects the same one) and aggregate partials must be rebuilt —
    // ClickHouse's OPTIMIZE … DEDUPLICATE rewrites projection parts too.
    if (dedup) {
      projectionTargets.foreach(_.optimizeFinal(deduplicate, dedupBy))
      rebuildAggProjections()
    }
    clearLwMarkerIfClean()
  }

  /** Bin-packed compaction to ≤ maxParts, one rewrite per byte (same design
    * as MergeTreeTable.optimize, without the dedup aggregate unless the
    * merge mode asks — collapse inside the merge is safe under partial
    * application, see MergeMode). Bins merge as CONCURRENT Spark jobs
    * outside the lock; writers keep landing parts during the merge and
    * survive the read-merge manifest swap.
    */
  def optimize(): Unit = maintenanceLock.synchronized {
    refresh()
    if (manifest.parts.size <= config.maxParts) return
    val live = manifest.parts.sortBy(p => (p.minKey, p.partId))(
      Ordering.Tuple2(KeyOrder.ordering, Ordering.Long))
    val nOut = math.max(1, config.maxParts / 2)
    val target = (live.map(_.rowCount).sum + nOut - 1) / nOut
    // Bins never cross partitions (ClickHouse: merges are per-partition),
    // so a partitioned table bin-packs each partition's run separately.
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[GPartMeta]]
    live.groupBy(_.partition).toSeq.sortBy(_._1.getOrElse("")).foreach {
      case (_, group) =>
        bins += scala.collection.mutable.ArrayBuffer.empty[GPartMeta]
        var acc = 0L
        group.foreach { p =>
          if (acc >= target) {
            bins += scala.collection.mutable.ArrayBuffer.empty[GPartMeta]; acc = 0L
          }
          bins.last += p; acc += p.rowCount
        }
    }
    val nonEmpty = bins.filter(_.nonEmpty).toSeq
    val merged = writeConcurrently(nonEmpty.filter(_.size > 1)) { bin =>
      // Compaction is where lazy TTL bites (ClickHouse drops expired rows
      // when a merge rewrites the part); untouched parts keep theirs until
      // a merge or applyTtl() reaches them.
      // Merges materialize pending lightweight deletes exactly like
      // lazy TTL: readParts drops the hidden rows, outputs carry none.
      val raw = readParts(bin.toSeq)
      val unexpired = ttl.fold(raw)(t => raw.filter(!coalesce(expr(t), lit(false))))
      stagePart(collapse(unexpired), 0, bin.head.partition, inputs = bin.toSeq)
    }.iterator
    // Single-part bins pass through; outputs stay in bin order.
    val newMetas = nonEmpty.map(bin => if (bin.size == 1) bin.head else merged.next())
    val liveIds = live.map(_.partId).toSet
    // A merge bin whose rows all expired (TTL) or cancelled (Collapsing)
    // yields a 0-row output: exclude it and remove its fresh directory.
    val (kept, emptyNew) = newMetas.partition(_.rowCount > 0)
    emptyNew.filterNot(m => liveIds(m.partId)).foreach(m =>
      MergeTreeTable.deleteRecursively(Paths.get(s"$path/${m.dir}")))
    intentDrop(emptyNew.filterNot(m => liveIds(m.partId)).map(_.dir))
    val keptIds = kept.map(_.partId).toSet
    // CAS-swap (see swapParts): on conflict only OUR fresh merge outputs
    // are deleted — pass-through bins are live original parts.
    swapParts(live, kept, kept.filterNot(m => liveIds(m.partId)))
    clearLwMarkerIfClean()
  }

  /** Row deletion by predicate (ClickHouse's ALTER TABLE ... DELETE — the
    * opt-out / decontamination mutation a training-data pipeline needs):
    * parts are immutable, so matching parts are REWRITTEN without the
    * matching rows and swapped atomically; parts with no matches are
    * untouched. One distributed pass computes per-part hit counts (not one
    * job per part), then only the touched parts rewrite, concurrently.
    *
    * NULL predicate semantics: a row where `cond` evaluates NULL is NOT a
    * match — it is KEPT, like ClickHouse ALTER DELETE / SQL WHERE (round-3
    * verdict bug #1: `filter(!cond)` dropped such rows silently). Hits are
    * counted with the same `coalesce(cond, false)` the rewrite keeps the
    * complement of, so the whole-part-drop check can never misclassify a
    * part whose residue is all-NULL-cond.
    *
    * Returns the number of rows removed.
    */
  def deleteWhere(cond: Column): Long = maintenanceLock.synchronized {
    refresh()
    val live = manifest.parts
    if (live.isEmpty) return 0L
    val isHit = coalesce(cond, lit(false))
    val hitsByPart = hitCountsByPart(live, isHit)
    val removed = hitsByPart.values.sum
    if (removed == 0L) return 0L
    val dropped = live.filter(p => hitsByPart.getOrElse(p.partId, 0L) == p.rowCount)
    val touched = live.filter { p =>
      val h = hitsByPart.getOrElse(p.partId, 0L); h > 0L && h < p.rowCount
    }
    val newMetas = writeConcurrently(touched) { p =>
      // Pending lightweight mutations materialize in the same rewrite —
      // outputs carry none, so hidden rows go and patches bake in now.
      val df = ColumnarMergeTree.applyMuts(
        spark.read.schema(schema).parquet(s"$path/${p.dir}"), p.muts)
      stagePart(df.filter(!isHit), 0, p.partition, inputs = Seq(p))
    }
    // A rewrite can yield 0 rows when a part's visible residue all
    // matched while lightweight-hidden rows padded its physical count:
    // drop the empty output instead of registering a phantom part.
    val (keptNew, emptyNew) = newMetas.partition(_.rowCount > 0)
    emptyNew.foreach(m =>
      MergeTreeTable.deleteRecursively(Paths.get(s"$path/${m.dir}")))
    intentDrop(emptyNew.map(_.dir))
    // A mutation that loses the CAS must surface, not silently vanish —
    // the caller's rows were NOT deleted and a retry re-evaluates cond.
    if (!swapParts(dropped ++ touched, keptNew, keptNew))
      throw new java.util.ConcurrentModificationException(
        "deleteWhere raced another maintenance op on the same parts; retry")
    // Keep projection copies in sync (see updateWhere).
    projectionTargets.foreach(_.deleteWhere(cond))
    rebuildAggProjections()
    clearLwMarkerIfClean()
    removed
  }

  /** ClickHouse LIGHTWEIGHT DELETE (`DELETE FROM t WHERE …`): O(manifest)
    * — no part is read or rewritten. Every part live at commit time is
    * tagged with the predicate; reads hide matching rows immediately
    * (every query face funnels through readParts, which applies the
    * tags), and the next part rewrite — a merge, OPTIMIZE [FINAL],
    * deleteWhere, or updateWhere — materializes the deletion physically.
    * Per-part as-of semantics: rows inserted AFTER the delete land in
    * untagged parts and stay visible even if they match (the ClickHouse
    * `_row_exists`-mask behavior, expressed as a stored predicate).
    *
    * At 100 TB this is the decontamination op's fast path: "hide this
    * licensing-flagged slice NOW" costs one manifest CAS; the rewrite
    * cost is deferred into merges that were going to happen anyway.
    *
    * Contract notes: the predicate must be deterministic and reference
    * only table columns (validated here by round-tripping its SQL against
    * the table schema — it is re-evaluated on every read); tables with
    * projections refuse (a routed read serves the projection's COPY,
    * which no tag covers — use deleteWhere, which propagates); at most
    * [[ColumnarMergeTree.MaxLwDeletesPerPart]] pending predicates per
    * part, then materialize first. Does not return a count — counting
    * would cost the scan this op exists to avoid.
    */
  def deleteLightweight(cond: Column): Unit =
    tagLightweight(ColumnarMergeTree.GMut("del", resolvedCondSql(cond)))

  /** ClickHouse LIGHTWEIGHT UPDATE (patch-part semantics): O(manifest) —
    * no part is read or rewritten. Every part live at commit time is
    * tagged with (predicate, SET expressions); reads patch matching rows
    * on the fly (simultaneous assignment against the old row, values cast
    * back to the column's own type), and the next part rewrite bakes the
    * patch in physically. Ordering with lightweight DELETEs is preserved
    * per part — an UPDATE can change what a later DELETE matches and
    * vice versa, exactly as if each statement had run physically.
    *
    * Columns that feed pruning may NOT be patched: ORDER BY, PARTITION
    * BY references, and every declared skip-index column (minmax / set /
    * bloom / tokenbf / ngrambf) — their stored per-part statistics are
    * not recomputed by a tag, and a pruned scan consulting stale bounds
    * would silently miss patched rows. updateWhere (the physical
    * rewrite) remains the path for those.
    */
  def updateLightweight(cond: Column, set: Map[String, Column]): Unit = {
    require(set.nonEmpty, "updateLightweight: empty SET")
    require(set.keys.forall(schema.fieldNames.contains),
      s"updateLightweight: unknown columns ${set.keys.filterNot(schema.fieldNames.contains).mkString(",")}")
    val pruningCols = orderBy.toSet ++
      partitionBy.toSeq.flatMap(exprRefs) ++
      config.minmaxColumns ++ config.setIndexColumns ++
      config.bloomFilterColumns ++ config.tokenBloomColumns ++
      config.ngramBloomColumns
    val bad = set.keys.filter(pruningCols.contains)
    require(bad.isEmpty,
      s"updateLightweight: cannot patch pruning columns (${bad.mkString(",")}) " +
        "— their per-part statistics are not recomputed by a tag; use updateWhere")
    val sets = set.toList.sortBy(_._1).map { case (c, e) =>
      List(c, resolvedValueSql(e))
    }
    tagLightweight(ColumnarMergeTree.GMut("upd", resolvedCondSql(cond), Some(sets)))
  }

  /** Resolve a predicate against this table's schema (bad refs fail
    * analysis HERE, not on some later read), require determinism, and
    * return the resolved SQL — which must itself round-trip.
    */
  private def resolvedCondSql(cond: Column): String = {
    def analyzed(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
      emptyProbe.filter(c).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(throw new IllegalStateException(
        "lightweight mutation: predicate did not analyze to a filter"))
    val resolved = analyzed(cond)
    require(resolved.deterministic,
      s"lightweight mutation predicates must be deterministic: ${resolved.sql}")
    val sqlStr = resolved.sql
    analyzed(expr(sqlStr)) // stored text must re-parse and resolve
    sqlStr
  }

  /** Same contract for a SET value expression (resolved via a projection
    * instead of a filter — values are not predicates).
    */
  private def resolvedValueSql(value: Column): String = {
    def analyzed(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
      emptyProbe.select(c).queryExecution.analyzed.expressions.head match {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case e => e
      }
    val resolved = analyzed(value)
    require(resolved.deterministic,
      s"lightweight mutation SET expressions must be deterministic: ${resolved.sql}")
    val sqlStr = resolved.sql
    analyzed(expr(sqlStr))
    sqlStr
  }

  private def emptyProbe: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Append one pending mutation to every live part — the shared
    * O(manifest) commit behind deleteLightweight/updateLightweight.
    */
  private def tagLightweight(mut: ColumnarMergeTree.GMut): Unit =
    maintenanceLock.synchronized {
      require(projections.isEmpty && aggProjections.isEmpty,
        "lightweight DELETE/UPDATE is not supported on tables with " +
          "projections (their copies would keep serving the old rows); " +
          "use deleteWhere/updateWhere")
      refresh()
      if (manifest.parts.isEmpty) return
      require(
        manifest.parts.forall(_.muts.size < ColumnarMergeTree.MaxLwMutsPerPart),
        s"a part already carries ${ColumnarMergeTree.MaxLwMutsPerPart} pending " +
          "lightweight mutations; run optimizeFinal() (OPTIMIZE TABLE … FINAL) " +
          "to materialize them first")
      // Marker BEFORE the tag, so the advisory can claim "marker present
      // whenever live parts are tagged" (a stale marker is harmless; the
      // reverse order would leave a tagged-but-unmarked window). Reads
      // never depend on it — the scan applies muts from the manifest.
      MetaFiles.publish(ColumnarMergeTree.lwMarkerPath(path), Array.emptyByteArray)
      lock.synchronized {
        // Tags whatever parts are live AT THE CAS — never a pre-read
        // list: a part merged away in between must not resurface
        // untagged (its replacement is current and gets the tag), and
        // the closure always applies (no conflict path to retry).
        manifest = GManifest.update(path) { cur =>
          GManifest(cur.version, cur.parts.map(p =>
            p.copy(pendingMuts = Some(p.muts :+ mut))))
        }
      }
    }

  /** Remove the lightweight-delete marker once no part carries a pending
    * predicate (called after materializing rewrites). The marker is
    * ADVISORY — every read face applies mutations from the manifest
    * (engine readParts, DSv2 MutProgram) — so a stale or missing marker
    * can never corrupt an answer. Still, keep it honest: re-read the
    * ON-DISK manifest (a concurrent handle may have tagged parts after
    * this instance's refresh — the cross-instance race is decided by the
    * disk state, not this handle's memory) and count detached parts too
    * (an ATTACH would bring their tags back live).
    */
  private def clearLwMarkerIfClean(): Unit = {
    val diskClean = GManifest.load(path)
      .forall(_.parts.forall(_.muts.isEmpty))
    val detachedClean = DetachedSet.load(path).forall(_.muts.isEmpty)
    if (diskClean && detachedClean)
      Files.deleteIfExists(ColumnarMergeTree.lwMarkerPath(path))
  }

  /** ONE distributed job computing per-part predicate hit counts: a single
    * multi-path scan of every candidate part, grouped by the part id parsed
    * back out of `input_file_name()`. The shape this replaces — one
    * scan+aggregate subtree per part, `reduce(_ unionAll _)` — builds an
    * O(parts)-operator plan whose driver-side analysis/codegen stalls at
    * 10⁴–10⁵ parts long before the data volume matters. Here the plan is a
    * constant five operators regardless of part count, and the collected
    * result is bounded by the number of parts with ≥1 hit.
    */
  private[graft] def hitCountPlan(parts: Seq[GPartMeta], isHit: Column,
      muts: Seq[ColumnarMergeTree.GMut] = Nil): DataFrame =
    ColumnarMergeTree.applyMuts(
      spark.read.schema(schema)
        .parquet(parts.map(p => s"$path/${p.dir}"): _*), muts)
      .filter(isHit)
      // Group by the part DIRECTORY NAME segment (anchored to the file's
      // parent, so a part-ish substring earlier in the table path can't
      // hijack it). The NAME, not a digits-extract: log-mode uuid dirs
      // (`part_u<hex>`) carry no numeric id — a digits regex would group
      // their hits under NULL and deleteWhere/updateWhere would silently
      // skip every row in them. The driver maps name → partId from the
      // manifest metas it already holds.
      .groupBy(regexp_extract(input_file_name(), "/([^/]+)/[^/]*$", 1)
        .as("pdir"))
      .agg(count(lit(1)).as("hits"))

  private def hitCountsByPart(parts: Seq[GPartMeta], isHit: Column): Map[Long, Long] =
    if (parts.isEmpty) Map.empty
    // One job per distinct pending-mutation list (almost always exactly
    // one group): hits are counted on the MUTATION-APPLIED rows — what
    // readers see — so removed/updated counts and whole-part-drop checks
    // can never disagree with a read, and a pending UPDATE's patched
    // values are what the predicate tests.
    else parts.groupBy(_.muts).toSeq.flatMap { case (muts, ps) =>
      val byDir = ps.map(p => p.dir -> p.partId).toMap
      hitCountPlan(ps, isHit, muts).collect().iterator
        .filterNot(_.isNullAt(0))
        .flatMap(r => byDir.get(r.getString(0)).map(_ -> r.getLong(1)))
    }.toMap

  /** Column mutation by predicate (ClickHouse's ALTER TABLE … UPDATE — the
    * twin of deleteWhere): rows matching `cond` get each column in `set`
    * replaced by its expression; parts with no matches are untouched,
    * matching parts are rewritten concurrently and swapped atomically.
    * NULL-predicate rows are NOT matched (SQL WHERE semantics, same
    * coalesce as deleteWhere). ORDER BY columns may not be updated — the
    * part sort order and manifest bounds would silently break.
    * Returns the number of rows updated.
    */
  def updateWhere(cond: Column, set: Map[String, Column]): Long =
    maintenanceLock.synchronized {
      require(set.nonEmpty, "updateWhere: empty SET")
      require(set.keys.forall(schema.fieldNames.contains),
        s"updateWhere: unknown columns ${set.keys.filterNot(schema.fieldNames.contains).mkString(",")}")
      require(!set.keys.exists(orderBy.contains),
        s"updateWhere: cannot update ORDER BY columns (${orderBy.mkString(",")})")
      // Updating a PARTITION BY-referenced column would strand rows under
      // stale part partition metadata (partition scans, dropPartition, and
      // partition-pruned TTL would all disagree with the data) — ClickHouse
      // forbids updating partition-key columns for the same reason.
      val partCols = partitionBy.toSeq.flatMap(exprRefs).toSet
      require(!set.keys.exists(partCols.contains),
        s"updateWhere: cannot update PARTITION BY columns (${partCols.mkString(",")})")
      refresh()
      val live = manifest.parts
      if (live.isEmpty) return 0L
      val isHit = coalesce(cond, lit(false))
      val hitsByPart = hitCountsByPart(live, isHit)
      val updated = hitsByPart.values.sum
      if (updated == 0L) return 0L
      val touched = live.filter(p => hitsByPart.getOrElse(p.partId, 0L) > 0L)
      val newMetas = writeConcurrently(touched) { p =>
        // Materialize pending lightweight mutations alongside the update
        // (the rewritten part carries none).
        val df = ColumnarMergeTree.applyMuts(
          spark.read.schema(schema).parquet(s"$path/${p.dir}"), p.muts)
        // Simultaneous-assignment semantics (like ClickHouse UPDATE): every
        // SET expression evaluates against the OLD row — stage new values
        // in temp columns before any target column is replaced, so
        // SET a = b, b = a swaps instead of aliasing.
        val staged = set.toSeq.zipWithIndex
        val withNew = staged.foldLeft(df) { case (acc, ((name, expr), i)) =>
          acc.withColumn(s"__upd_$i", when(isHit, expr).otherwise(col(name)))
        }
        val mutated = staged.foldLeft(withNew) { case (acc, ((name, _), i)) =>
          acc.withColumn(name, col(s"__upd_$i"))
        }.select(schema.fieldNames.map(col): _*)
        stagePart(mutated, 0, p.partition, inputs = Seq(p))
      }
      // All-hidden parts rewrite to 0 rows — drop them (see deleteWhere).
      val (keptNew, emptyNew) = newMetas.partition(_.rowCount > 0)
      emptyNew.foreach(m =>
        MergeTreeTable.deleteRecursively(Paths.get(s"$path/${m.dir}")))
      intentDrop(emptyNew.map(_.dir))
      if (!swapParts(touched, keptNew, keptNew))
        throw new java.util.ConcurrentModificationException(
          "updateWhere raced another maintenance op on the same parts; retry")
      // Projections hold copies of these rows under another sort order —
      // mutate them with the same predicate or routed reads go stale
      // (ClickHouse rebuilds projections inside the mutation too). A SET
      // that touches a projection's OWN sort key cannot rewrite in place
      // (its part order would break): rebuild that copy from the
      // already-mutated base wholesale.
      projectionTargets.foreach { p =>
        if (set.keys.exists(p.orderBy.contains)) p.overwriteBatch(scan())
        else p.updateWhere(cond, set)
      }
      rebuildAggProjections()
      clearLwMarkerIfClean()
      updated
    }

  /** Fold pending lightweight mutations into their parts (ClickHouse's
    * background mutation task, the half the lazy merge path can't reach):
    * every live part carrying ≥ `minMuts` pending predicates is rewritten
    * with its tags applied — concurrently, one rewrite per part, swapped in
    * ONE CAS. Compaction already materializes whatever it merges; this
    * pass exists for tables UNDER maxParts, whose tags would otherwise
    * accumulate until the per-part cap refuses the next statement. The
    * background worker calls it every wake, so statements landing within
    * one interval coalesce into a single rewrite per part — the write cost
    * of an explicit OPTIMIZE FINAL, amortized by the merge cadence, never
    * paid on the statement itself. Returns the number of parts rewritten.
    */
  def materializePendingMutations(minMuts: Int = 1): Int =
    maintenanceLock.synchronized {
      refresh()
      val tagged = manifest.parts.filter(_.muts.size >= math.max(1, minMuts))
      if (tagged.isEmpty) { clearLwMarkerIfClean(); return 0 }
      val newMetas = writeConcurrently(tagged) { p =>
        val df = ColumnarMergeTree.applyMuts(
          spark.read.schema(schema).parquet(s"$path/${p.dir}"), p.muts)
        // Mutations are row-level filters/patches over non-ORDER-BY
        // columns: the part's sort order survives, same as updateWhere.
        stagePart(df, 0, p.partition, inputs = Seq(p))
      }
      // All-hidden parts rewrite to 0 rows — drop them (see deleteWhere).
      val (kept, emptyNew) = newMetas.partition(_.rowCount > 0)
      emptyNew.foreach(m =>
        MergeTreeTable.deleteRecursively(Paths.get(s"$path/${m.dir}")))
      intentDrop(emptyNew.map(_.dir))
      if (!swapParts(tagged, kept, kept))
        throw new java.util.ConcurrentModificationException(
          "materializePendingMutations raced another maintenance op; retry")
      clearLwMarkerIfClean()
      tagged.size
    }

  /** Eager TTL pass: drop every currently-expired row right now (ClickHouse
    * `ALTER TABLE ... MATERIALIZE TTL` / `OPTIMIZE ... FINAL` with a TTL) —
    * the lazy path only cleans parts that happen to merge. Returns rows
    * removed.
    */
  def applyTtl(): Long = {
    val t = ttl.getOrElse(
      throw new IllegalStateException("applyTtl on a table with no TTL"))
    partitionBy match {
      // ClickHouse ttl_only_drop_parts, generalized: when the table is
      // partitioned BY a bare column and the TTL reads ONLY that column,
      // the predicate is constant within each partition — retention becomes
      // dropPartition per expired value: O(#partitions) driver work +
      // O(manifest) unlinks, NO data file read or rewritten. This is THE
      // retention shape at 100 TB (drop last month ≠ rewrite the table).
      case Some(p) if schema.fieldNames.contains(p) && exprRefs(t).toSet == Set(p) =>
        expiredPartitionValues(t, p).map(dropPartition).sum
      case _ => deleteWhere(expr(t))
    }
  }

  /** Partition values whose rows the TTL marks expired, evaluated on the
    * DISTINCT manifest values (a tiny driver-local job, never the data);
    * the NULL-partition sentinel evaluates as SQL NULL → kept, matching
    * row-level TTL semantics.
    */
  private def expiredPartitionValues(t: String, pcol: String): Seq[String] = {
    val vals = partitions
    if (vals.isEmpty) return Nil
    import spark.implicits._
    val typed = when(col("__v") === ColumnarMergeTree.NullPartition, lit(null))
      .otherwise(col("__v")).cast(schema(pcol).dataType).as(pcol)
    vals.toDF("__v").select(col("__v"), typed)
      .filter(coalesce(expr(t), lit(false)))
      .select("__v").collect().map(_.getString(0)).toSeq
  }

  /** SQL INSERT OVERWRITE semantics: unpartitioned → the whole table is
    * atomically replaced by the batch (one manifest swap; old parts retire
    * through the grace GC); partitioned → DYNAMIC partition overwrite, only
    * the partitions present in the batch are replaced (Spark's
    * partitionOverwriteMode=dynamic posture — the backfill shape at 100 TB:
    * rewrite yesterday, never touch the other 999 days). NOTE the
    * deliberate divergence from static overwrite on partitioned tables:
    * partitions absent from the batch keep their rows, and an EMPTY batch
    * is a no-op (on an unpartitioned table it IS a truncate) — the same
    * behavior Spark's own dynamic mode has; full-table replace on a
    * partitioned table is TRUNCATE + INSERT. Materialized views do NOT
    * fire — overwrite is a replace, not an append.
    */
  def overwriteBatch(df: DataFrame): Unit = maintenanceLock.synchronized {
    require(df.schema.fieldNames.toSeq == schema.fieldNames.toSeq,
      s"batch schema ${df.schema.fieldNames.mkString(",")} != table schema")
    partitionBy match {
      case None =>
        val newMeta = writePart(df, 0, register = false, partition = None)
        // An empty overwrite IS a truncate: drop everything, register
        // nothing (and remove the fresh 0-row directory).
        val add = Seq(newMeta).filter(_.rowCount > 0)
        if (add.isEmpty)
          MergeTreeTable.deleteRecursively(Paths.get(s"$path/${newMeta.dir}"))
        // "Everything" is decided inside the RMW: the batch replaces
        // whatever is listed at commit time, including parts a concurrent
        // compaction just produced (an id snapshot would let their rows
        // survive the overwrite).
        var gone = Seq.empty[GPartMeta]
        lock.synchronized {
          manifest = GManifest.update(path) { cur =>
            gone = cur.parts
            GManifest(cur.version, add.toList)
          }
        }
        retireParts(gone)
        intentDrop(Seq(newMeta.dir))
        // Projection copies hold the SAME rows under another sort order —
        // replace them too or routed reads serve the pre-overwrite table
        // (non-projection MVs deliberately don't fire: an overwrite is a
        // replace, not an append; but a projection is a copy, not a view —
        // and an aggregate projection is a derived copy, rebuilt the same).
        projectionTargets.foreach(_.overwriteBatch(scan()))
        rebuildAggProjections()
      case Some(p) if ColumnarMergeTree.bucketPartition(p).isDefined =>
        // HASH BUCKETS ARE NOT SEMANTIC SLICES: "replace the touched
        // buckets" would silently delete every unrelated row that happens
        // to share a bucket with the batch — dynamic partition overwrite
        // is data loss by construction here. A bucket-partitioned
        // overwrite is therefore a FULL-TABLE replace (the unpartitioned
        // semantic), written through the partitioned path so the new
        // parts keep their bucket tags (SPJ and bucket pruning survive).
        val newMetas = writePartitioned(df, 0, p, register = false)
        var gone = Seq.empty[GPartMeta]
        lock.synchronized {
          manifest = GManifest.update(path) { cur =>
            gone = cur.parts
            GManifest(cur.version, newMetas.toList)
          }
        }
        retireParts(gone)
        intentDrop(newMetas.map(_.dir))
      case Some(p) =>
        // ONE dynamic-partition write job stages every new part (the batch
        // plan is evaluated exactly once — a non-deterministic source can't
        // lose rows between a values pass and per-value filters), then ONE
        // manifest swap replaces all touched partitions together.
        val newMetas = writePartitioned(df, 0, p, register = false)
        val values = newMetas.flatMap(_.partition).toSet
        // Touched partitions are cleared by VALUE inside the RMW (see the
        // unpartitioned branch: id snapshots race concurrent compaction).
        var gone = Seq.empty[GPartMeta]
        lock.synchronized {
          manifest = GManifest.update(path) { cur =>
            gone = cur.parts.filter(_.partition.exists(values))
            val goneIds = gone.map(_.partId).toSet
            GManifest(cur.version,
              cur.parts.filterNot(q => goneIds(q.partId)) ++ newMetas)
          }
        }
        retireParts(gone)
        intentDrop(newMetas.map(_.dir))
    }
  }

  /** ClickHouse ALTER TABLE … REPLACE PARTITION — the decontamination +
    * backfill op: atomically swap one partition's content with `df`. The
    * replacement lands as a fenced-unregistered part first, then ONE
    * manifest update unlinks every old part of the partition and links the
    * new one — a reader plans against wholly-old or wholly-new, never a
    * mix; old parts retire through the grace GC. Rows are validated to
    * belong to the partition (limit-1 probe, not a full pass).
    */
  def replacePartition(value: String, df: DataFrame): Unit =
    maintenanceLock.synchronized {
      val pexpr = partitionBy.getOrElse(
        throw new IllegalStateException("replacePartition on an unpartitioned table"))
      require(df.schema.fieldNames.toSeq == schema.fieldNames.toSeq,
        s"batch schema ${df.schema.fieldNames.mkString(",")} != table schema")
      require(df.filter(partitionValueExpr(pexpr) =!= lit(value)).limit(1).isEmpty,
        s"replacement rows outside partition '$value'")
      val newMeta = writePart(df, 0, register = false, partition = Some(value))
      // An empty replacement IS a drop of the partition: register no
      // phantom 0-row part (its null bounds would dodge pruning forever).
      val add = Seq(newMeta).filter(_.rowCount > 0)
      if (add.isEmpty)
        MergeTreeTable.deleteRecursively(Paths.get(s"$path/${newMeta.dir}"))
      // Old parts are selected by partition VALUE inside the RMW (see
      // dropPartition: id snapshots race concurrent compaction).
      var gone = Seq.empty[GPartMeta]
      lock.synchronized {
        manifest = GManifest.update(path) { cur =>
          gone = cur.parts.filter(_.partition.contains(value))
          val goneIds = gone.map(_.partId).toSet
          GManifest(cur.version,
            cur.parts.filterNot(p => goneIds(p.partId)) ++ add)
        }
      }
      retireParts(gone)
      intentDrop(Seq(newMeta.dir))
    }

  /** ClickHouse ALTER TABLE … DETACH PARTITION: unlink the partition's
    * parts from the manifest into the persisted detached set — the rows
    * vanish from every scan, but the part directories stay on disk
    * indefinitely (in no GC list, never purged), awaiting re-ATTACH or
    * manual removal. O(manifest), no part read or rewritten. The
    * quarantine workflow: detach suspect data, inspect it offline (the
    * parquet files are right there), re-attach or drop.
    */
  def detachPartition(value: String): Long = maintenanceLock.synchronized {
    require(partitionBy.nonEmpty, "detachPartition on an unpartitioned table")
    refresh()
    val gone = manifest.parts.filter(_.partition.contains(value))
    if (gone.isEmpty) return 0L
    val goneIds = gone.map(_.partId).toSet
    // Recorded detached BEFORE the manifest unlink: a crash between the two
    // leaves the part both live and detached, which attachPartition
    // self-heals (already-linked ids are not re-linked and their records
    // are dropped) — never a part directory on disk with no record.
    DetachedSet.update(path)(cur =>
      (cur ++ gone).groupBy(_.partId).values.map(_.head).toList.sortBy(_.partId))
    // CAS: if a concurrent maintenance op replaced any of these parts
    // between our refresh and the RMW, the recorded detached ids no longer
    // name the partition's live rows — undo the record and surface the
    // race instead of detaching a stale subset.
    var applied = false
    var unlinked = Seq.empty[GPartMeta]
    lock.synchronized {
      manifest = GManifest.update(path) { cur =>
        // Assigned unconditionally: the log-mode CAS loop re-runs this
        // closure, and a retry whose subset check flips false must not
        // inherit applied=true from a lost attempt (the swapParts rule).
        applied = goneIds.subsetOf(cur.parts.map(_.partId).toSet)
        unlinked = if (applied) cur.parts.filter(p => goneIds(p.partId)) else Nil
        if (applied)
          GManifest(cur.version, cur.parts.filterNot(p => goneIds(p.partId)))
        else cur
      }
    }
    if (!applied) {
      DetachedSet.update(path)(cur => cur.filterNot(p => goneIds(p.partId)))
      throw new java.util.ConcurrentModificationException(
        s"detachPartition('$value') raced another maintenance op; retry")
    }
    // Re-record the metas AS UNLINKED (not as pre-read): a lightweight
    // DELETE tagging these parts between refresh and CAS rides in the
    // closure-captured copies — an ATTACH must restore the tags, or the
    // quarantine round-trip would resurrect the deleted rows.
    DetachedSet.update(path)(cur =>
      (cur.filterNot(p => goneIds(p.partId)) ++ unlinked).sortBy(_.partId))
    unlinked.map(_.rowCount).sum
  }

  /** ClickHouse ALTER TABLE … ATTACH PARTITION: re-link the partition's
    * detached parts into the manifest in ONE commit (readers see none or
    * all of them). Fails loudly if a detached directory disappeared.
    */
  def attachPartition(value: String): Long = maintenanceLock.synchronized {
    require(partitionBy.nonEmpty, "attachPartition on an unpartitioned table")
    refresh()
    val candidates = DetachedSet.load(path).filter(_.partition.contains(value))
    if (candidates.isEmpty) return 0L
    val missing = candidates.filterNot(p =>
      Files.isDirectory(Paths.get(path, p.dir)))
    require(missing.isEmpty, s"detached parts ${missing.map(_.partId).mkString(",")} " +
      s"of partition '$value' are gone from disk")
    var attached = List.empty[GPartMeta]
    // Marker BEFORE the re-link (same order as tagLightweight): attached
    // parts may carry lightweight-mutation tags captured at DETACH time —
    // the advisory marker must cover them the moment they go live, even
    // though no read face depends on it for correctness (the scan applies
    // muts from the manifest itself).
    if (candidates.exists(_.muts.nonEmpty))
      MetaFiles.publish(ColumnarMergeTree.lwMarkerPath(path), Array.emptyByteArray)
    lock.synchronized {
      manifest = GManifest.update(path) { cur =>
        val live = cur.parts.map(_.partId).toSet
        attached = candidates.filterNot(p => live(p.partId))
        GManifest(cur.version, cur.parts ++ attached)
      }
    }
    DetachedSet.update(path)(cur => cur.filterNot(_.partition.contains(value)))
    attached.map(_.rowCount).sum
  }

  /** ClickHouse `ALTER TABLE … FREEZE [WITH NAME]`: a zero-copy backup of
    * the table's CURRENT state under `<table>/backups/<name>/`, itself a
    * complete, independently-openable table (manifest + tabledef + part
    * files hard-linked). Parts are immutable, so shared links are safe for
    * either side's lifetime: the original keeps merging and mutating (new
    * directories, never in-place writes), the backup's view stays frozen,
    * and each side GCs only directories the other doesn't list.
    * Lightweight-mutation tags ride in the copied manifest (and the
    * advisory marker), so a state frozen after a lightweight DELETE keeps
    * those rows hidden in the backup too. Cost: O(files) metadata ops,
    * zero data bytes; filesystems without hard links fall back to a copy
    * per file. Returns (backupDir, partsLinked).
    *
    * Restore is just `ColumnarMergeTree.open(spark, backupDir)` — or
    * REPLACE PARTITION / insertBatch from it into a live table.
    */
  def freeze(name: Option[String] = None): (String, Int) = maintenanceLock.synchronized {
    refresh()
    val snap = lock.synchronized(manifest)
    val bname = name.getOrElse(s"freeze_v${snap.version}_${System.currentTimeMillis()}")
    require(bname.nonEmpty && !bname.contains('/') && !bname.startsWith("."),
      s"bad backup name '$bname'")
    val backups = Paths.get(path, "backups")
    Files.createDirectories(backups)
    val dst = backups.resolve(bname)
    require(!Files.exists(dst), s"backup '$bname' already exists")
    // Stage + atomic rename: a crashed freeze leaves only an inert .tmp dir.
    val tmp = backups.resolve(s".tmp_${java.util.UUID.randomUUID()}")
    Files.createDirectories(tmp)
    snap.parts.foreach { p =>
      val srcDir = Paths.get(path, p.dir)
      val dstDir = tmp.resolve(p.dir)
      Files.createDirectories(dstDir)
      val s = Files.list(srcDir)
      try s.forEach { f =>
        if (Files.isRegularFile(f)) {
          val t = dstDir.resolve(f.getFileName)
          try Files.createLink(t, f)
          catch {
            case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
              Files.copy(f, t)
          }
        }
      } finally s.close()
    }
    TableDef.load(path).foreach(d => TableDef.store(tmp.toString, d))
    GManifest.store(tmp.toString, snap)
    if (snap.parts.exists(_.muts.nonEmpty))
      MetaFiles.publish(ColumnarMergeTree.lwMarkerPath(tmp.toString), Array.emptyByteArray)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    (dst.toString, snap.parts.size)
  }

  /** ClickHouse `ALTER TABLE … MODIFY TTL 'expr'` / `REMOVE TTL` (pass
    * None): retention policy is table METADATA, changed without touching a
    * data file — the next merge (or an explicit applyTtl/MATERIALIZE TTL)
    * enforces the NEW predicate. Lazy-TTL semantics make the switch
    * well-defined: rows the old policy would have expired but the new one
    * keeps simply survive if nothing materialized them away yet, exactly
    * like rows that straddle a policy's own evaluation times. The
    * expression must analyze as a BOOLEAN over the table schema (checked
    * here against an empty frame — a bad policy must fail at ALTER time,
    * not inside some future background merge). Returns the reopened
    * handle; this instance's background worker stops (the addColumn
    * discipline — a live worker on a stale definition must not merge with
    * the OLD policy).
    */
  def modifyTtl(ttlExpr: Option[String]): ColumnarMergeTree = {
    stopBackgroundWorker()
    ttlExpr.foreach { t =>
      val refs = exprRefs(t)
      require(refs.nonEmpty, s"TTL '$t' references no columns")
      val missing = refs.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"TTL references unknown columns ${missing.mkString(",")}")
      val probe = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      require(probe.filter(expr(t)).schema != null) // analysis must pass
    }
    ManifestLocks.locked(path) {
      val defn = TableDef.load(path).getOrElse(
        throw new IllegalStateException(s"no table definition at $path"))
      TableDef.store(path, defn.copy(ttl = ttlExpr))
    }
    ColumnarMergeTree.open(spark, path, config)
  }

  /** ClickHouse `ALTER TABLE … ADD INDEX … TYPE <kind>`: declare a skip
    * index on an EXISTING table — a metadata-only tabledef update (the
    * modifyTtl discipline: manifest lock, definition CAS, reopen, this
    * instance's background worker stops). Parts written FROM NOW ON carry
    * the sidecar; existing parts stay readable and merely unprunable on
    * that column until [[materializeIndex]] retrofits them (tokenbf/
    * ngrambf/set) or a merge rewrites them (minmax/bloom_filter — those
    * live in footers/manifest stats, which only a part write can produce).
    * Kinds: bloom_filter | minmax | tokenbf (tokenbf_v1) | ngrambf
    * (ngrambf_v1) | set.
    */
  def addIndexColumn(kind: String, column: String): ColumnarMergeTree = {
    stopBackgroundWorker()
    require(schema.fieldNames.contains(column),
      s"ADD INDEX: unknown column '$column'")
    val k = ColumnarMergeTree.normalizeIndexKind(kind)
    if (k == "set")
      require(ColumnarMergeTree.setIndexEligible(schema(column).dataType),
        s"ADD INDEX set: column '$column' is ${schema(column).dataType.sql} — " +
          "only integral/string/boolean columns have an unambiguous set form")
    ManifestLocks.locked(path) {
      val defn = TableDef.load(path).getOrElse(
        throw new IllegalStateException(s"no table definition at $path"))
      def add(cur: Option[List[String]]) =
        Some((cur.getOrElse(Nil) :+ column).distinct)
      TableDef.store(path, k match {
        case "bloom_filter" => defn.copy(bloomFilterColumns = add(defn.bloomFilterColumns))
        case "minmax"       => defn.copy(minmaxColumns = add(defn.minmaxColumns))
        case "tokenbf"      => defn.copy(tokenBloomColumns = add(defn.tokenBloomColumns))
        case "ngrambf"      => defn.copy(ngramBloomColumns = add(defn.ngramBloomColumns))
        case "set"          => defn.copy(setIndexColumns = add(defn.setIndexColumns))
      })
    }
    ColumnarMergeTree.open(spark, path, config)
  }

  /** ClickHouse `ALTER TABLE … DROP INDEX <column>`: remove the column
    * from EVERY index family that lists it (indexes here are
    * column-addressed — the ADD INDEX name is cosmetic). Metadata-only;
    * existing sidecar files stay on their immutable parts (they still
    * describe the part's data exactly, so probes that consult them stay
    * correct — they just stop being built for new parts). Loud when the
    * column is indexed nowhere.
    */
  def dropIndexColumn(column: String): ColumnarMergeTree = {
    stopBackgroundWorker()
    ManifestLocks.locked(path) {
      val defn = TableDef.load(path).getOrElse(
        throw new IllegalStateException(s"no table definition at $path"))
      def rm(cur: Option[List[String]]) =
        cur.map(_.filterNot(_ == column)).filter(_.nonEmpty)
      val had = Seq(defn.bloomFilterColumns, defn.minmaxColumns,
        defn.tokenBloomColumns, defn.ngramBloomColumns, defn.setIndexColumns)
        .exists(_.exists(_.contains(column)))
      require(had, s"DROP INDEX: column '$column' is not indexed " +
        "(indexes are column-addressed — name ADD INDEX after its column)")
      TableDef.store(path, defn.copy(
        bloomFilterColumns = rm(defn.bloomFilterColumns),
        minmaxColumns = rm(defn.minmaxColumns),
        tokenBloomColumns = rm(defn.tokenBloomColumns),
        ngramBloomColumns = rm(defn.ngramBloomColumns),
        setIndexColumns = rm(defn.setIndexColumns)))
    }
    // The reopen must not resurrect the column through THIS instance's
    // config: open() treats an absent tabledef list as "opener's choice"
    // (the pre-existing-table posture), so a now-empty list would fall
    // back to the very config that still carries the dropped column.
    ColumnarMergeTree.open(spark, path, config.copy(
      bloomFilterColumns = config.bloomFilterColumns.filterNot(_ == column),
      minmaxColumns = config.minmaxColumns.filterNot(_ == column),
      tokenBloomColumns = config.tokenBloomColumns.filterNot(_ == column),
      ngramBloomColumns = config.ngramBloomColumns.filterNot(_ == column),
      setIndexColumns = config.setIndexColumns.filterNot(_ == column)))
  }

  /** ClickHouse `ALTER TABLE … MATERIALIZE INDEX <column>`: retrofit the
    * declared FILE-backed sidecars (tokenbf/ngrambf/set) onto existing
    * parts that predate the ADD INDEX — one distributed pass per missing
    * (part, kind), the sidecar landing via atomic rename so concurrent
    * readers see either no file (unprunable, correct) or the whole file.
    * Parts are immutable, so a retrofit sidecar is exact forever. Returns
    * the number of sidecars built. minmax/bloom_filter refuse — they live
    * in footers/manifest stats, only OPTIMIZE TABLE … FINAL (a part
    * rewrite) can produce them for old parts.
    */
  def materializeIndex(column: String): Int = {
    val defn = TableDef.load(path).getOrElse(
      throw new IllegalStateException(s"no table definition at $path"))
    val fileKinds = Seq(
      ("tokenbf", defn.tokenBloomColumns, s"_tokenbf_$column"),
      ("ngrambf", defn.ngramBloomColumns, s"_ngrambf_$column"),
      ("set", defn.setIndexColumns, s"_set_$column")
    ).filter(_._2.exists(_.contains(column)))
    val rewriteOnly = Seq(defn.minmaxColumns, defn.bloomFilterColumns)
      .exists(_.exists(_.contains(column)))
    require(fileKinds.nonEmpty || rewriteOnly,
      s"MATERIALIZE INDEX: column '$column' is not indexed")
    require(fileKinds.nonEmpty,
      s"MATERIALIZE INDEX: '$column' has only footer/manifest-backed " +
        "indexes (minmax/bloom_filter) — OPTIMIZE TABLE … FINAL rewrites " +
        "parts and materializes those")
    val parts = ColumnarMergeTree.GManifest.load(path)
      .map(_.parts).getOrElse(Nil)
    var built = 0
    parts.foreach { p =>
      val dir = Paths.get(path, p.dir)
      fileKinds.foreach { case (kind, _, file) =>
        if (!Files.exists(dir.resolve(file))) {
          kind match {
            case "tokenbf" => buildTokenBlooms(dir, Seq(column))
            case "ngrambf" => buildNgramBlooms(dir, Seq(column))
            case "set"     => buildSetIndexes(dir, Seq(column))
          }
          built += 1
        }
      }
    }
    built
  }

  /** ClickHouse `SYSTEM STOP MERGES`: pause BACKGROUND maintenance (worker
    * compaction and pending-mutation folding) on this table, across every
    * instance and process — the switch is a marker file, polled by each
    * worker at wake. Explicit `optimize()`/`OPTIMIZE TABLE` stays
    * available (ClickHouse semantics): STOP MERGES is for operators who
    * need I/O quiet or a stable part set (e.g. around a freeze), not a
    * correctness gate. `startMerges` resumes.
    */
  def stopMerges(): Unit =
    MetaFiles.publish(Paths.get(path, ColumnarMergeTree.MergesStoppedMarker),
      Array.emptyByteArray)

  def startMerges(): Unit = {
    Files.deleteIfExists(Paths.get(path, ColumnarMergeTree.MergesStoppedMarker))
    ()
  }

  def mergesStopped: Boolean =
    Files.exists(Paths.get(path, ColumnarMergeTree.MergesStoppedMarker))

  /** Detached part metadata (introspection for the quarantine workflow). */
  def detachedParts: Seq[GPartMeta] = DetachedSet.load(path)

  def partCount: Int = manifest.parts.size
  def parts: Seq[GPartMeta] = manifest.parts
  def totalRows: Long = manifest.parts.map(_.rowCount).sum
  def diskUsage: Long = manifest.parts.map(_.diskSize).sum

  /** ClickHouse `system.parts` as a DataFrame: one row per live part with
    * its manifest metadata — the operator-facing observability surface
    * (which partitions are hot, what would a merge touch, is pruning
    * effective), queryable with the full SQL surface, zero data I/O.
    */
  def partsDf: DataFrame = {
    import spark.implicits._
    manifest.parts.map(p => (p.partId, p.partition.orNull, p.rowCount,
        p.granuleCount, p.diskSize, p.minKey, p.maxKey, p.creationTime))
      .toDF("part_id", "partition", "rows", "granules", "bytes",
        "min_key", "max_key", "created_ms")
  }

  /** Metadata-only operational snapshot (O24 parity for the storage layer
    * incl. the GC): live parts/rows/bytes from the manifest, plus how many
    * retired directories await grace expiry — the observable form of "is
    * this table leaking dirs".
    */
  def stats: Map[String, Long] = {
    val live = manifest.parts
    Map(
      "parts" -> live.size.toLong,
      "rows" -> live.map(_.rowCount).sum,
      "bytes" -> live.map(_.diskSize).sum,
      "partitions" -> live.flatMap(_.partition).distinct.size.toLong,
      "gc_pending" -> gcPending.size.toLong)
  }
}

object ColumnarMergeTree {

  /** What Spark names the directory for a NULL dynamic-partition value; we
    * reuse it as the manifest's null-partition sentinel.
    */
  val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** tokenbf tokenizer: alphanumeric runs, everything else is a separator
    * (ClickHouse tokenbf_v1's definition). Must match the residual filter
    * in scanHasToken and the has_token SQL function exactly.
    */
  val TokenSplitRe = "[^A-Za-z0-9]+"
  /** Quantile sidecar knots: order statistics at i/256 for i in 0..256 —
    * rank resolution 1/256 per part, ~4 KB of JSON per part per column.
    */
  val QuantileKnots: Seq[Double] = (0 to 256).map(_ / 256.0)

  /** topK sidecar capacity: matches the SQL registration's SpaceSaving
    * capacity (graft.functions topk(50) / capacity 4096) — exact whenever
    * a part holds ≤ 4096 distinct values of the column; ~50-150 KB of JSON
    * per part per column otherwise.
    */
  val TopKSidecarCapacity = 4096

  /** tokenbf sizing: ~100k distinct tokens at 1% fpp ≈ 120 KB/part/column. */
  val TokenBloomExpectedTokens = 100000L
  val TokenBloomFpp = 0.01

  /** ngrambf gram width (ClickHouse ngrambf_v1's default n=3) and sizing:
    * 3-gram vocabularies saturate far below token vocabularies (≤ ~256³
    * possible ASCII grams, real text uses a fraction), so a smaller bloom
    * suffices at the same fpp.
    */
  val NgramSize = 3
  val NgramBloomExpectedNgrams = 50000L
  val NgramBloomFpp = 0.01

  /** set(N) sidecar cap — ClickHouse's set(max_rows) knob with a fixed
    * default: a part holding more distinct values than this records a
    * saturated sidecar (never prunes). 256 covers the enum/status/lang
    * columns the index exists for while bounding the sidecar at a few KB.
    */
  val SetIndexMaxValues = 256

  /** Types whose canonical string form is unambiguous — the set(N)
    * eligibility rule (floats excluded: "1.0" vs "1").
    */
  private[graft] def setIndexEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType | BooleanType => true
    case _ => false
  }

  /** ADD INDEX kind names: ClickHouse's spellings (tokenbf_v1 with sizing
    * args, set(N) — the args are sizing tuning, this engine's sidecars are
    * fixed-sized, accepted and ignored with the SETTINGS-allowlist posture)
    * normalize to the engine's five families; anything else is loud.
    */
  private[graft] def normalizeIndexKind(kind0: String): String = {
    val base = kind0.trim.takeWhile(_ != '(').trim.toLowerCase
    base match {
      case "bloom_filter"           => "bloom_filter"
      case "minmax"                 => "minmax"
      case "tokenbf_v1" | "tokenbf" => "tokenbf"
      case "ngrambf_v1" | "ngrambf" => "ngrambf"
      case "set"                    => "set"
      case other => throw new IllegalArgumentException(
        s"unsupported index TYPE '$other' — " +
          "bloom_filter | minmax | tokenbf_v1 | ngrambf_v1 | set(N) map here")
    }
  }

  /** Canonical probe-value encoding — must match the build job's
    * cast-to-string exactly (Spark's cast and JVM toString agree for the
    * eligible types).
    */
  private[graft] def setIndexCanon(v: Any): String = String.valueOf(v)

  /** Apply a part's pending lightweight mutations to its rows, IN ORDER.
    * "del" hides rows where the predicate is TRUE (NULL keeps — SQL WHERE
    * semantics, the same coalesce as deleteWhere); "upd" replaces each
    * set column where the predicate is TRUE, simultaneous-assignment
    * against the old row (like updateWhere), cast back to the column's
    * own type so a patch can never drift the part schema.
    */
  private[graft] def applyMuts(df: DataFrame, muts: Seq[GMut]): DataFrame =
    muts.foldLeft(df) { (acc, m) =>
      m.kind match {
        case "del" => acc.filter(!coalesce(expr(m.cond), lit(false)))
        case "upd" =>
          val isHit = coalesce(expr(m.cond), lit(false))
          val sets = m.set.getOrElse(Nil).collect { case List(c, e) => (c, e) }
          val staged = sets.zipWithIndex
          val withNew = staged.foldLeft(acc) { case (a, ((c, e), i)) =>
            a.withColumn(s"__lwu_$i",
              when(isHit, expr(e).cast(a.schema(c).dataType)).otherwise(col(c)))
          }
          staged.foldLeft(withNew) { case (a, ((c, _), i)) =>
            a.withColumn(c, col(s"__lwu_$i"))
          }.select(df.columns.map(col).toIndexedSeq: _*)
        case other => throw new IllegalStateException(
          s"unknown pending mutation kind '$other'")
      }
    }

  /** Pending lightweight mutations a part may accumulate before the table
    * demands materialization — each is re-evaluated on every read of the
    * part, so an unbounded list would quietly turn O(manifest) statements
    * into an O(muts)-deep read plan.
    */
  private[graft] val MaxLwMutsPerPart = 64

  /** ADVISORY marker file flagging "this table may have pending
    * lightweight mutations" — an observability hint (and a cheap probe for
    * tooling), NOT a correctness gate: every read face applies pending
    * mutations from the manifest it plans against (engine readParts, DSv2
    * MutProgram), so a missing or stale marker can never change an answer.
    * Created when a statement tags parts (and when ATTACH re-links tagged
    * parts); removed by the maintenance op that materializes the last
    * pending predicate, checked against the ON-DISK manifest and the
    * detached set.
    */
  private[graft] def lwMarkerPath(tablePath: String): java.nio.file.Path =
    Paths.get(tablePath, "_lw_deletes")

  private[graft] def hasLwMarker(tablePath: String): Boolean =
    Files.exists(lwMarkerPath(tablePath))

  /** SYSTEM STOP MERGES switch (see stopMerges) — a marker file so the
    * pause binds every instance and process on the table.
    */
  private[graft] val MergesStoppedMarker = "_merges_stopped"

  /** Parsed set(N) sidecars, keyed by (file, mtime): sidecars are
    * write-once with the part dir, so repeat probes (every planned scan
    * touches every live part) cost one stat instead of a read + JSON
    * parse per part per query. None = keep-always (saturated, garbled, or
    * value-less). BOUNDED like [[bloomSidecarCache]]: compacted-away
    * parts' entries are never re-keyed, so compaction churn on a
    * long-lived driver would grow this without bound — past
    * [[SetCacheMaxEntries]] (entries are ≤256 short strings, so the
    * threshold is higher than the bloom cache's) it clears wholesale;
    * a miss only costs the JSON parse it was saving.
    */
  private val SetCacheMaxEntries = 4096
  private val setSidecarCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Option[Set[String]]]

  /** Parsed token/ngram bloom sidecars, same (file, mtime) key discipline
    * as [[setSidecarCache]]: a hasToken/contains probe otherwise re-reads
    * ~120 KB per part per query. BloomFilter reads are thread-safe
    * (immutable bitset after load); read errors propagate, as the
    * uncached probes always did. Unlike the few-KB set entries, blooms
    * are ~120 KB each — the cache is BOUNDED: past
    * [[BloomCacheMaxEntries]] (~30 MB) it clears wholesale (epoch
    * eviction — crude but O(1), and a miss only costs the read it was
    * saving; compaction churn therefore cannot grow the driver without
    * bound).
    */
  private val BloomCacheMaxEntries = 256
  private val bloomSidecarCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), org.apache.spark.util.sketch.BloomFilter]

  private[mergetree] def loadBloom(
      f: java.nio.file.Path): Option[org.apache.spark.util.sketch.BloomFilter] = {
    if (!Files.exists(f)) return None
    val mtime = try Files.getLastModifiedTime(f).toMillis
      catch { case scala.util.control.NonFatal(_) => return None }
    if (bloomSidecarCache.size > BloomCacheMaxEntries) bloomSidecarCache.clear()
    Some(bloomSidecarCache.getOrElseUpdate((f.toString, mtime), {
      val in = Files.newInputStream(f)
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    }))
  }

  /** Does `partDir`'s set(N) sidecar for `column` allow any of `values`?
    * Missing sidecar, saturated sidecar, or an unreadable/garbled one → keep
    * (the index accelerates, never filters). Shared by the Scala scanIn
    * and the DSv2 connector's equality pruning.
    */
  private[graft] def setIndexAllows(path: String, partDir: String,
      column: String, values: Set[String]): Boolean = {
    val f = Paths.get(path, partDir, s"_set_$column")
    if (!Files.exists(f)) return true
    val mtime = try Files.getLastModifiedTime(f).toMillis
      catch { case scala.util.control.NonFatal(_) => return true }
    if (setSidecarCache.size > SetCacheMaxEntries) setSidecarCache.clear()
    val parsed = setSidecarCache.getOrElseUpdate((f.toString, mtime), {
      try {
        import org.json4s.DefaultFormats
        import org.json4s.jackson.JsonMethods
        implicit val fmts: org.json4s.Formats = DefaultFormats
        val j = JsonMethods.parse(new String(Files.readAllBytes(f), "UTF-8"))
        if ((j \ "saturated").extractOpt[Boolean].getOrElse(false)) None
        else (j \ "values").extractOpt[List[String]].map(_.toSet)
      } catch { case scala.util.control.NonFatal(_) => None }
    })
    parsed.fold(true)(vs => vs.exists(values))
  }

  /** MV-registry name prefix marking a projection (identity MV kept as an
    * alternate sort order; see addProjection).
    */
  private[graft] val ProjPrefix = "__proj_"
  private[graft] val AggProjPrefix = "__aggproj_"

  /** Undo the `%XX` escaping Spark's dynamic-partition write applies to
    * path-hostile characters in partition directory names
    * (ExternalCatalogUtils.escapePathName).
    */
  def unescapePartitionDir(name: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(name)

  /** The SAMPLE keep-predicate as a standalone expression, so sampleScan
    * and the SQL `sample 'n/d'` read option (MergeTreeFinalRule) share ONE
    * implementation: keep rows whose 64-bit hash of the ORDER BY key
    * columns falls in the first num/den of the hash space. Deterministic
    * across runs, parts, merges, and engines reading the same rows
    * (xxhash64 of the key, not of physical position), and composable:
    * SAMPLE 1/4 ⊂ SAMPLE 1/2, like ClickHouse's sampling-key contract.
    * Unsigned right shift folds the hash into [0, 2^63) — abs() would map
    * Long.MinValue to itself (negative: in EVERY sample) or throw under
    * ANSI mode. Threshold in BigInt: num * 2^63 overflows Long.
    */
  private[graft] def samplePredicate(orderBy: Seq[String], num: Long, den: Long): Column =
    shiftrightunsigned(xxhash64(orderBy.map(col): _*), 1) <
      lit(((BigInt(1) << 63) * num / den).toLong)

  /** Merge-mode collapse as a standalone transformation, so the table's
    * scan() and the SQL FINAL read (MergeTreeFinalRule) share ONE
    * implementation of the semantics. On a partitioned table the collapse
    * groups by the (re-derived) partition value too — ClickHouse merges
    * never cross partitions, so the same key in two partitions stays two
    * rows (e.g. per-month Summing totals don't sum across months).
    */
  private[graft] def applyMode(df: DataFrame, schema: StructType, mode: MergeMode,
                               partitionBy: Option[String]): DataFrame = {
    val pv: Seq[Column] = partitionBy.toSeq.map(p => partitionValueExpr(p))
    mode match {
      case MergeMode.Plain => df
      case MergeMode.Replacing(keys, version) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col) ++ pv: _*).orderBy(col(version).desc)
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case MergeMode.Summing(keys, sums) =>
        val others = schema.fieldNames.filterNot(f => keys.contains(f) || sums.contains(f))
        // Cast back to the declared type (the Aggregating rule): sum()
        // widens int → long, and a collapse-in-merge rewrite landing an
        // INT64 part into an int-declared column would make every later
        // schema'd read of the table fail.
        val aggs = sums.map(s => sum(col(s)).cast(schema(s).dataType).as(s)) ++
          others.map(o => max(col(o)).as(o))
        df.groupBy(keys.map(col) ++ pv: _*)
          .agg(aggs.head, aggs.tail: _*)
          .select(schema.fieldNames.map(col): _*)
      case MergeMode.Collapsing(keys, sign, version) =>
        val others = schema.fieldNames
          .filterNot(f => keys.contains(f) || f == sign || f == version)
        val aggs = sum(col(sign)).as("__net") +: others.map(o => max(col(o)).as(o))
        df.groupBy((keys :+ version).map(col) ++ pv: _*)
          .agg(aggs.head, aggs.tail: _*)
          .filter(col("__net") > 0)
          .withColumn(sign, lit(1).cast(schema(sign).dataType))
          .select(schema.fieldNames.map(col): _*)
      case MergeMode.Aggregating(keys, aggSpec) =>
        val aggCols = aggSpec.map(_._1)
        val others = schema.fieldNames
          .filterNot(f => keys.contains(f) || aggCols.contains(f))
        // Cast back to the declared type: sum() widens (int → long) and a
        // collapse-in-merge rewrite must land parts in the TABLE's schema.
        val fns = aggSpec.map { case (c, fn) =>
          (fn match {
            case "sum" => sum(col(c))
            case "min" => min(col(c))
            case _     => max(col(c))
          }).cast(schema(c).dataType).as(c)
        }
        val aggs = fns ++ others.map(o => max(col(o)).as(o))
        df.groupBy(keys.map(col) ++ pv: _*)
          .agg(aggs.head, aggs.tail: _*)
          .select(schema.fieldNames.map(col): _*)
    }
  }

  /** `PARTITION BY bucket(N, col)` — the Iceberg-style bucket transform
    * spelled as table metadata. Returns (numBuckets, column) when the
    * partition expression is exactly that shape.
    */
  private val BucketPartitionRe =
    """(?i)^\s*bucket\s*\(\s*(\d+)\s*,\s*`?([A-Za-z_][A-Za-z0-9_]*)`?\s*\)\s*$""".r

  private[graft] def bucketPartition(p: String): Option[(Int, String)] = p match {
    case BucketPartitionRe(n, c) if n.toInt > 0 => Some((n.toInt, c))
    case _                                      => None
  }

  /** The bucket transform's DEFINITION: pmod(xxhash64(col), n) — Spark's
    * public xxhash64 builtin (seed 42), so the write side is ordinary
    * Spark SQL and a user can reproduce a row's bucket with one
    * expression. bucket(NULL) is the NULL partition (Iceberg semantics —
    * xxhash64's own null handling would silently fold nulls into bucket
    * pmod(42, n)). GraftBucketFunction.produceResult MUST compute the
    * same arithmetic — it is the scan-side identity of this transform
    * for storage-partitioned joins.
    */
  private[graft] def bucketValueColumn(n: Int, c: String): Column =
    when(col(c).isNull, lit(null))
      .otherwise(pmod(xxhash64(col(c)), lit(n.toLong)))

  /** The partition value as stored in part metadata: the expression cast to
    * string, with SQL NULL mapped to the hive default-partition sentinel
    * (what Spark's partitioned write names the directory). `bucket(N, col)`
    * is recognized as the bucket transform (it is not a SQL function Spark
    * can resolve); anything else is an ordinary SQL expression.
    */
  private[graft] def partitionValueExpr(p: String): Column =
    bucketPartition(p) match {
      case Some((n, c)) =>
        coalesce(bucketValueColumn(n, c).cast("string"),
          lit(ColumnarMergeTree.NullPartition))
      case None =>
        coalesce(expr(p).cast("string"), lit(ColumnarMergeTree.NullPartition))
    }

  /** `SAMPLE k` slice bound: floor(k · 2³²). */
  def sampleThreshold(k: Double): Long = math.floor(k * 4294967296.0).toLong

  /** The `SAMPLE k` predicate as SQL text — ONE definition shared by the
    * Scala face (sampleScan) and the parser rewrite (GraftSqlParser), so
    * the two can never sample different slices. `sampleBy` present: a
    * plain range on the declared column (prunable). Absent: the md5 slice
    * of the lead key (deterministic, row-level).
    */
  def samplePredicateSql(sampleBy: Option[String], orderBy: Seq[String], k: Double,
      offset: Double = 0.0): String = {
    require(k > 0 && k <= 1 && offset >= 0 && offset + k <= 1 + 1e-12,
      s"SAMPLE needs 0 < k, 0 <= offset, offset + k <= 1; got k=$k offset=$offset")
    sampleBy match {
      case Some(c) =>
        s"`$c` >= ${sampleThreshold(offset)} AND `$c` < ${sampleThreshold(offset + k)}"
      case None => md5SlicePredicate(orderBy.head, k, offset)
    }
  }

  /** Sampling-key-consistent md5 slice: first 8 hex chars of md5(lead key)
    * compared against the [m·2³², (m+k)·2³²) bounds as lowercase hex —
    * lexicographic hex order IS numeric order, and the same expression is
    * spellable in any SQL engine (the DuckDB oracle uses
    * `('0x' || substr(md5(x),1,8))::BIGINT < thr`).
    */
  def md5SlicePredicate(keyCol: String, k: Double, offset: Double = 0.0): String = {
    val slice = f"substring(md5(CAST(`$keyCol` AS STRING)), 1, 8)"
    // Every 8-hex-char slice is < 2^32 by construction, so when the slice
    // reaches the top of the hash space the upper clause must be DROPPED,
    // not formatted: 2^32 renders as the NINE-char '100000000' and the
    // lexicographic hex compare would then exclude every slice above
    // '10000001…' — SAMPLE 1 kept ~1/16 of rows and SAMPLE 0.5 OFFSET 0.5
    // (the advertised train/test split) returned empty. Mirrors how the
    // lower bound is dropped at offset <= 0.
    val hi = Option(sampleThreshold(offset + k)).filter(_ < 4294967296L)
      .map(t => f"$slice < '$t%08x'")
    val lo = Option(sampleThreshold(offset)).filter(_ => offset > 0)
      .map(t => f"$slice >= '$t%08x'")
    (lo ++ hi).reduceOption(_ + " AND " + _).getOrElse("true")
  }

  def create(spark: SparkSession, path: String, schema: StructType,
             orderBy: Seq[String],
             config: MergeTreeConfig = MergeTreeConfig(),
             mode: MergeMode = MergeMode.Plain,
             partitionBy: Option[String] = None,
             ttl: Option[String] = None,
             sampleBy: Option[String] = None): ColumnarMergeTree = {
    Files.createDirectories(Paths.get(path))
    TableDef.store(path, TableDef(schema.toDDL, orderBy.toList,
      TableDef.encodeMode(mode), partitionBy, ttl,
      Some(config.gcGraceSeconds),
      Some(config.bloomFilterColumns.toList).filter(_.nonEmpty),
      Some(config.minmaxColumns.toList).filter(_.nonEmpty),
      Some(config.tokenBloomColumns.toList).filter(_.nonEmpty),
      Some(config.ngramBloomColumns.toList).filter(_.nonEmpty),
      Some(config.hllColumns.toList).filter(_.nonEmpty),
      Some(config.topKColumns.toList).filter(_.nonEmpty),
      Some(config.quantileColumns.toList).filter(_.nonEmpty),
      Some(config.setIndexColumns.toList).filter(_.nonEmpty),
      sampleBy))
    if (config.manifestLog) GManifest.enableLogLayout(path)
    new ColumnarMergeTree(spark, path, schema, orderBy, config, mode, partitionBy, ttl,
      sampleBy)
  }

  def open(spark: SparkSession, path: String, schema: StructType,
           orderBy: Seq[String],
           config: MergeTreeConfig = MergeTreeConfig(),
           mode: MergeMode = MergeMode.Plain,
           partitionBy: Option[String] = None,
           ttl: Option[String] = None,
           sampleBy: Option[String] = None): ColumnarMergeTree =
    new ColumnarMergeTree(spark, path, schema, orderBy, config, mode, partitionBy, ttl,
      sampleBy)

  /** Open a self-describing table: schema, order keys, and merge mode come
    * from the table definition persisted at create() — the analogue of the
    * reference's metadata.bin carrying everything needed to reopen
    * (src/merge_tree.cpp:164-197), generalized to arbitrary schemas.
    */
  def open(spark: SparkSession, path: String): ColumnarMergeTree =
    open(spark, path, config = MergeTreeConfig())

  def open(spark: SparkSession, path: String, config: MergeTreeConfig): ColumnarMergeTree = {
    val defn = TableDef.load(path).getOrElse(
      throw new IllegalStateException(s"no table definition at $path"))
    // The creator's grace window and bloom columns are table metadata, not
    // an opener choice: an opener purging on its own (shorter) clock would
    // defeat the window other instances' readers rely on, and parts written
    // without the declared blooms would silently lose the skip index.
    val cfg0 = defn.gcGraceSeconds match {
      case Some(g) => config.copy(gcGraceSeconds = g)
      case None    => config
    }
    val cfg1 = defn.bloomFilterColumns match {
      case Some(bs) => cfg0.copy(bloomFilterColumns = bs)
      case None     => cfg0
    }
    val cfg2 = defn.minmaxColumns match {
      case Some(ms) => cfg1.copy(minmaxColumns = ms)
      case None     => cfg1
    }
    val cfg3 = defn.tokenBloomColumns match {
      case Some(ts) => cfg2.copy(tokenBloomColumns = ts)
      case None     => cfg2
    }
    val cfg4 = defn.ngramBloomColumns match {
      case Some(ns) => cfg3.copy(ngramBloomColumns = ns)
      case None     => cfg3
    }
    val cfg5 = defn.hllColumns match {
      case Some(hs) => cfg4.copy(hllColumns = hs)
      case None     => cfg4
    }
    val cfg6 = defn.topKColumns match {
      case Some(ts) => cfg5.copy(topKColumns = ts)
      case None     => cfg5
    }
    val cfg7 = defn.quantileColumns match {
      case Some(qs) => cfg6.copy(quantileColumns = qs)
      case None     => cfg6
    }
    val cfg = defn.setIndexColumns match {
      case Some(ss) => cfg7.copy(setIndexColumns = ss)
      case None     => cfg7
    }
    new ColumnarMergeTree(spark, path,
      StructType.fromDDL(defn.schemaDdl), defn.orderBy, cfg,
      TableDef.decodeMode(defn.mode), defn.partitionBy, defn.ttl, defn.sampleBy)
  }

  /** Persisted table definition (tabledef.json). Mode encoding:
    * ["plain"] | ["replacing", keys..., versionCol] is ambiguous, so fields
    * are kept structured instead. partitionBy/ttl are SQL expression
    * strings; both absent on tables created before the fields existed.
    */
  case class TableDef(
      schemaDdl: String,
      orderBy: List[String],
      mode: Map[String, List[String]],
      partitionBy: Option[String] = None,
      ttl: Option[String] = None,
      /** Reader grace window, persisted so EVERY opener of a shared table
        * honors the creator's value (self-describing open overrides the
        * passed config); absent on pre-existing tables → opener's config.
        */
      gcGraceSeconds: Option[Int] = None,
      /** Bloom-filter columns, persisted so parts written by ANY opener
        * (SQL INSERT through the connector included) carry the blooms.
        */
      bloomFilterColumns: Option[List[String]] = None,
      /** Minmax skip-index columns, persisted for the same reason: a part
        * written by an opener unaware of the index would carry no bounds
        * and silently become unprunable.
        */
      minmaxColumns: Option[List[String]] = None,
      /** Token-bloom skip-index columns (tokenbf), persisted so every
        * writer builds the sidecar — a part without one is kept by every
        * hasToken probe (correct, just unprunable).
        */
      tokenBloomColumns: Option[List[String]] = None,
      /** N-gram-bloom skip-index columns (ngrambf) — substring-search
        * complement to tokenbf, same persistence rationale.
        */
      ngramBloomColumns: Option[List[String]] = None,
      /** Per-part HLL `uniq` sketch columns, persisted so every writer
        * builds the sidecar — a part without one degrades approxDistinct
        * to an on-the-fly scan of that part (correct, just not free).
        */
      hllColumns: Option[List[String]] = None,
      /** Per-part SpaceSaving top-K sketch columns — same persistence
        * rationale as hllColumns, for approxTopK.
        */
      topKColumns: Option[List[String]] = None,
      /** Per-part quantile summary columns — same persistence rationale,
        * for approxQuantiles.
        */
      quantileColumns: Option[List[String]] = None,
      /** set(N) skip-index columns — same persistence rationale as the
        * other skip indexes: a part written without the sidecar is kept
        * by every probe (correct, just unprunable).
        */
      setIndexColumns: Option[List[String]] = None,
      /** ClickHouse `SAMPLE BY`: the name of an integral column holding a
        * value uniform on [0, 2^32) (e.g. the first 8 hex chars of
        * md5(user_id), as an integer). `SAMPLE k` then reads the
        * deterministic slice `sampleBy < k·2^32` — all rows of a sampling
        * key land in or out together, the ClickHouse consistency contract.
        * When the column LEADS the ORDER BY (ClickHouse requires SAMPLE BY
        * in the primary key), the slice is a lead-key range: whole parts
        * prune driver-side and row groups prune from footer stats, so
        * SAMPLE 0.01 of 100 TB reads ~1 TB. Absent → `SAMPLE k` still
        * works via an md5 slice of the lead key, but reads every granule.
        */
      sampleBy: Option[String] = None)

  object TableDef {
    private val File = "tabledef.json"

    def encodeMode(m: MergeMode): Map[String, List[String]] = m match {
      case MergeMode.Plain => Map("type" -> List("plain"))
      case MergeMode.Replacing(keys, v) =>
        Map("type" -> List("replacing"), "keys" -> keys.toList, "version" -> List(v))
      case MergeMode.Summing(keys, sums) =>
        Map("type" -> List("summing"), "keys" -> keys.toList, "sums" -> sums.toList)
      case MergeMode.Collapsing(keys, sign, version) =>
        Map("type" -> List("collapsing"), "keys" -> keys.toList,
          "sign" -> List(sign), "version" -> List(version))
      case MergeMode.Aggregating(keys, aggs) =>
        Map("type" -> List("aggregating"), "keys" -> keys.toList,
          "aggcols" -> aggs.map(_._1).toList, "aggfns" -> aggs.map(_._2).toList)
    }

    def decodeMode(m: Map[String, List[String]]): MergeMode =
      m.getOrElse("type", List("plain")).head match {
        case "replacing"  => MergeMode.Replacing(m("keys"), m("version").head)
        case "summing"    => MergeMode.Summing(m("keys"), m("sums"))
        case "collapsing" => MergeMode.Collapsing(m("keys"), m("sign").head, m("version").head)
        case "aggregating" =>
          MergeMode.Aggregating(m("keys"), m("aggcols").zip(m("aggfns")))
        case _            => MergeMode.Plain
      }

    def load(tablePath: String): Option[TableDef] =
      MetaFiles.readJson[TableDef](Paths.get(tablePath, File))

    def store(tablePath: String, d: TableDef): Unit =
      MetaFiles.publishJson(Paths.get(tablePath, File), d)
  }

  /** Part metadata with leading-key bounds kept as strings plus a numeric
    * flag, so one manifest format serves string and integral keys with
    * correct comparison semantics.
    */
  case class GPartMeta(
      partId: Long,
      minKey: String,
      maxKey: String,
      numericKey: Boolean,
      rowCount: Long,
      granuleCount: Long,
      diskSize: Long,
      creationTime: Long,
      /** Partition value (string form of the PARTITION BY expression; the
        * hive default-partition sentinel for SQL NULL). None on parts of
        * unpartitioned tables — and on manifests written before this field
        * existed, which json4s reads as absent.
        */
      partition: Option[String] = None,
      /** Minmax skip-index bounds for the table's declared minmaxColumns.
        * Absent on parts written before the index existed (or by an opener
        * predating the field — json4s reads missing as None): such parts
        * are simply never pruned by the index. A column missing from the
        * list had incomplete footer stats in this part — same treatment.
        */
      colStats: Option[List[GColStat]] = None,
      /** On-disk directory name when it differs from `part_<partId>` —
        * log-mode registration claims UNIQUE (uuid) names so a crashed
        * writer can never stall a concurrent claimant on a rename (and no
        * rename-claim needs to exist, the object-store posture); the
        * manifest CAS is the only claim. None (json4s reads missing as
        * absent) on default-layout parts and all pre-existing manifests.
        */
      dirName: Option[String] = None,
      /** Lightweight mutations pending against this part, IN ORDER
        * (ClickHouse `DELETE FROM` masks / patch-part `UPDATE`s): each is
        * applied to the part's rows at read time until a part rewrite
        * (merge / OPTIMIZE / deleteWhere / updateWhere) materializes and
        * clears the list. Order matters — an UPDATE can change what a
        * later DELETE matches and vice versa. Per-PART, not per-table:
        * rows inserted after the statement land in new untagged parts
        * and are not subject to it — the ClickHouse `_row_exists`/patch
        * semantics, expressed as stored as-of expressions. None (json4s
        * reads missing as absent) on pre-existing manifests and on every
        * freshly-written part.
        */
      pendingMuts: Option[List[GMut]] = None) {

    /** The part's directory name under the table path. */
    def dir: String = dirName.getOrElse(s"part_$partId")

    /** Pending lightweight mutations, oldest first (empty = none). */
    def muts: List[GMut] = pendingMuts.getOrElse(Nil)

    /** Inclusive-range overlap. Null bounds mean the part is unbounded
      * (footer key stats were incomplete — see PartStats.Footers.bounds):
      * never pruned.
      * String bounds compare in UTF-8 byte order (KeyOrder) to match Spark
      * filter / parquet stats collation.
      */
    def overlaps(lo: Any, hi: Any): Boolean =
      if (minKey == null || maxKey == null) true
      else if (numericKey) {
        // A probe that doesn't parse as the key's integer type (e.g. a
        // fractional literal against a long key) must KEEP the part, not
        // crash pruning — correctness never depends on pruning.
        try {
          val l = lo.toString.toLong; val h = hi.toString.toLong
          !(maxKey.toLong < l || minKey.toLong > h)
        } catch { case _: NumberFormatException => true }
      } else {
        val l = lo.toString; val h = hi.toString
        !(KeyOrder.lt(maxKey, l) || KeyOrder.gt(minKey, h))
      }

    /** Can rows with `column` in [lo, hi] exist in this part? True when the
      * part carries no bounds for the column (never prune blind). NULLs
      * never match a range predicate, so non-null footer bounds are safe.
      */
    def colAllows(column: String, lo: Any, hi: Any): Boolean =
      colAllowsRange(column, Some(lo), Some(hi))

    /** One-sided variant for pushed SQL predicates (`>= lo` / `<= hi`). */
    def colAllowsRange(column: String, lo: Option[Any], hi: Option[Any]): Boolean =
      colStats.flatMap(_.find(_.col == column)) match {
        case None => true
        case Some(s) =>
          // A NaN anywhere (stored bound from an old manifest, or a NaN
          // probe value) makes Double.compare order it above +Inf, which
          // would wrongly prune; treat any NaN as "can't decide" = keep.
          def anyNaN(v: String) =
            s.kind == "double" && (try v.toDouble.isNaN catch { case _: Throwable => true })
          def cmpK(a: String, b: String): Int = s.kind match {
            case "long"   => java.lang.Long.compare(a.toLong, b.toLong)
            case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
            case _        => KeyOrder.cmp(a, b)
          }
          if (anyNaN(s.min) || anyNaN(s.max) ||
            lo.exists(l => anyNaN(l.toString)) || hi.exists(h => anyNaN(h.toString))) true
          else try lo.forall(l => cmpK(s.max, l.toString) >= 0) &&
            hi.forall(h => cmpK(s.min, h.toString) <= 0)
          // unparseable probe (fractional vs "long" stats) -> can't decide, keep
          catch { case _: NumberFormatException => true }
      }
  }

  /** One minmax skip-index entry: bounds serialized as strings with a kind
    * tag ("long" | "double" | "string") selecting the comparison.
    */
  case class GColStat(col: String, min: String, max: String, kind: String)

  /** A freshly-written part's manifest metadata from its footers (see
    * `footerMeta`).
    */
  private final case class FooterMeta(minKey: String, maxKey: String, rows: Long,
      granules: Long, colStats: List[GColStat])

  /** A written, unclaimed part: its staging dir, partition value, footer
    * metadata and on-disk size.
    */
  private final case class StagedPart(dir: java.nio.file.Path, partition: Option[String],
      footer: FooterMeta, size: Long)

  /** One pending lightweight mutation: kind "del" (hide rows where `cond`
    * is TRUE) or "upd" (replace each `set` column by its expression where
    * `cond` is TRUE — simultaneous assignment against the OLD row). SQL
    * strings are the RESOLVED forms validated at statement time; `set`
    * entries are [column, expressionSql] pairs (json4s-plain shape).
    */
  case class GMut(kind: String, cond: String,
                  set: Option[List[List[String]]] = None)

  /** Type equality ignoring nullability at every nesting level (the
    * parquet-physical view: containsNull never changes the encoding).
    */
  private[mergetree] def sameTypeIgnoreNull(a: DataType, b: DataType): Boolean =
    (a, b) match {
      case (x: ArrayType, y: ArrayType) =>
        sameTypeIgnoreNull(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        sameTypeIgnoreNull(x.keyType, y.keyType) &&
          sameTypeIgnoreNull(x.valueType, y.valueType)
      case (x: StructType, y: StructType) =>
        x.fields.length == y.fields.length &&
          x.fields.zip(y.fields).forall { case (f, g) =>
            f.name == g.name && sameTypeIgnoreNull(f.dataType, g.dataType) }
      case _ => a == b
    }

  /** Last orphan-sweep wall-clock per table path (sweep throttle). */
  private[mergetree] val orphanSweepAt = scala.collection.mutable.Map.empty[String, Long]

  /** Placeholder relation name in a materialized view's SQL. */
  val MvInput = "__INPUT__"

  /** Reject an MV whose target chain leads back to the source: A→A clobbers
    * the source's own tabledef, and A→B→A recurses insertBatch until stack
    * overflow mid-insert. BFS over the persisted registries of the proposed
    * target and everything it already feeds.
    */
  private[graft] def requireNoMvCycle(sourcePath: String, targetPath: String): Unit = {
    val src = Paths.get(sourcePath).toAbsolutePath.normalize.toString
    val seen = scala.collection.mutable.Set.empty[String]
    var frontier = List(Paths.get(targetPath).toAbsolutePath.normalize.toString)
    while (frontier.nonEmpty) {
      val p = frontier.head; frontier = frontier.tail
      require(p != src,
        s"materialized view cycle: $targetPath feeds back into $sourcePath")
      if (seen.add(p))
        frontier ++= MvRegistry.load(p).map(d =>
          Paths.get(d.targetPath).toAbsolutePath.normalize.toString)
    }
  }

  /** Columns a merge mode's collapse reads — protected from DROP COLUMN. */
  private[mergetree] def modeColumns(m: MergeMode): Set[String] = m match {
    case MergeMode.Plain                 => Set.empty
    case MergeMode.Replacing(k, v)       => k.toSet + v
    case MergeMode.Summing(k, s)         => k.toSet ++ s
    case MergeMode.Collapsing(k, s, v)   => k.toSet + s + v
    case MergeMode.Aggregating(k, a)     => k.toSet ++ a.map(_._1)
  }

  /** Persisted materialized-view definition (mvdefs.json). */
  /** `sinceVersion` is the part-id fence stamped at def-commit time (under
    * the path lock): parts with id < sinceVersion were covered by the
    * def's POPULATE snapshot, parts with id >= sinceVersion flow through
    * the per-batch trigger — each row takes exactly one route. None (defs
    * persisted before the field existed) means fence 0: everything flows
    * through the trigger, the pre-fence behavior.
    */
  case class MvDef(name: String, targetPath: String, sql: String,
                   sinceVersion: Option[Long] = None,
                   /** Part ids of the manifest snapshot the def's POPULATE
                     * covered (absent on defs persisted before the field):
                     * a landed part below the fence but NOT in this set was
                     * in flight during the create and must still trigger.
                     */
                   populatedIds: Option[List[Long]] = None) {
    def sameDefinition(o: MvDef): Boolean =
      name == o.name && targetPath == o.targetPath && sql == o.sql
  }

  object MvRegistry {
    private val File = "mvdefs.json"

    def load(tablePath: String): List[MvDef] =
      MetaFiles.readJson[List[MvDef]](Paths.get(tablePath, File)).getOrElse(Nil)

    def update(tablePath: String)(f: List[MvDef] => List[MvDef]): Unit =
      MetaFiles.update(tablePath, File, List.empty[MvDef])(f)
  }

  /** Append-only log of committed manifests (`snapshots/snap_<seq>.json`,
    * one tiny file per commit, pruned to the last `Keep`): the time-travel
    * index. A snapshot stays READABLE exactly as long as its retired parts
    * survive the GC grace window — the grace that protects in-flight
    * readers is the same budget that bounds how far back `scanAt` reaches,
    * so time travel costs nothing the reader-safety design wasn't already
    * paying. Written inside the manifest lock (store is only called under
    * ManifestLocks), so seq allocation cannot race.
    */
  object SnapshotLog {
    private val Keep = 64

    def record(tablePath: String, m: GManifest): Unit = {
      val dir = Paths.get(tablePath, "snapshots")
      val seq = list(tablePath).lastOption.getOrElse(-1L) + 1
      MetaFiles.publishJson(dir.resolve(s"snap_$seq.json"), m)
      val all = list(tablePath)
      all.dropRight(Keep).foreach(s =>
        Files.deleteIfExists(dir.resolve(s"snap_$s.json")))
    }

    /** Available snapshot ids, oldest first. In manifest-log mode the
      * commit log IS the snapshot log (every commit is a full immutable
      * state — put-if-absent published, so concurrent writers can never
      * clobber one), and time travel reads it directly.
      */
    def list(tablePath: String): Seq[Long] = {
      if (GManifest.logMode(tablePath)) return GManifest.logSeqs(tablePath).sorted
      val dir = Paths.get(tablePath, "snapshots")
      if (!Files.exists(dir)) return Nil
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("snap_") && n.endsWith(".json") =>
          n.stripPrefix("snap_").stripSuffix(".json").toLong
        }.toSeq.sorted
      finally s.close()
    }

    def load(tablePath: String, seq: Long): Option[GManifest] = {
      if (GManifest.logMode(tablePath)) return GManifest.loadLogAt(tablePath, seq)
      MetaFiles.readJson[GManifest](Paths.get(tablePath, "snapshots", s"snap_$seq.json"))
    }
  }

  /** A part unlinked from the manifest, awaiting grace-expired deletion. */
  case class GcEntry(partId: Long, retiredAt: Long,
      dirName: Option[String] = None) {
    def dir: String = dirName.getOrElse(s"part_$partId")
  }

  /** Persisted GC list (gclist.json): the set of retired-but-not-yet-deleted
    * part directories. Updated under the same per-path lock as the manifest
    * (JVM monitor + OS file lock, see ManifestLocks) so maintenance ops
    * racing on the same table — same JVM or another process — cannot lose
    * entries (a lost entry = a leaked directory, never data loss; parts
    * here are already invisible to new scans).
    */
  case class GcList(retired: List[GcEntry])

  /** Persisted detached-partition set (`detached.json`): full part metadata
    * of parts unlinked by DETACH PARTITION — on disk but in no manifest and
    * in no GC list (never purged), awaiting re-ATTACH. Same lock + atomic-
    * rename discipline as the manifest.
    */
  case class DetachedSet(parts: List[GPartMeta])

  object DetachedSet {
    private val File = "detached.json"

    def load(tablePath: String): List[GPartMeta] =
      MetaFiles.readJson[DetachedSet](Paths.get(tablePath, File)).fold(List.empty[GPartMeta])(_.parts)

    def update(tablePath: String)(f: List[GPartMeta] => List[GPartMeta]): Unit =
      MetaFiles.update(tablePath, File, DetachedSet(Nil))(d => DetachedSet(f(d.parts)))
  }

  object GcList {
    private val File = "gclist.json"

    def load(tablePath: String): GcList =
      MetaFiles.readJson[GcList](Paths.get(tablePath, File)).getOrElse(GcList(Nil))

    def update(tablePath: String)(f: GcList => GcList): GcList =
      MetaFiles.update(tablePath, File, GcList(Nil))(f)
  }

  /** One in-flight maintenance output: a `part_<id>` dir staged with
    * register=false, named in no manifest/GC/detached/snapshot record until
    * its op's final swap publishes (or deletes) it.
    */
  case class IntentEntry(dir: String, createdAt: Long)

  /** Persisted in-flight-intent set (`intents.json`): the staged
    * register=false maintenance outputs currently awaiting their swap.
    * purgeOrphans treats listed dirs as referenced, so a long rewrite
    * (multi-bin OPTIMIZE, big updateWhere) whose stage-to-swap gap exceeds
    * the orphan mtime floor can't have its completed outputs swept by a
    * concurrent purger in ANOTHER process (the per-JVM sweep throttle
    * doesn't serialize those). Entries are dropped by the op's swap; a
    * crashed op's entries age out after [[ColumnarMergeTree.IntentTtlMs]]
    * (or as soon as their dir is gone), after which the ordinary orphan
    * sweep reclaims the dirs. Same lock + atomic-rename discipline as the
    * manifest.
    */
  case class IntentSet(staged: List[IntentEntry])

  /** Protection horizon for a crashed op's intent entries: long enough
    * that no real maintenance rewrite outlives it, short enough that a
    * dead op's outputs don't leak disk for days.
    */
  val IntentTtlMs: Long = 6L * 3600 * 1000

  object IntentSet {
    private val File = "intents.json"

    def load(tablePath: String): IntentSet =
      MetaFiles.readJson[IntentSet](Paths.get(tablePath, File)).getOrElse(IntentSet(Nil))

    def update(tablePath: String)(f: IntentSet => IntentSet): Unit =
      MetaFiles.update(tablePath, File, IntentSet(Nil))(f)

    /** Atomic-swap write WITHOUT acquiring the path lock — for callers
      * already inside a ManifestLocks critical section (the lock is not
      * reentrant: a nested FileChannel lock on the same file throws).
      */
    def storeUnlocked(tablePath: String, next: IntentSet): Unit =
      MetaFiles.publishJson(Paths.get(tablePath, File), next)
  }

  case class GManifest(version: Long, parts: List[GPartMeta])

  object GManifest {
    import org.json4s._
    import org.json4s.jackson.{JsonMethods, Serialization}
    private implicit val formats: Formats = DefaultFormats

    // ----- append-only manifest LOG layout (object-store posture) -----
    //
    // The default layout commits by read-modify-write of gmanifest.json
    // under a POSIX advisory file lock (ManifestLocks) — correct on local
    // disk and NFSv4, meaningless on object stores, which have no locks.
    // Log mode (flagged by the presence of `_manifest_log/`, enabled via
    // MergeTreeConfig.manifestLog or enableLogLayout) replaces the lock
    // with the one primitive object stores DO offer, atomic put-if-absent:
    // every commit publishes the FULL manifest state as its own immutable
    // numbered file, losers of a sequence number detect the conflict and
    // retry on the fresh state (optimistic CAS, the delta-log commit
    // shape). Every commit-object operation routes through the pluggable
    // [[CommitBackend]] (CommitBackends registry): the default is the
    // local hard-link conditional put (atomic, EEXIST on conflict); an
    // object-store deployment registers its conditional-put adapter and
    // the whole protocol carries over (ManifestLogSpec races writers
    // through the in-memory fake to pin the contract).
    // Commits double as the snapshot log (each file IS a full snapshot —
    // SnapshotLog serves time travel straight from it); compaction deletes
    // commits older than the latest LogKeep, bounding the directory.
    private val LogDirName = "_manifest_log"
    private val LogKeep = 64

    def logMode(tablePath: String): Boolean =
      Files.isDirectory(Paths.get(tablePath, LogDirName))

    /** Migrate a table to the log layout (idempotent): current state
      * becomes the first commit. New tables get it via
      * MergeTreeConfig.manifestLog at create(). Migration of a LIVE legacy
      * table takes the advisory lock once (a writer mid-commit on the old
      * layout must not race the cutover); commits after the cutover never
      * touch the lock again.
      */
    def enableLogLayout(tablePath: String): Unit =
      ManifestLocks.locked(tablePath) {
        if (!logMode(tablePath)) {
          val cur = load(tablePath).getOrElse(GManifest(0L, Nil))
          Files.createDirectories(Paths.get(tablePath, LogDirName))
          require(tryPublish(tablePath, cur, 1L),
            s"fresh manifest log at $tablePath rejected its first commit")
        }
      }

    private def logDir(tablePath: String) = Paths.get(tablePath, LogDirName)
    private def commitName(seq: Long) = f"$seq%020d.json"

    private[mergetree] def logSeqs(tablePath: String): Seq[Long] =
      CommitBackends.forTable(tablePath).list(logDir(tablePath))
        .filter(n => n.endsWith(".json") && !n.startsWith("."))
        .map(_.stripSuffix(".json").toLong)

    private[mergetree] def loadLogAt(tablePath: String, seq: Long): Option[GManifest] =
      CommitBackends.forTable(tablePath).read(logDir(tablePath), commitName(seq))
        .map(s => JsonMethods.parse(s).extract[GManifest])

    /** Latest (seq, state); (0, empty) on a fresh log. Re-lists if the
      * chosen commit is compacted away mid-read (only ever an OLD one).
      */
    private def loadLog(tablePath: String): (Long, GManifest) = {
      while (true) {
        val seqs = logSeqs(tablePath)
        if (seqs.isEmpty) return (0L, GManifest(0L, Nil))
        val mx = seqs.max
        loadLogAt(tablePath, mx) match {
          case Some(m) => return (mx, m)
          case None    => () // compacted away mid-read: re-list
        }
      }
      throw new IllegalStateException("unreachable")
    }

    /** Atomic put-if-absent of commit `seq`: true iff WE published it. */
    private def tryPublish(tablePath: String, m: GManifest, seq: Long): Boolean =
      CommitBackends.forTable(tablePath).putIfAbsent(
        logDir(tablePath), commitName(seq),
        Serialization.writePretty(m)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))

    private def compactLog(tablePath: String, latest: Long): Unit =
      logSeqs(tablePath).filter(_ <= latest - LogKeep)
        .foreach(s => CommitBackends.forTable(tablePath)
          .delete(logDir(tablePath), commitName(s)))

    def load(tablePath: String): Option[GManifest] =
      if (logMode(tablePath)) {
        val (seq, m) = loadLog(tablePath)
        if (seq == 0L) None else Some(m)
      } else MetaFiles.readJson[GManifest](Paths.get(tablePath, "gmanifest.json"))

    def store(tablePath: String, m: GManifest): Unit = {
      MetaFiles.publishJson(Paths.get(tablePath, "gmanifest.json"), m)
      SnapshotLog.record(tablePath, m)
    }

    /** Read-merge-store under the per-path lock (shared with the KV-table
      * Manifest and the DSv2 connector): no writer holding a stale in-memory
      * copy can clobber another writer's committed parts. In log mode the
      * lock is replaced by the optimistic CAS loop — `f` re-applies on the
      * fresh state after a lost race, so it must be a pure function of the
      * manifest (every in-repo caller is).
      */
    def update(tablePath: String)(f: GManifest => GManifest): GManifest =
      if (logMode(tablePath)) {
        var out: GManifest = null
        while (out == null) {
          val (seq, cur) = loadLog(tablePath)
          val next = f(cur)
          if (tryPublish(tablePath, next, seq + 1)) {
            compactLog(tablePath, seq + 1)
            out = next
          }
        }
        out
      } else ManifestLocks.locked(tablePath) {
        val next = f(load(tablePath).getOrElse(GManifest(0L, Nil)))
        store(tablePath, next)
        next
      }

    /** Allocate the next part id and atomically bind it: the staged part
      * directory is renamed to `part_<id>` INSIDE the lock, so id allocation
      * and the claim on the directory name are one step. The manifest
      * `version` field is the allocation fence (always bumped past the id);
      * `append=false` leaves the part unregistered (maintenance outputs swap
      * in later) but still fenced against id reuse.
      */
    /** The part id register() would allocate against this manifest state —
      * meaningful only while the caller holds the path lock.
      */
    def nextIdOf(cur: GManifest): Long =
      math.max(cur.version, cur.parts.map(_.partId + 1).foldLeft(0L)(math.max))

    /** `intent=true` (used with append=false) also records the claimed dir
      * in the intent set. In lock mode the entry is written INSIDE the
      * already-held critical section — zero extra lock acquisitions on the
      * partitioned-ingest hot path and NO rename-to-record window at all;
      * in log mode (no lock exists) the entry lands in its own RMW right
      * after the uuid rename (milliseconds — far inside the orphan mtime
      * floor).
      */
    def register(tablePath: String, stagedDir: java.nio.file.Path, append: Boolean,
                 intent: Boolean = false)
        (metaFor: Long => GPartMeta): GPartMeta =
      if (logMode(tablePath)) {
        val meta = registerLog(tablePath, stagedDir, append)(metaFor)
        if (intent && !append) IntentSet.update(tablePath)(cur =>
          IntentSet(IntentEntry(meta.dir, System.currentTimeMillis()) :: cur.staged))
        meta
      }
      else ManifestLocks.locked(tablePath) {
        val cur = load(tablePath).getOrElse(GManifest(0L, Nil))
        // PartClaims skips past a crashed writer's unfenced same-id claim;
        // the store below fences past the id it returns.
        val id = PartClaims.claim(tablePath, stagedDir, nextIdOf(cur))
        val meta = metaFor(id)
        store(tablePath,
          GManifest(id + 1, if (append) cur.parts :+ meta else cur.parts))
        if (intent && !append) IntentSet.storeUnlocked(tablePath,
          IntentSet(IntentEntry(meta.dir, System.currentTimeMillis())
            :: IntentSet.load(tablePath).staged))
        meta
      }

    /** Log-mode register with UNIQUE (uuid) part names: the staged dir
      * renames to `part_u<uuid>` — a name no other writer can hold, so the
      * rename never contends and needs no retry — and the manifest CAS is
      * the ONLY claim. The part id is allocated INSIDE the CAS loop (each
      * retry recomputes it against the fresh state, and the publish that
      * wins both binds the id and fences it via the version bump — one
      * atomic step). A writer dying between rename and publish leaves an
      * orphaned uuid dir that purgeGc's orphan sweep ages out; it can
      * never stall a concurrent claimant (the rename-claim this replaced
      * slept same-id claimants in a loop until GC) and never consumes an
      * id. This is also the only layout that works on a real object store,
      * where atomic rename-onto-existing doesn't exist — uuid names need
      * only put-if-absent on the commit object (tryPublish).
      */
    private def registerLog(tablePath: String, stagedDir: java.nio.file.Path,
        append: Boolean)(metaFor: Long => GPartMeta): GPartMeta = {
      val name = s"part_u${java.util.UUID.randomUUID().toString.replace("-", "")}"
      Files.move(stagedDir, Paths.get(tablePath, name))
      var out: GPartMeta = null
      while (out == null) {
        val (seq, cur) = loadLog(tablePath)
        val id = nextIdOf(cur)
        // append=false still publishes the version fence: a maintenance
        // output's id must stay unique for the later swap-in (two metas
        // sharing a partId would corrupt retire/swap bookkeeping).
        val meta = metaFor(id).copy(dirName = Some(name))
        val next = GManifest(math.max(cur.version, id + 1),
          if (append) cur.parts :+ meta else cur.parts)
        if (tryPublish(tablePath, next, seq + 1)) {
          compactLog(tablePath, seq + 1)
          out = meta
        }
      }
      out
    }
  }
}
