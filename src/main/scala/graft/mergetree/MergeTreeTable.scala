package graft.mergetree

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** The fixed compatibility row of the reference engine.
  *
  * Mirrors `Row{key, value, timestamp}` (reference: src/row.h:9-30). The
  * reference's timestamp is uint64; JVM Long is signed — documented
  * divergence (SURVEY §1.4), values ≥ 2^63 are out of scope.
  */
case class KVRow(key: String, value: String, timestamp: Long)

/** Engine configuration, mirroring `MergeTreeConfig`
  * (reference: src/merge_tree.h:16-23).
  */
case class MergeTreeConfig(
    memtableFlushThreshold: Int = 1000,
    maxParts: Int = 10,
    enableBackgroundMerge: Boolean = false,
    mergeIntervalSeconds: Int = 30,
    /** Rows per parquet row group ≈ reference granule (src/granule.h:10).
      * At 100 TB you'd leave parquet's byte-based default; this knob exists
      * for fidelity tests at small scale.
      */
    granuleSize: Int = 8192,
    /** Parquet codec for part files. The reference stores raw bytes
      * (src/serialization.cpp — no compression); ClickHouse proper defaults
      * to LZ4/ZSTD, and at 100 TB codec choice dominates storage cost, so
      * it's a table knob: snappy (default), zstd, lz4, gzip, none.
      */
    compression: String = "snappy",
    /** Small-query short-circuit, on both engines: when the pruned input
      * holds at most this many rows it is read driver-locally and the
      * answer is a local result — no Spark job; a small lookup on a
      * well-pruned table should not pay a distributed job launch. 0
      * disables. What counts against the budget:
      *   - KV table (`MergeTreeTable.query`/`fullScan`, parquet-mr reads):
      *     the pruned parts' manifest row counts plus the memtable, BEFORE
      *     any scan, refined by the sparse index (cached footer row-group
      *     key bounds) when the part-level sum exceeds the threshold — so a
      *     point lookup on a big table whose every part spans the key
      *     space still short-circuits on its true granule footprint.
      *   - Schema-generic table (`ColumnarMergeTree.localRangeScan`, the
      *     DSv2 columnar reader; Plain tables whose parts to read carry no
      *     pending lightweight mutations): the manifest row counts of the
      *     parts each of the caller's range sets overlaps, summed over the
      *     sets — and, since this row count was sized for KV rows and an
      *     index row can carry a whole vector, the same parts' manifest
      *     `diskSize` must also fit `spark.sql.files.openCostInBytes`
      *     (Spark's bytes-equivalent of one file open). Its callers are the index searches:
      *     `InvertedIndex` search faces count the parts of the query
      *     terms' buckets once per search (one set), `IvfIndex.search`
      *     counts each query's probed lists (one set per query).
      *   - The SQL faces of both tables (the DSv2 scans of
      *     `format("mergetree")` and the catalog): the statically pruned
      *     parts, against [[fitsLocalRead]] of the DEFAULT config (the scan
      *     knows no table config); a scan that fits plans one split and no
      *     exchange (`graft.sources.SingleSplitScan`), and a query of such
      *     scans runs on the driver (`graft.plans.DriverLocalStrategy`).
      * At 100 TB almost every query exceeds this and takes the distributed
      * path; the ones that don't are exactly the ones a job launch would
      * dominate.
      */
    localScanMaxRows: Long = 256 * 1024L,
    /** Row budget for the driver-local part-row cache backing the
      * short-circuit (see MergeTreeTable.partRowCache). KVRow is ~100 B, so
      * the default 1M rows caps the cache near 100 MB of driver heap.
      * 0 disables (every local scan re-reads parquet).
      */
    localCacheMaxRows: Long = 1024 * 1024L,
    /** Reader-safe part GC grace: a maintenance op (optimize / deleteWhere /
      * updateWhere / dropPartition) unlinks replaced parts from the manifest
      * immediately but leaves their directories on disk for this many
      * seconds, so an in-flight scan planned against the old manifest can
      * still read them; expired directories are purged by the NEXT
      * maintenance pass (or purgeGc()). ClickHouse's old_parts_lifetime,
      * same default (480 s). 0 = delete at the end of the op that replaced
      * them (no reader grace).
      */
    gcGraceSeconds: Int = 480,
    /** ClickHouse `bloom_filter` skip index, the parquet-native way: part
      * files carry a bloom filter for each listed column, so point
      * predicates on NON-key columns skip row groups the min/max stats
      * can't (a high-cardinality id scattered across the sort order has
      * useless min/max but a near-perfect bloom). Spark's vectorized
      * reader consumes them automatically when
      * `parquet.filter.bloom.enabled` is on (default). Write-time cost:
      * one bitset per row group per column — pay it only for columns you
      * point-query.
      */
    bloomFilterColumns: Seq[String] = Nil,
    /** ClickHouse `minmax` skip index, lifted to the PART level: listed
      * non-key columns get their min/max recorded in the manifest at part
      * write (one footer pass over freshly-written files), so a range
      * predicate on them prunes whole parts DRIVER-SIDE — O(manifest),
      * before any footer read or task launch. Complements parquet's
      * row-group stats (which still prune within surviving parts) and the
      * bloom index (point lookups): minmax pays off when the column
      * correlates with insertion order (timestamps, monotone ids), exactly
      * like ClickHouse's. Long/double/string columns supported.
      */
    minmaxColumns: Seq[String] = Nil,
    /** ClickHouse `tokenbf_v1` skip index, lifted to the PART level: each
      * listed TEXT column gets a bloom filter over its alphanumeric tokens
      * built at part write (one distributed pass over the freshly-staged
      * files) and stored as a `_tokenbf_<col>` sidecar inside the part
      * directory — claimed atomically with the part, recomputed by merges
      * through the same write path. `hasToken(col, 'term')` scans probe the
      * sidecars driver-side and skip every part whose bloom excludes the
      * term — O(manifest) part pruning for text search, the thing min/max
      * stats can never give an unsorted text column. Substring `contains`
      * must NOT use this index (a substring match needn't be a token
      * match); only whole-token lookups may prune, as in ClickHouse.
      */
    tokenBloomColumns: Seq[String] = Nil,
    /** ClickHouse `ngrambf_v1` skip index, lifted to the PART level: each
      * listed TEXT column gets a bloom over its character 3-grams built at
      * part write and stored as a `_ngrambf_<col>` sidecar — the SUBSTRING
      * complement to tokenbf (which may only serve whole-token equality).
      * `scanContains(col, needle)` derives the needle's own 3-grams and
      * skips every part whose bloom excludes ANY of them — a substring
      * can't occur in a part missing one of its 3-grams — then applies the
      * exact contains() residual on survivors. Needles shorter than 3
      * chars can't consult the index (no complete 3-gram to probe) and
      * full-scan, as in ClickHouse.
      */
    ngramBloomColumns: Seq[String] = Nil,
    /** Per-part HyperLogLog `uniq` sketches (the ClickHouse
      * uniqState-in-part idea): each listed column gets a 2 KB HLL register
      * sidecar (`_hll_<col>`) built at part write — one distributed pass
      * over the freshly-staged files, rebuilt by merges through the same
      * path. `approxDistinct(col)` then folds the live parts' sidecars
      * DRIVER-SIDE (position-wise max, O(manifest), zero data I/O) into a
      * table-wide distinct estimate at ~2.3% standard error — the
      * 100 TB answer to "how many distinct users/urls/keys" that
      * count(DISTINCT) would pay a full scan + shuffle for. Estimates
      * count STORED rows (pre-FINAL-collapse), like every metadata path.
      */
    hllColumns: Seq[String] = Nil,
    /** Per-part SpaceSaving top-K sketch sidecars (`_topk_<col>`): each
      * listed column gets a capacity-4096 heavy-hitter summary at part
      * write (the q63 topK machinery, persisted). `approxTopK(col, k)`
      * merges the live parts' summaries DRIVER-SIDE — mergeable-summaries
      * composition, O(manifest), zero data I/O — into table-wide heavy
      * hitters: "top domains/langs/terms across 100 TB" from metadata.
      * Exact whenever per-part distinct values stay ≤ capacity (no
      * eviction anywhere). Beyond that, a SINGLE part's sketch keeps the
      * SpaceSaving overcount-only guarantee, but the cross-part merge is
      * truncation-based: a term evicted from one part's sidecar loses that
      * part's mass, so merged counts can over- OR under-count, with error
      * bounded by the merged residual mass ~Σᵢ Nᵢ/capacity (the mergeable-
      * summaries bound, Agarwal et al., PODS'12). Heavy hitters with true
      * frequency > that bound still surface.
      */
    topKColumns: Seq[String] = Nil,
    /** Per-part quantile summary sidecars (`_quant_<col>`): each listed
      * NUMERIC column gets 257 order-statistic knots (percentile_approx at
      * i/256, accuracy 10⁴) + its non-null count at part write.
      * `approxQuantiles(col, probs)` pools the live parts' knots as a
      * weighted empirical distribution DRIVER-SIDE — O(manifest), zero
      * data I/O — for table-wide percentiles at ≤ ~0.4% rank error per
      * part: "p99 over 100 TB" from metadata. Completes the per-part
      * sketch family (hllColumns `uniq`, topKColumns heavy hitters).
      */
    quantileColumns: Seq[String] = Nil,
    /** ClickHouse `set(N)` skip index, lifted to the PART level: each
      * listed LOW-CARDINALITY column (integral/string/boolean) gets its
      * distinct-value set recorded as a `_set_<col>` sidecar at part write
      * (one distributed distinct pass over the freshly-staged files,
      * capped at [[ColumnarMergeTree.SetIndexMaxValues]] values — beyond
      * the cap the sidecar records SATURATED and never prunes, exactly
      * ClickHouse's max_rows overflow behavior). `scanIn(col, values)`
      * probes the sidecars driver-side and skips every part whose set
      * contains NONE of the probe values — the equality/IN pruning minmax
      * bounds can't give a column whose few values interleave across the
      * whole range (status/enum/lang columns: every part spans
      * 'a'..'z' in min/max terms but holds only 3 actual values).
      * Sidecar-less parts are always read; merges rebuild through the
      * same write path.
      */
    setIndexColumns: Seq[String] = Nil,
    /** Commit the manifest through the append-only log layout
      * (`_manifest_log/`, one immutable full-state file per commit,
      * put-if-absent CAS instead of the POSIX advisory lock) — the
      * object-store posture; see GManifest's log-mode docs. Existing
      * tables migrate via GManifest.enableLogLayout.
      */
    manifestLog: Boolean = false) {

  /** The local-read budget (see [[localScanMaxRows]]): `rows` manifest
    * rows and `bytes` of manifest `diskSize` fit when `rows` is at most
    * `localScanMaxRows` and `bytes` at most `spark.sql.files.openCostInBytes`.
    * The index searches' driver serve and the SQL scans' one-split plan
    * both decide with this.
    */
  def fitsLocalRead(spark: SparkSession, rows: Long, bytes: Long): Boolean =
    rows <= localScanMaxRows && bytes <= spark.sessionState.conf.filesOpenCostInBytes
}

/** Per-part metadata, mirroring `PartMetadata` (reference: src/part.h:12-26).
  * Persisted in the table manifest; used for driver-side part pruning
  * (the O8 equivalent of `Part::overlaps_range`, src/part.cpp:201-203).
  */
case class PartMetadata(
    partId: Long,
    minKey: String,
    maxKey: String,
    minTimestamp: Long,
    maxTimestamp: Long,
    rowCount: Long,
    granuleCount: Long,
    diskSize: Long,
    creationTime: Long) {

  /** Inclusive-range overlap check (reference: src/part.cpp:201-203) in
    * UTF-8 byte order (Spark/parquet collation, see KeyOrder). Null bounds
    * mean the part is unbounded (footer stats were incomplete — PartStats):
    * never pruned.
    */
  def overlapsRange(start: String, end: String): Boolean =
    minKey == null || maxKey == null ||
      !(KeyOrder.lt(maxKey, start) || KeyOrder.gt(minKey, end))
}

/** A Spark-native MergeTree table: a directory of immutable, sorted,
  * range-partitioned Parquet "parts" plus a JSON manifest of live parts,
  * with a driver-side memtable buffer for row-at-a-time ingest.
  *
  * Semantics reproduced from the reference engine
  * (manumartinm/clickhouse-mergetree, src/merge_tree.cpp):
  *   - reads see memtable ∪ all live parts (read-your-writes,
  *     src/merge_tree.cpp:40-54);
  *   - range bounds are inclusive and compare lexicographically on the
  *     string key (src/granule.cpp:57, src/memtable.cpp:54);
  *   - rows are versioned by (key, timestamp); exact (key, timestamp)
  *     duplicates collapse to one row (src/merge_tree.cpp:56-60). The
  *     reference keeps an arbitrary survivor; we keep max(value) so results
  *     are deterministic (SURVEY §7 Phase 1);
  *   - flush threshold / max-parts merge trigger / optimize loop mirror
  *     src/merge_tree.cpp:199-243.
  *
  * Divergence (deliberate, SURVEY §3.3): the reference never deletes
  * merged-away part dirs (duplicate data after merge+restart). We swap
  * manifest entries atomically and garbage-collect the dead dirs.
  *
  * Scale posture: parts are written with a range-partition + local sort on
  * (key, timestamp), so a part can be N parquet files written by N
  * executors; queries push the key-range predicate into the parquet scan
  * (min/max row-group pruning == the reference's sparse index, O7) and the
  * manifest prunes whole parts on the driver (O8) before the scan is built.
  */
final class MergeTreeTable private (
    val spark: SparkSession,
    val path: String,
    val config: MergeTreeConfig) {

  import MergeTreeTable._

  private val memtable = new ArrayBuffer[KVRow]()
  private val lock = new Object
  @volatile private var manifest: Manifest = Manifest.load(path).getOrElse(Manifest(0L, Nil))
  @volatile private var closed = false
  private val compacting = new java.util.concurrent.atomic.AtomicBoolean(false)

  // The sampling-free range exchange (dedupSort) needs its strategy in the
  // session; imperative registration keeps the table usable in sessions
  // without spark.sql.extensions configured.
  graft.plans.BoundedRangeStrategy.register(spark)

  /** Driver-local cache of decoded part rows, serving the small-query
    * short-circuit from memory (the reference's scan IS an in-memory part
    * walk — src/merge_tree.cpp:40-54 — because its parts live in RAM for
    * the process lifetime; ours are parquet, so re-decoding the same small
    * parts on every point lookup paid ~100 ms where the reference pays
    * ~2 ms). Write-through at memtable flush (the rows are already sorted
    * in driver memory), read-through on first scan of a small part,
    * invalidated on part retirement. Bounded by `localCacheMaxRows` total —
    * at 100 TB this only ever holds the recent small parts a short-circuit
    * query would touch; the distributed path never consults it.
    */
  private val partRowCache = new PartRowCache(config.localCacheMaxRows)

  private val bgThread: Option[Thread] =
    if (!config.enableBackgroundMerge) None
    else {
      // Reference: background_merge_worker (src/merge_tree.cpp:207-226).
      val t = new Thread(() => {
        while (!closed) {
          try Thread.sleep(config.mergeIntervalSeconds * 1000L)
          catch { case _: InterruptedException => }
          if (!closed) {
            // Like the reference's worker: flush only at threshold (sub-
            // threshold rows stay buffered until shutdown), then one merge
            // round if over maxParts (src/merge_tree.cpp:213-222). A failed
            // round must not kill the worker — retry next wake.
            try {
              lock.synchronized(triggerFlushIfNeeded())
              if (shouldTriggerMerge) mergePartsSync()
            } catch {
              case e: Throwable if !closed =>
                System.err.println(s"[mergetree-bg] merge round failed, retrying: $e")
            }
          }
        }
      }, s"mergetree-bg-$path")
      t.setDaemon(true)
      t.start()
      Some(t)
    }

  // ---------------------------------------------------------------- ingest

  /** Row-at-a-time insert into the memtable (O1, src/merge_tree.cpp:24-35).
    * Triggers a flush at the configured threshold (O20).
    */
  def insert(key: String, value: String, timestamp: Long): Unit =
    insert(KVRow(key, value, timestamp))

  def insert(row: KVRow): Unit = lock.synchronized {
    memtable += row
    triggerFlushIfNeeded()
  }

  def insertAll(rows: Seq[KVRow]): Unit = lock.synchronized {
    rows.foreach { r => memtable += r; triggerFlushIfNeeded() }
  }

  /** Distributed batch ingest: writes the dataset straight to a new sorted
    * part, bypassing the driver memtable. This is the 100 TB ingest path —
    * no rows ever transit the driver.
    *
    * `partitions` sizes the part's file count (a part is a directory, so one
    * part can be N files written by N executors); 0 = one file per
    * `defaultParallelism`-ish slice, callers with a known row count should
    * pass ceil(rows / targetRowsPerFile).
    *
    * Concurrency: the Spark write job runs OUTSIDE the table lock — only
    * part-id allocation and the manifest append are synchronized — so many
    * ingest threads (or streaming micro-batches) can land parts in parallel.
    * The reference serializes all writers behind its memtable mutex
    * (src/merge_tree.h:34-35); batch writers have no reason to.
    */
  def insertBatch(ds: Dataset[KVRow], partitions: Int = 0): Unit = {
    val df = ds.toDF()
    val n = if (partitions > 0) partitions else numRangePartitions(df)
    writePart(df, n)
  }

  /** Flush the memtable as one new sorted part (O4,
    * src/merge_tree.cpp:69-91). One flush == one part, like the reference.
    */
  def flush(): Unit = lock.synchronized { triggerFlushIfNeeded(force = memtable.nonEmpty) }

  private def triggerFlushIfNeeded(force: Boolean = false): Unit = {
    // Reference: trigger_flush_if_needed (src/merge_tree.cpp:228-238).
    if ((force || memtable.size >= config.memtableFlushThreshold) && memtable.nonEmpty) {
      flushLocal(memtable.toSeq)
      memtable.clear()
    }
  }

  /** Driver-local memtable flush. The memtable is driver-resident and small
    * by definition (≤ flushThreshold rows), so a full Spark job per flush is
    * pure fixed cost — one job launch + commit protocol per 1000-row part
    * dominated the reference-mirror ingest workload. Writing the part with
    * parquet-mr directly (sorted, granule-sized row groups — same layout the
    * Spark write path produces) and deriving the metadata from the in-memory
    * rows skips the job entirely. Distributed ingest (insertBatch) still
    * goes through Spark — this path only ever sees memtable-sized data.
    */
  private def flushLocal(rows: Seq[KVRow]): PartMetadata =
    writeLocalPart(rows, register = true)

  /** Driver-local part writer shared by the memtable flush (register=true)
    * and the small-merge path (register=false — the caller swaps outputs
    * into the manifest itself). Sorts, writes ONE parquet-mr file with
    * granule-sized row groups, derives metadata and the key sample from
    * the in-memory run (zero extra I/O), and write-through caches the
    * rows.
    */
  private def writeLocalPart(rows: Seq[KVRow], register: Boolean): PartMetadata = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.hadoop.fs.{Path => HPath}
    // UTF-8 byte order — the same collation Spark sorts and prunes by.
    val sorted = rows.sortBy(r => (r.key, r.timestamp))(
      Ordering.Tuple2(KeyOrder.ordering, Ordering.Long))
    val stage = Paths.get(path, s".part_stage_${java.util.UUID.randomUUID()}")
    Files.createDirectories(stage)
    val file = stage.resolve("part-00000.parquet")
    val writer = config.bloomFilterColumns.foldLeft(
      ExampleParquetWriter.builder(new HPath(file.toString))
        .withConf(MergeTreeTable.localFlushConf)
        .withRowGroupRowCountLimit(config.granuleSize)
        .withCompressionCodec(
          scala.util.Try(CompressionCodecName.valueOf(config.compression.toUpperCase))
            .getOrElse(CompressionCodecName.SNAPPY))) { (b, c) =>
      b.withBloomFilterEnabled(c, true) // see writePartInternal
    }
      .build()
    val factory = new SimpleGroupFactory(MergeTreeTable.localFlushSchema)
    try sorted.foreach { r =>
      val g = factory.newGroup()
      g.append("key", r.key); g.append("value", r.value); g.append("timestamp", r.timestamp)
      writer.write(g)
    } finally writer.close()
    val size = Files.size(file)
    // Key sample straight from the in-memory sorted run — free (see
    // KeySample); written into the stage dir so it's atomic with the part.
    KeySample.write(stage,
      KeySample.Sample(sorted.size.toLong, KeySample.evenly(sorted.map(_.key).toIndexedSeq)))
    val now = System.currentTimeMillis()
    val meta = Manifest.register(path, stage, append = register) { partId =>
      PartMetadata(
        partId = partId,
        minKey = sorted.head.key,
        maxKey = sorted.last.key,
        minTimestamp = sorted.iterator.map(_.timestamp).min,
        maxTimestamp = sorted.iterator.map(_.timestamp).max,
        rowCount = sorted.size.toLong,
        granuleCount = (sorted.size.toLong + config.granuleSize - 1) / config.granuleSize,
        diskSize = size,
        creationTime = now)
    }
    // Write-through: the sorted rows are already in driver memory and the
    // part is immutable from birth — the next short-circuit scan serves
    // them without touching the file.
    partRowCache.put(meta.partId, meta.creationTime, sorted.toArray)
    if (register) refresh()
    meta
  }

  // ----------------------------------------------------------------- query

  /** Inclusive lexicographic key-range scan (O11, src/merge_tree.cpp:37-63):
    * union(memtable, pruned parts) → filter → dedup(key,ts) → sort.
    */
  def query(startKey: String, endKey: String): Dataset[KVRow] = {
    import spark.implicits._
    val range = Some((startKey, endKey))
    localScan(range).getOrElse(
      dedupSort(unionScan(range)
        .filter(col("key") >= lit(startKey) && col("key") <= lit(endKey)), range)
        .as[KVRow])
  }

  /** Point lookup = range query with start == end (O12,
    * src/merge_tree.cpp:65-67).
    */
  def queryKey(key: String): Dataset[KVRow] = query(key, key)

  /** Range scan materialized as DRIVER rows — the reference's own query
    * shape (`query` returns `std::vector<Row>`, src/merge_tree.cpp:37-63).
    * When the pruned set is small and cached this is a pure in-memory
    * walk: binary-search slices + dedup + sort, NO Spark plan, no job
    * launch — single-digit ms where wrapping the same rows in a Dataset
    * and running an action pays a fixed ~tens-of-ms job cost (the r14
    * mt_scan_50k gap was exactly that constant). Falls back to collecting
    * the distributed scan above the short-circuit threshold — callers
    * wanting an unmaterialized/distributed result use `query`.
    */
  def queryRows(startKey: String, endKey: String): Seq[KVRow] = {
    val range = Some((startKey, endKey))
    localScanRows(range).getOrElse(
      query(startKey, endKey).collect().toSeq)
  }

  /** Full scan of all rows (O22) — dedup + sort applied like the reference's
    * query path so results are a consistent view.
    */
  def fullScan(): Dataset[KVRow] = {
    import spark.implicits._
    localScan(None).getOrElse(dedupSort(unionScan(None), None).as[KVRow])
  }

  /** Raw (pre-dedup) view of parts ∪ memtable, for diagnostics. */
  def rawScan(): DataFrame = unionScan(None)

  /** Small-query short-circuit (see `MergeTreeConfig.localScanMaxRows`):
    * serve the scan from a driver-local parquet-mr read over the pruned
    * part set when the manifest says it is tiny. Same observable semantics
    * as the distributed path — memtable ∪ parts, range filter, (key,ts)
    * dedup keeping max(value), (key,ts) sort — all in UTF-8 byte order
    * (KeyOrder), the collation Spark itself sorts strings by. Returns None
    * when the estimate exceeds the threshold (caller takes the Spark path).
    */
  private def localScan(range: Option[(String, String)]): Option[Dataset[KVRow]] = {
    import spark.implicits._
    localScanRows(range).map(rows => spark.createDataset(rows))
  }

  /** The short-circuit's row core (see localScan): Some(sorted deduped
    * rows) when the pruned set fits the local budget, None otherwise.
    * `queryRows` serves these directly — no Dataset, no job.
    */
  private def localScanRows(range: Option[(String, String)]): Option[Seq[KVRow]] = {
    lastScanLocal = false
    if (config.localScanMaxRows <= 0) return None
    val (live, mem) = lock.synchronized {
      val l = range match {
        case Some((s, e)) => manifest.parts.filter(_.overlapsRange(s, e))
        case None         => manifest.parts
      }
      (l, memtable.toList)
    }
    if (live.map(_.rowCount).sum + mem.size > config.localScanMaxRows) {
      // Part-level bounds overestimate badly when every part spans the
      // key space (each randomly-keyed ingest batch does): refine with the
      // SPARSE INDEX — per-row-group key bounds from the parquet footers
      // (O6; footer-only driver I/O, cached per immutable part) — before
      // surrendering a narrow range or point lookup to a full Spark job.
      // Row groups without key stats count fully (never under-estimate);
      // LocalPartReader's pushed FilterPredicate then skips them for real.
      // A full scan, or ANY part whose footers can't be read, goes
      // distributed — no sentinel values enter the sum (a summed sentinel
      // can overflow negative and wrongly pass the gate).
      if (range.isEmpty) return None
      val (s, e) = range.get
      prefetchGranuleBounds(live)
      val ests = live.map(p => granuleBoundsOf(p.partId).map {
        _.iterator.map { case (lo, hi, rows) =>
          val overlaps = lo == null || hi == null ||
            !(KeyOrder.gt(lo, e) || KeyOrder.lt(hi, s))
          if (overlaps) rows else 0L
        }.sum
      })
      if (ests.exists(_.isEmpty)) return None
      // Each estimate ≤ its part's rowCount, so the sum is bounded by the
      // part-level sum above — no overflow.
      if (ests.flatten.sum + mem.size > config.localScanMaxRows) return None
    }
    lastScanLocal = true
    val inRange: KVRow => Boolean = range match {
      case Some((s, e)) => r => !KeyOrder.lt(r.key, s) && !KeyOrder.gt(r.key, e)
      case None         => _ => true
    }
    // Cached parts are served synchronously (an in-memory binary-search
    // slice needs no pool — a fully-cached short-circuit scan is a pure
    // in-memory walk, the reference's own scan shape); only the misses pay
    // parquet-mr I/O, in parallel (reader setup is ~15 ms per file, so 50
    // tiny uncached parts read serially would cost more than the
    // distributed job the short-circuit avoids).
    val cachedRows: Map[Long, Array[KVRow]] =
      live.flatMap(p => partRowCache.get(p.partId, p.creationTime).map(p.partId -> _)).toMap
    val misses = live.filterNot(p => cachedRows.contains(p.partId))
    val missRows: Map[Long, Seq[KVRow]] =
      misses.map(_.partId).zip(DriverPool.inParallel(misses)(p => readPartLocal(p, range))).toMap
    // One sorted RUN per source. Cached parts slice to exact, sorted runs;
    // miss reads and the memtable are range-filtered and sorted here (a
    // part dir's file iteration order isn't guaranteed to be its range
    // order — see readPartLocal).
    def sortedRun(rows: Seq[KVRow]): Array[KVRow] = {
      val a = rows.iterator.filter(inRange).toArray
      java.util.Arrays.sort(a, MergeTreeTable.rowOrder)
      a
    }
    val runs: IndexedSeq[IndexedSeq[KVRow]] = (live.map { p =>
      cachedRows.get(p.partId) match {
        case Some(rows) => sliceByRange(rows, range).toIndexedSeq
        case None       => scala.collection.immutable.ArraySeq.unsafeWrapArray(
          sortedRun(missRows(p.partId)))
      }
    } :+ scala.collection.immutable.ArraySeq.unsafeWrapArray(sortedRun(mem)))
      .filter(_.nonEmpty).toIndexedSeq
    Some(MergeTreeTable.mergeDedupRuns(runs))
  }

  /** Whether the LAST query/fullScan was served by the driver-local
    * short-circuit — observability for tests and tuning.
    */
  @volatile var lastScanLocal: Boolean = false

  /** (cached parts, cached rows) of the driver-local part-row cache —
    * observability for tests and tuning.
    */
  private[graft] def localCacheStats: (Int, Long) =
    (partRowCache.cachedPartCount, partRowCache.cachedRowCount)

  /** Read-through ceiling: a miss only reads the FULL part to cache it
    * when the part is small. Write-through has no such cap (the rows are
    * already in memory), but a read-side miss on a big part must serve
    * the pushed-filter ranged read — reading a 500k-row part whole to
    * answer a point lookup would trade a ~15 ms read for a ~1 s one.
    */
  private val readThroughCacheRows = 32 * 1024L

  /** One part's rows for the short-circuit: cache hit → in-memory slice;
    * miss on a small part → read FULL part once (file order within a part
    * dir is not globally sorted — N files written by N executors — so sort
    * before caching), cache, slice; miss on a big part → ranged parquet
    * read, uncached.
    */
  private def readPartLocal(p: PartMetadata, range: Option[(String, String)]): Seq[KVRow] =
    if (partRowCache.enabled &&
        p.rowCount <= math.min(readThroughCacheRows, partRowCache.perPartCap)) {
      val full = LocalPartReader.read(partDir(p.partId), None).toArray
      val sorted = full.sortBy(r => (r.key, r.timestamp))(
        Ordering.Tuple2(KeyOrder.ordering, Ordering.Long))
      partRowCache.put(p.partId, p.creationTime, sorted)
      sliceByRange(sorted, range)
    } else LocalPartReader.read(partDir(p.partId), range)

  /** Binary-search slice of (key,ts)-sorted rows to the inclusive key
    * range — O(log n + hits), never a full walk.
    */
  private def sliceByRange(rows: Array[KVRow], range: Option[(String, String)]): Seq[KVRow] =
    range match {
      // Defensive copy: `rows` may be the PartRowCache's live storage, and
      // the returned Seq escapes to scan consumers — an in-place mutation
      // downstream must never corrupt the shared cache.
      case None => scala.collection.immutable.ArraySeq.unsafeWrapArray(rows.clone())
      case Some((s, e)) =>
        var lo = 0
        var hi = rows.length
        while (lo < hi) {
          val m = (lo + hi) >>> 1
          if (KeyOrder.lt(rows(m).key, s)) lo = m + 1 else hi = m
        }
        val start = lo
        hi = rows.length
        while (lo < hi) {
          val m = (lo + hi) >>> 1
          if (KeyOrder.gt(rows(m).key, e)) hi = m else lo = m + 1
        }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(
          java.util.Arrays.copyOfRange(rows, start, lo))
    }

  /** Row-group key bounds of one immutable part, cached per part id (the
    * map only grows with parts this instance ever ESTIMATED — bounded by
    * part churn, entries a few hundred bytes each).
    */
  private val granuleBoundsCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[(String, String, Long)]]()
  private val granuleBoundsRetryAt =
    new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  /** Per-part key sample, cached per immutable part id (see KeySample;
    * `None` caches too — a part with no sidecar stays sampleless for its
    * lifetime).
    */
  private val keySampleCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Option[KeySample.Sample]]()

  private def keySampleOf(partId: Long): Option[KeySample.Sample] =
    keySampleCache.computeIfAbsent(partId, id => KeySample.load(partDir(id)))

  /** Merge-input samples as one weighted point set (each input key carries
    * rowCount/sampleSize rows), or None when any input lacks a sample —
    * the output then re-samples from its own files.
    */
  private def sampleHintOf(parts: Seq[PartMetadata]): Option[Seq[(String, Double)]] = {
    val all = parts.map(p => keySampleOf(p.partId).map(ks =>
      ks.keys.map(k => (k, p.rowCount.toDouble / math.max(1, ks.keys.size)))))
    if (all.exists(_.isEmpty)) None else Some(all.flatMap(_.get))
  }
  /** Warm the granule-bounds cache for `parts` in PARALLEL before a
    * serial consumer walks it (both the local-scan gate and the
    * range-exchange sizing consult this cache; on a fresh table it
    * starts cold).
    */
  private def prefetchGranuleBounds(parts: Seq[PartMetadata]): Unit = {
    val missing = parts.filter(p => !granuleBoundsCache.containsKey(p.partId))
    DriverPool.inParallel(missing)(p => { granuleBoundsOf(p.partId); () })
    ()
  }

  private def granuleBoundsOf(partId: Long): Option[Seq[(String, String, Long)]] =
    Option(granuleBoundsCache.get(partId)).orElse {
      // An unreadable footer must not fail the query — the caller takes
      // the distributed path. Failures NEGATIVE-CACHE for 60 s: a one-off
      // I/O blip must not disable the short-circuit for the part forever
      // (the sticky-sentinel bug), but a permanently corrupt footer must
      // not pay footer I/O + exception construction on EVERY query either.
      // Successful reads cache indefinitely (parts are immutable).
      val now = System.currentTimeMillis()
      if (granuleBoundsRetryAt.getOrDefault(partId, 0L) > now) None
      else try {
        val r = PartStats.colRanges(spark.sessionState.newHadoopConf(), partDir(partId), "key")
        granuleBoundsCache.put(partId, r)
        granuleBoundsRetryAt.remove(partId)
        Some(r)
      } catch {
        case _: Exception =>
          granuleBoundsRetryAt.put(partId, now + 60000L)
          None
      }
    }

  private def unionScan(range: Option[(String, String)]): DataFrame = lock.synchronized {
    import spark.implicits._
    // Driver-side part pruning from manifest min/max (O8) before Spark ever
    // lists the files — at 100 TB this skips whole directories, not just
    // row groups.
    val live = range match {
      case Some((s, e)) => manifest.parts.filter(_.overlapsRange(s, e))
      case None         => manifest.parts
    }
    val partsDf: Option[DataFrame] =
      if (live.isEmpty) None
      else Some(spark.read.schema(schema).parquet(live.map(p => partDir(p.partId)): _*))
    val memDf: Option[DataFrame] =
      if (memtable.isEmpty) None
      else Some(spark.createDataset(memtable.toSeq).toDF())
    (partsDf, memDf) match {
      case (Some(p), Some(m)) => p.unionByName(m)
      case (Some(p), None)    => p
      case (None, Some(m))    => m
      case (None, None)       => spark.createDataset(Seq.empty[KVRow]).toDF()
    }
  }

  /** Dedup on (key, timestamp) + global sort. The reference keeps an
    * arbitrary survivor on exact collision (O14, std::unique after unstable
    * sort, src/merge_tree.cpp:56-60); we deterministically keep max(value).
    * max() is a partial-aggregable function → map-side combine, no skew
    * hazard beyond the natural key distribution.
    */
  /** (key,ts) dedup keeping max(value), globally (key,ts)-sorted — in ONE
    * exchange with NO sampling pass. The naive `groupBy …; orderBy …` pays
    * TWO exchanges over the same rows; `repartitionByRange` pays one
    * exchange but SAMPLES its child to pick bounds, which re-executes the
    * whole scan — a second full read of every surviving row group (at
    * 100 TB, a second 100 TB scan). A storage engine already knows its key
    * distribution: `rangeSplitBounds` derives the split keys driver-side
    * from the sparse index (cached footer row-group bounds — zero data
    * I/O) and [[graft.plans.BoundedRangeRepartition]] exchanges on them
    * directly. The exchange reports `RangePartitioning(key)`, which
    * co-locates equal (key,ts) tuples and satisfies the aggregate's
    * clustering requirement — no second exchange — and a partition-local
    * sort restores the global (key,ts) order the bounds established
    * across partitions. Each range partition (~128k rows) dedups and
    * sorts independently at any scale. When footers are unreadable the
    * stock two-exchange shape serves as fallback (rare, and small results
    * take `localScan` anyway).
    */
  private def dedupSort(df: DataFrame, range: Option[(String, String)]): DataFrame =
    rangeSplitBounds(range) match {
      case None =>
        df.groupBy(col("key"), col("timestamp"))
          .agg(max(col("value")).as("value"))
          .select(col("key"), col("value"), col("timestamp"))
          .orderBy(col("key"), col("timestamp"))
      case Some(bounds) =>
        org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
            graft.plans.BoundedRangeRepartition("key", bounds, df.queryExecution.analyzed))
          .groupBy(col("key"), col("timestamp"))
          .agg(max(col("value")).as("value"))
          .select(col("key"), col("value"), col("timestamp"))
          .sortWithinPartitions(col("key"), col("timestamp"))
    }

  /** Driver-computed split keys for the range exchange, sizing each range
    * partition to ~64k rows — zero data I/O, no sampling job.
    *
    * Each pruned part contributes a weighted point set: its persisted key
    * sample (one point per sample key, carrying rowCount/sampleSize rows —
    * see [[KeySample]] for why footer row-group bounds CANNOT play this
    * role on unclustered tables), or, for parts without a sample, its
    * cached row-group bounds as endpoint masses (rows/2 at each — the
    * degraded mode that still prunes and splits clustered parts well).
    * Points outside the scan range are dropped — exact rank-space
    * proration — and the split keys are the weighted quantiles of what
    * remains: real keys, no density model, balance within one sample
    * stride per part. A part with neither sample nor readable footer
    * returns None (caller falls back to the stock sampling shape).
    * `Some(Nil)` = everything fits one partition.
    */
  private def rangeSplitBounds(range: Option[(String, String)]): Option[Seq[String]] = {
    val live = lock.synchronized(range match {
      case Some((s, e)) => manifest.parts.filter(_.overlapsRange(s, e))
      case None         => manifest.parts
    })
    if (live.isEmpty) return Some(Nil)
    val inRange: String => Boolean = range match {
      case Some((s, e)) => k => !KeyOrder.lt(k, s) && !KeyOrder.gt(k, e)
      case None         => _ => true
    }
    val pts = new ArrayBuffer[(String, Double)]()
    val sampleless = new ArrayBuffer[PartMetadata]()
    var sampledMass = 0.0
    var endpointMass = 0.0
    live.foreach { p =>
      keySampleOf(p.partId) match {
        case Some(ks) if ks.keys.nonEmpty =>
          val w = p.rowCount.toDouble / ks.keys.size
          ks.keys.foreach(k => if (inRange(k)) { pts += ((k, w)); sampledMass += w })
        case _ => sampleless += p
      }
    }
    if (sampleless.nonEmpty) {
      prefetchGranuleBounds(sampleless.toSeq)
      val perPart = sampleless.map(p => granuleBoundsOf(p.partId))
      if (perPart.exists(_.isEmpty)) return None
      perPart.iterator.flatMap(_.get).foreach { case (lo, hi, rows) =>
        val overlaps = range.forall { case (s, e) =>
          lo == null || hi == null || !(KeyOrder.gt(lo, e) || KeyOrder.lt(hi, s))
        }
        if (overlaps) range match {
          case Some((s, e)) =>
            pts += ((if (lo == null || KeyOrder.lt(lo, s)) s else lo, rows / 2.0))
            pts += ((if (hi == null || KeyOrder.gt(hi, e)) e else hi, rows / 2.0))
            endpointMass += rows
          case None =>
            if (lo != null) { pts += ((lo, rows / 2.0)); endpointMass += rows / 2.0 }
            if (hi != null) { pts += ((hi, rows / 2.0)); endpointMass += rows / 2.0 }
        }
      }
    }
    val total = pts.iterator.map(_._2).sum
    val targetPer = 64 * 1024L
    val nParts = math.min(math.max(1L, (total.toLong + targetPer - 1) / targetPer), 1 << 20).toInt
    if (nParts <= 1) return Some(Nil)
    // Endpoint masses cannot balance UNCLUSTERED overlapping parts: every
    // part's row-group boundaries collapse onto ~3 percentile positions
    // (see KeySample — measured 73%-of-rows-in-one-partition). When they
    // DOMINATE the point set being cut >1 way, the cut quality is that
    // skew — worse than the one sampling pass the stock fallback costs —
    // so return None (r14 advice). Rare now that big parts carry
    // executor-side samples; this guards sidecar-less legacy parts.
    if (endpointMass > sampledMass) return None
    Some(KeySample.splitBounds(pts.toSeq, nParts))
  }

  /** Learned write bounds: split keys for sorting a NEW batch into `n`
    * range-partitioned files, derived from the EXISTING parts' key samples
    * — the steady-state ingest path plans no sampling job (the stock
    * `repartitionByRange` reads every incoming batch twice: once to
    * sample, once to write — a 2× ingest read at any scale). The incoming
    * batch is assumed to follow the table's distribution — an assumption
    * the STAIRCASE GUARD now checks: under append/monotonic-key ingest
    * (time- or sequence-keyed tables) every new batch's keys sit ABOVE
    * all learned bounds, the whole batch would route to one tail task
    * steady-state, and nothing would re-trigger sampling because bounds
    * stay "computable" forever (r14 advice). Monotonic ingest leaves an
    * unmistakable metadata signature — each recently created part BEGINS
    * at or above everything older (see [[KeySample.ingestStaircase]]) —
    * and on that signature we hand back None and let the caller pay the
    * sampling pass that balances the batch; at most one early batch
    * misroutes before the staircase is visible. Benign drift still only
    * unbalances the part's files (row groups stay sorted and correct).
    * None also while the table is empty or its samples are too thin to
    * cut n ways.
    */
  private def learnedWriteBounds(n: Int): Option[Seq[String]] = {
    if (n <= 1) return None
    val live = lock.synchronized(manifest.parts)
    if (live.isEmpty) return None
    if (KeySample.ingestStaircase(
        live.map(p => (p.minKey, p.maxKey, p.creationTime, p.partId)))(KeyOrder.cmp))
      return None
    val pts = live.flatMap(p => keySampleOf(p.partId) match {
      case Some(ks) if ks.keys.nonEmpty =>
        val w = p.rowCount.toDouble / ks.keys.size
        ks.keys.map(k => (k, w))
      case _ => Seq.empty[(String, Double)]
    })
    if (pts.size < n * 4) return None // too thin to cut n ways with confidence
    Some(KeySample.splitBounds(pts, n)).filter(_.nonEmpty)
  }

  // ----------------------------------------------------------- maintenance

  /** Flush, then merge until ≤ maxParts (O21, src/merge_tree.cpp:199-205).
    *
    * The reference's optimize loop merges the single best-scored pair per
    * round (src/merger.cpp:62-63 caps candidates at 1), i.e. O(n) sequential
    * rewrites and O(n²) total I/O when n parts must come down to maxParts.
    * Observable semantics are only the end state — parts ≤ maxParts with
    * identical query results — so we bin-pack all live parts into ≤ maxParts/2
    * key-contiguous output parts and merge the bins as CONCURRENT Spark
    * jobs: wall-time is the slowest bin, each data byte rewritten exactly
    * once. The scored pairwise policy survives as `mergePartsSync` (O17
    * fidelity).
    *
    * Locking: the group snapshot and the final manifest swap hold the table
    * lock; the merge jobs themselves do not, so batch writers keep landing
    * parts while compaction runs — those parts survive the swap (the swap
    * replaces only the snapshotted inputs). A concurrent optimize() while
    * one is in flight is a no-op — `compacting` gates
    * concurrent optimize() calls without blocking writers.
    */
  def optimize(): Unit = {
    if (!compacting.compareAndSet(false, true)) return
    try {
      val live = lock.synchronized {
        triggerFlushIfNeeded(force = memtable.nonEmpty)
        if (manifest.parts.size <= config.maxParts) return
        // Sort by minKey so each output part covers a contiguous key range —
        // keeps part-level pruning (O8) sharp after compaction. UTF-8 order
        // (KeyOrder) to match the pruning comparisons.
        manifest.parts.sortBy(p => (p.minKey, p.partId))(
          Ordering.Tuple2(KeyOrder.ordering, Ordering.Long))
      }
      val nOut = math.max(1, config.maxParts / 2)
      val groups = binPack(live, nOut)
      val liveIdsPre = live.map(_.partId).toSet
      val attempts: Seq[scala.util.Try[PartMetadata]] =
        DriverPool.inParallel(groups, groups.size)(g => scala.util.Try(mergeGroup(g)))
      // One failed bin must not leak the other bins' already-renamed
      // outputs (register=false parts live in no manifest and no GC list):
      // delete every NEW output and rethrow. Singleton pass-through bins
      // return a LIVE part — never delete those.
      attempts.collectFirst { case scala.util.Failure(e) =>
        attempts.collect {
          case scala.util.Success(m) if !liveIdsPre(m.partId) => m
        }.foreach(m =>
          MergeTreeTable.deleteRecursively(Paths.get(partDir(m.partId))))
        throw e
      }
      val newMetas = attempts.map(_.get)
      val liveIds = live.map(_.partId).toSet
      val keptIds = newMetas.map(_.partId).toSet
      lock.synchronized {
        // read-merge swap: parts registered by concurrent writers (this
        // instance OR the DSv2 connector) during the merge survive
        manifest = Manifest.update(path) { cur =>
          Manifest(cur.version,
            cur.parts.filterNot(p => liveIds(p.partId)) ++ newMetas.toList)
        }
      }
      retireParts(liveIds.filterNot(keptIds))
    } finally compacting.set(false)
  }

  /** Merge one key-contiguous bin (or performMerge's candidate set) into a
    * single part: singleton bins pass through unrewritten, small bins merge
    * driver-locally, the rest through one distributed rewrite.
    */
  private def mergeGroup(group: Seq[PartMetadata]): PartMetadata =
    if (group.size == 1) group.head
    else mergeGroupLocal(group).getOrElse {
      val inputs = spark.read.schema(schema)
        .parquet(group.map(p => partDir(p.partId)): _*)
      val merged = inputs
        .groupBy(col("key"), col("timestamp"))
        .agg(max(col("value")).as("value"))
        .select(col("key"), col("value"), col("timestamp"))
      writePartInternal(merged,
        partitionsForRows(group.map(_.rowCount).sum), register = false,
        sampleHint = sampleHintOf(group)).get
    }

  /** Row ceiling for the driver-local merge path (see mergeGroupLocal). */
  private val localMergeMaxRows = 256 * 1024L

  /** Driver-local small-part merge: when a merge group's rows fit the
    * local budget, read the inputs from the part-row cache (or one
    * parquet-mr pass per miss, in parallel), dedup + sort in memory, and
    * write the output with the same driver-local writer the memtable
    * flush uses — NO Spark job, one fixed job-launch + commit-protocol
    * cost saved per merge round, and the output is write-through CACHED,
    * so post-merge short-circuit scans keep their pure in-memory serve
    * (the reference's merge IS this in-memory walk, src/merger.cpp:13-15
    * — bounded here by localMergeMaxRows where the reference materializes
    * any size). Returns None above the budget, when the cache is off, or
    * on any read surprise — the distributed rewrite handles those.
    */
  private def mergeGroupLocal(group: Seq[PartMetadata]): Option[PartMetadata] = {
    if (!partRowCache.enabled) return None
    val total = group.map(_.rowCount).sum
    if (total > math.min(localMergeMaxRows, partRowCache.perPartCap)) return None
    val cached: Map[Long, Array[KVRow]] =
      group.flatMap(p => partRowCache.get(p.partId, p.creationTime).map(p.partId -> _)).toMap
    val misses = group.filterNot(p => cached.contains(p.partId))
    val missRows: Map[Long, Seq[KVRow]] =
      misses.map(_.partId).zip(DriverPool.inParallel(misses) { p =>
        scala.util.Try(LocalPartReader.read(partDir(p.partId), None)).getOrElse(Nil)
      }).toMap
    if (misses.exists(p => missRows(p.partId).size != p.rowCount)) return None
    val best = new java.util.HashMap[(String, Long), String]()
    group.foreach { p =>
      val rows: Iterator[KVRow] = cached.get(p.partId) match {
        case Some(arr) => arr.iterator
        case None      => missRows(p.partId).iterator
      }
      rows.foreach(r => best.merge((r.key, r.timestamp), r.value,
        (a, b) => if (KeyOrder.lt(a, b)) b else a))
    }
    val out = new ArrayBuffer[KVRow](best.size)
    best.forEach((k, v) => out += KVRow(k._1, v, k._2))
    Some(writeLocalPart(out.toSeq, register = false))
  }

  /** Greedy contiguous bin-packing of minKey-sorted parts into ≤ nOut bins,
    * balanced by row count.
    */
  private def binPack(sorted: Seq[PartMetadata], nOut: Int): Seq[Seq[PartMetadata]] = {
    val total = math.max(1L, sorted.map(_.rowCount).sum)
    val target = (total + nOut - 1) / nOut
    val bins = ArrayBuffer(ArrayBuffer.empty[PartMetadata])
    var acc = 0L
    sorted.foreach { p =>
      if (acc >= target && bins.size < nOut) {
        bins += ArrayBuffer.empty[PartMetadata]
        acc = 0L
      }
      bins.last += p
      acc += p.rowCount
    }
    bins.filter(_.nonEmpty).map(_.toSeq).toSeq
  }

  /** Synchronous single scored merge round (src/merge_tree.cpp:93-97) if
    * over maxParts; no-op while an optimize() is compacting (the same
    * `compacting` flag keeps the two maintenance paths from racing on each
    * other's input dirs).
    */
  def mergePartsSync(): Boolean = {
    if (!compacting.compareAndSet(false, true)) return false
    // The merge's Spark job runs OUTSIDE the table lock (optimize()'s
    // pattern): `compacting` already excludes the other maintenance path,
    // and performMerge takes the lock only for the manifest swap — holding
    // it across the whole rewrite blocked every insert/flush/query for
    // the merge's duration.
    try performMerge()
    finally compacting.set(false)
  }

  private def shouldTriggerMerge: Boolean =
    // Reference: should_trigger_merge (src/merge_tree.cpp:240-243).
    manifest.parts.size > config.maxParts

  /** One compaction round: pick candidates (O17), k-way merge via a
    * range-repartitioned sort (O15/O16), atomic manifest swap, GC old dirs.
    */
  private def performMerge(): Boolean = {
    val candidates = Merger.selectMergeCandidates(manifest.parts)
    if (candidates.isEmpty) return false
    val toMerge = candidates.get
    val mergedIds = toMerge.map(_.partId).toSet
    // Candidates are 2-3 parts, so mergeGroup always rewrites: small sets
    // merge driver-locally (cache-served, no Spark job — see
    // mergeGroupLocal); above the budget the distributed path
    // range-partitions + locally sorts + partially aggregates — fully
    // spillable, no driver materialization (SURVEY §4). The reference
    // materializes ANY size in RAM (src/merger.cpp:13-15).
    val newMeta = mergeGroup(toMerge)
    // Atomic read-merge swap: new manifest lists merged part, drops inputs,
    // keeps anything a concurrent writer registered meanwhile. Only the
    // swap holds the table lock (see mergePartsSync).
    lock.synchronized {
      manifest = Manifest.update(path) { cur =>
        Manifest(cur.version, cur.parts.filterNot(p => mergedIds(p.partId)) :+ newMeta)
      }
    }
    // GC the dead dirs — fixing the reference's leak (SURVEY §3.3) — via
    // the reader-grace window, not inline deletion.
    retireParts(mergedIds)
    true
  }

  // ------------------------------------------------------------ part write

  private def numRangePartitions(df: DataFrame): Int = {
    // One file per ~maxRecordsPerFile at scale; local tests end up with 1.
    val n = df.sparkSession.sparkContext.defaultParallelism
    math.max(1, math.min(n, 32))
  }

  /** File count for a known row count: ~1M sorted rows per file, capped at
    * the session's parallelism. At cluster scale the cap would be lifted —
    * a part is a directory, so file count scales with executor count.
    */
  private def partitionsForRows(rows: Long): Int = {
    val byRows = ((rows + RowsPerFileTarget - 1) / RowsPerFileTarget).toInt
    math.max(1, math.min(byRows, spark.sparkContext.defaultParallelism))
  }

  private def writePart(df: DataFrame, partitions: Int): Unit =
    writePartInternal(df, partitions, register = true)

  /** Sorts `df` into one new part and returns its metadata; None (and no
    * part) when a batch to register holds no rows. A merge output
    * (register = false) is always returned.
    */
  private def writePartInternal(df: DataFrame, partitions: Int, register: Boolean,
      sampleHint: Option[Seq[(String, Double)]] = None): Option[PartMetadata] = {
    // The data write lands in a job-unique staging dir; the final
    // `part_<id>` name is claimed inside Manifest.register, where id
    // allocation and the rename are one locked step — so a concurrent DSv2
    // connector commit (or another instance on the same path) can neither
    // reuse the id nor have its manifest append clobbered by ours.
    val stage = Paths.get(path, s".part_stage_${java.util.UUID.randomUUID()}")
    // A merge's sampleHint IS the output's own distribution (the inputs'
    // folded samples): cut its bounds directly — exact, no drift possible,
    // and no exposure to learnedWriteBounds' whole-table guard (which
    // would wrongly surrender a rewrite of OLD data on a monotonic-keyed
    // table to a sampling pass). Fresh batches take the guarded learned
    // path.
    val bounds0 =
      if (partitions <= 1) None
      else sampleHint match {
        case Some(points) if points.nonEmpty =>
          Some(KeySample.splitBounds(points, partitions)).filter(_.nonEmpty)
        case _ => learnedWriteBounds(partitions)
      }
    val sorted =
      if (partitions <= 1) df.coalesce(1).sortWithinPartitions("key", "timestamp")
      else bounds0 match {
        // Steady state: sort the batch by the table's LEARNED key
        // distribution — no sampling job (see learnedWriteBounds).
        case Some(bounds) =>
          org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
              graft.plans.BoundedRangeRepartition("key", bounds, df.queryExecution.analyzed))
            .sortWithinPartitions("key", "timestamp")
        // First batches: nothing learned yet — pay the sampling pass once.
        case None =>
          df.repartitionByRange(partitions, col("key"), col("timestamp"))
            .sortWithinPartitions("key", "timestamp")
      }
    // Honor declared bloom columns (previously silently inert on the KV
    // writers — compare ColumnarMergeTree's writers).
    config.bloomFilterColumns.foldLeft(
      sorted.write
        // Granule fidelity (SURVEY §1.4): row group == granule. This is the
        // row-group row-count cap (parquet-hadoop ParquetOutputFormat), not
        // the page-level one round 1 used by mistake.
        .option("parquet.block.row.count.limit", config.granuleSize)
        .option("compression", config.compression)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
      .mode("overwrite")
      .parquet(stage.toString)
    // Part metadata comes from the parquet footers the write just produced —
    // no second scan of the data (round 1 re-read every part here, doubling
    // write-path I/O; see PartStats).
    val stats = PartStats.readDir(spark.sessionState.newHadoopConf(), stage.toString)
    if (register && stats.rows == 0) { deleteRecursively(stage); return None }
    val size = dirSize(stage)
    // Key sample (see KeySample): merges fold their inputs' samples with
    // zero I/O; fresh batch parts pay one decimated column-pruned read
    // (bounded — bigger parts carry no sample and fall back to granule
    // bounds at query time).
    val sample = sampleHint match {
      case Some(points) if points.nonEmpty =>
        Some(KeySample.Sample(stats.rows, KeySample.quantiles(points)))
      case _ =>
        // Driver-side decimated read for small parts; parts past the
        // driver ceiling get an EXECUTOR-side decimated sample instead of
        // carrying none (r14 advice: sampleless big parts degraded
        // rangeSplitBounds to endpoint masses for their whole lifetime —
        // and their merged descendants' too, via sampleHintOf).
        KeySample.fromPartDir(spark.sessionState.newHadoopConf(), stage.toString, stats.rows)
          .orElse(KeySample.fromPartDirDistributed(spark, stage.toString, stats.rows))
    }
    sample.foreach(ks => KeySample.write(stage, ks))
    val now = System.currentTimeMillis()
    val meta = Manifest.register(path, stage, append = register) { partId =>
      PartMetadata(
        partId = partId,
        minKey = stats.minKey,
        maxKey = stats.maxKey,
        minTimestamp = stats.minTs,
        maxTimestamp = stats.maxTs,
        rowCount = stats.rows,
        granuleCount = stats.rowGroups,
        diskSize = size,
        creationTime = now)
    }
    if (register) refresh()
    Some(meta)
  }

  /** Re-read the on-disk manifest (picks up parts landed by the DSv2
    * connector or another instance since this instance's last mutation).
    */
  def refresh(): Unit = lock.synchronized {
    manifest = Manifest.load(path).getOrElse(Manifest(0L, Nil))
  }

  private def partDir(id: Long): String = s"$path/part_$id"

  // -------------------------------------------------------- reader-safe GC

  /** Same grace-windowed GC as the generic table (shared gclist.json
    * format, see ColumnarMergeTree.retireParts): parts replaced by
    * optimize/merge stay on disk for gcGraceSeconds so a scan planned
    * against the pre-op manifest keeps its input files.
    */
  private def retireParts(ids: Iterable[Long]): Unit = {
    if (ids.isEmpty) return
    partRowCache.invalidate(ids)
    ids.foreach(keySampleCache.remove(_))
    val now = System.currentTimeMillis()
    ColumnarMergeTree.GcList.update(path)(cur =>
      ColumnarMergeTree.GcList(
        cur.retired ++ ids.map(ColumnarMergeTree.GcEntry(_, now))))
    purgeGc()
  }

  /** Delete retired part directories whose grace has expired (`force` = all
    * of them); dirs go before their list entries so a crash in between only
    * leaves re-purgeable no-op entries, never an unrecorded leak. Also
    * sweeps aged metadata temps ([[MetaFiles.sweepTemps]]).
    */
  def purgeGc(force: Boolean = false): Int = {
    val now = System.currentTimeMillis()
    // Torn metadata publishes: same age floor as the generic table's
    // orphan sweep, even under `force`; not counted in the result.
    MetaFiles.sweepTemps(Paths.get(path),
      now - math.max(600L, config.gcGraceSeconds.toLong) * 1000L)
    val cutoff = now - config.gcGraceSeconds * 1000L
    val victims = ColumnarMergeTree.GcList.load(path).retired
      .filter(e => force || e.retiredAt <= cutoff)
    if (victims.isEmpty) return 0
    victims.foreach(e => deleteRecursively(Paths.get(partDir(e.partId))))
    val gone = victims.map(_.partId).toSet
    ColumnarMergeTree.GcList.update(path)(cur =>
      ColumnarMergeTree.GcList(cur.retired.filterNot(e => gone(e.partId))))
    victims.size
  }

  /** Part ids retired but not yet purged — diagnostic/test hook. */
  def gcPending: Seq[Long] =
    ColumnarMergeTree.GcList.load(path).retired.map(_.partId)

  // ------------------------------------------------------------------ stats

  /** Metadata-only total row count (O24, src/merge_tree.cpp:119-135):
    * manifest sum + memtable size, no scan.
    */
  def totalRows: Long = lock.synchronized {
    manifest.parts.map(_.rowCount).sum + memtable.size
  }

  def partCount: Int = lock.synchronized { manifest.parts.size }

  def memtableSize: Int = lock.synchronized { memtable.size }

  def diskUsage: Long = lock.synchronized { manifest.parts.map(_.diskSize).sum }

  def parts: Seq[PartMetadata] = lock.synchronized { manifest.parts }

  /** Flush + stop background worker (src/merge_tree.cpp:99-112), then purge
    * grace-expired retired parts so an idle table doesn't leak them until
    * its next maintenance op.
    */
  def shutdown(): Unit = {
    lock.synchronized { triggerFlushIfNeeded(force = memtable.nonEmpty) }
    closed = true
    bgThread.foreach(_.interrupt())
    purgeGc()
  }
}

object MergeTreeTable {

  /** (key, timestamp) order in UTF-8 collation — allocation-free comparator
    * for the local scan's hot merge loop.
    */
  private[mergetree] val rowOrder: java.util.Comparator[KVRow] =
    new java.util.Comparator[KVRow] {
      def compare(a: KVRow, b: KVRow): Int = {
        val c = KeyOrder.cmp(a.key, b.key)
        if (c != 0) c else java.lang.Long.compare(a.timestamp, b.timestamp)
      }
    }

  /** K-way merge of sorted (key,ts) runs with INLINE exact-dup collapse
    * keeping max(value) — the local scan's hot loop. One pass, n·log k
    * comparisons, no intermediate copy and no re-sort (the reference's
    * scan is the same k-way part walk, src/merge_tree.cpp:40-63; the
    * previous shape — concatenate + TimSort + adjacent dedup — cost 2-3×
    * this on the contract microbench). Runs must each be (key,ts)-sorted;
    * equal (key,ts) rows then surface consecutively, so the dedup is a
    * compare against the last emitted row.
    */
  private[mergetree] def mergeDedupRuns(runs: IndexedSeq[IndexedSeq[KVRow]]): Seq[KVRow] = {
    val k = runs.length
    if (k == 0) return Seq.empty
    val pos = new Array[Int](k)
    val heap = new Array[Int](k)
    var hs = 0
    def cmpRun(i: Int, j: Int): Int = {
      val c = rowOrder.compare(runs(i)(pos(i)), runs(j)(pos(j)))
      if (c != 0) c else i - j
    }
    def siftUp(from: Int): Unit = {
      var idx = from
      while (idx > 0) {
        val par = (idx - 1) >> 1
        if (cmpRun(heap(idx), heap(par)) < 0) {
          val t = heap(idx); heap(idx) = heap(par); heap(par) = t; idx = par
        } else return
      }
    }
    def siftDown(): Unit = {
      var idx = 0
      while (true) {
        val l = 2 * idx + 1
        if (l >= hs) return
        var m = l
        val r = l + 1
        if (r < hs && cmpRun(heap(r), heap(l)) < 0) m = r
        if (cmpRun(heap(m), heap(idx)) < 0) {
          val t = heap(idx); heap(idx) = heap(m); heap(m) = t; idx = m
        } else return
      }
    }
    var i = 0
    while (i < k) {
      if (runs(i).nonEmpty) { heap(hs) = i; hs += 1; siftUp(hs - 1) }
      i += 1
    }
    val out = new Array[KVRow](runs.iterator.map(_.length).sum)
    var w = 0
    while (hs > 0) {
      val r = heap(0)
      val row = runs(r)(pos(r))
      if (w > 0 && rowOrder.compare(out(w - 1), row) == 0) {
        if (KeyOrder.lt(out(w - 1).value, row.value)) out(w - 1) = row
      } else { out(w) = row; w += 1 }
      pos(r) += 1
      if (pos(r) >= runs(r).length) { hs -= 1; heap(0) = heap(hs) }
      siftDown()
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      java.util.Arrays.copyOf(out, w))
  }

  /** Target rows per parquet file inside a part (see partitionsForRows). */
  private val RowsPerFileTarget = 1000000L

  /** Shared parquet-mr schema + Hadoop conf for the driver-local flush path.
    * Built once: even a copy of the JVM-wide defaults ([[HadoopConf]]) is
    * not free, and a per-flush conf parse was a third of the 50k-row ingest
    * workload.
    * RawLocalFileSystem skips the .crc shadow files ChecksumFileSystem
    * writes (Spark's own parquet commit protocol does the same).
    */
  private[mergetree] val localFlushSchema: org.apache.parquet.schema.MessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  required binary key (UTF8);
        |  required binary value (UTF8);
        |  required int64 timestamp;
        |}""".stripMargin)

  private[mergetree] val localFlushConf: org.apache.hadoop.conf.Configuration = {
    val c = HadoopConf.copy()
    c.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(localFlushSchema, c)
    c
  }

  /** `StructType` of the compatibility row (SURVEY §1.4). */
  val schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("timestamp", LongType, nullable = false)))

  /** Create a fresh table (wipes nothing; fails-soft if dir exists). The
    * creator's reader-grace window is persisted (kvmeta.json) so every
    * later opener purges on the SAME clock — an opener with a shorter
    * default would otherwise delete retired dirs inside another instance's
    * declared window (same contract as the generic table's tabledef).
    */
  def create(spark: SparkSession, path: String,
             config: MergeTreeConfig = MergeTreeConfig()): MergeTreeTable = {
    val meta = Paths.get(path, KvMetaFile)
    if (!Files.exists(meta))
      MetaFiles.publish(meta, s"""{"gcGraceSeconds": ${config.gcGraceSeconds}}""")
    new MergeTreeTable(spark, path, config)
  }

  /** Open an existing table: manifest load == `load_existing_parts`
    * (O23, src/merge_tree.cpp:164-197). A persisted grace window overrides
    * the opener's config (see create).
    */
  def open(spark: SparkSession, path: String,
           config: MergeTreeConfig = MergeTreeConfig()): MergeTreeTable = {
    val cfg = MetaFiles.readJson[KvMeta](Paths.get(path, KvMetaFile))
      .fold(config)(m => config.copy(gcGraceSeconds = m.gcGraceSeconds))
    new MergeTreeTable(spark, path, cfg)
  }

  /** The persisted table settings (`kvmeta.json`); see create. */
  private case class KvMeta(gcGraceSeconds: Int)
  private val KvMetaFile = "kvmeta.json"

  private[graft] def dirSize(p: Path): Long = {
    if (!Files.exists(p)) return 0L
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    val s = Files.walk(p)
    try {
      s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
    } finally s.close()
  }
}

/** Live-part manifest: tiny JSON doc, published atomically (MetaFiles).
  * Replaces the reference's per-part `metadata.bin` + directory scan
  * (src/merge_tree.cpp:164-197) with a single authoritative file — this is
  * the fix for the reference's merge-leaves-stale-dirs bug (SURVEY §3.3).
  */
case class Manifest(version: Long, parts: List[PartMetadata])

object Manifest {
  private val File = "manifest.json"

  def load(tablePath: String): Option[Manifest] =
    MetaFiles.readJson[Manifest](Paths.get(tablePath, File))

  def store(tablePath: String, m: Manifest): Unit =
    MetaFiles.publishJson(Paths.get(tablePath, File), m)

  /** Every mutation of a table's manifest — by a live MergeTreeTable
    * instance, the DSv2 connector, or both concurrently — goes through
    * read-merge-store under this per-path lock, so a writer holding a stale
    * in-memory copy can never clobber another writer's committed parts
    * (round-3 verdict bug #4). Cross-PROCESS writers remain out of scope
    * (single-driver posture, SURVEY §8).
    */
  def update(tablePath: String)(f: Manifest => Manifest): Manifest =
    MetaFiles.update(tablePath, File, Manifest(0L, Nil))(f)

  /** Allocate the next part id and atomically bind it: the staged part
    * directory is renamed to `part_<id>` INSIDE the lock, so id allocation
    * and the claim on the directory name are one step — two writers can
    * never pick the same id or overwrite each other's part dir. The manifest
    * `version` field is the allocation fence (always bumped past the id);
    * `append=false` leaves the part unregistered (compaction outputs swap in
    * later) but still fenced.
    */
  def register(tablePath: String, stagedDir: Path, append: Boolean)
      (metaFor: Long => PartMetadata): PartMetadata =
    ManifestLocks.locked(tablePath) {
      val cur = load(tablePath).getOrElse(Manifest(0L, Nil))
      val id = PartClaims.claim(tablePath, stagedDir,
        math.max(cur.version, cur.parts.map(_.partId + 1).foldLeft(0L)(math.max)))
      val meta = metaFor(id)
      store(tablePath,
        Manifest(id + 1, if (append) cur.parts :+ meta else cur.parts))
      meta
    }
}

/** Claim a staged directory as `part_<id>`, starting at `startId` and
  * skipping past unfenced same-id dirs left by crashed writers (a writer
  * that died between ITS rename and manifest store leaves a claimed dir
  * whose id was never fenced — without the skip every later register on
  * the table fails on the same name until the dir is removed by hand).
  * ONE implementation shared by both manifest formats' lock-mode
  * registers; caller must hold the table's manifest lock and must fence
  * PAST the returned id in the store that follows. The skipped orphan dir
  * is inert (in no manifest, never read) and ages out of the orphan sweep.
  */
private[mergetree] object PartClaims {
  def claim(tablePath: String, stagedDir: Path, startId: Long): Long = {
    var id = startId
    var moved = false
    while (!moved) {
      val target = Paths.get(tablePath, s"part_$id")
      try { Files.move(stagedDir, target); moved = true }
      catch {
        case _: java.nio.file.FileSystemException if Files.exists(target) =>
          id += 1
      }
    }
    id
  }
}
