package graft.operators

import graft.mergetree.{ColumnarMergeTree, MergeTreeConfig, MetaFiles}
import graft.queries.PipelineQueries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, IntegerType, LongType, ShortType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** A PERSISTED IVF (inverted-file) ANN index, stored as a MergeTree table:
  * the marriage of the engine's two halves. q28 demonstrates the IVF query
  * shape by recomputing assignments per call; a 100 TB corpus builds the
  * index ONCE — and this class stores it so that the inverted lists ARE the
  * storage engine's parts:
  *
  *   - build: train a spherical-k-means coarse quantizer (the same Lloyd
  *     machinery as q28), assign every vector to its nearest centroid, and
  *     land each cluster as its own part of a ColumnarMergeTree ordered by
  *     cluster id. Centroids persist as a parquet sidecar under the table
  *     dir (`_centroids/` — invisible to the part manifest).
  *   - search: the quantizer is fixed after build, so the instance holds
  *     it (≤ nlist rows, read once). Each search collects its query batch
  *     and ranks the centroids per query on the driver with the same
  *     cosine/r6 expressions, keeping nprobe per query. Only the probed
  *     clusters' parts are read — driver-side manifest part pruning, so
  *     the engine reads nprobe/nlist of the corpus from disk, exactly what
  *     an inverted file is for. When the probed parts, summed over the
  *     queries, fit the table's local-read budget (`localScanMaxRows`
  *     rows and a file open's worth of bytes — see
  *     `ColumnarMergeTree.localRangeScan`), the search is served on the
  *     driver: the parts are read locally and in parallel, the same
  *     self filter and cosine/r6 expressions are resolved once and
  *     evaluated per row, and only the result becomes a local relation —
  *     no Spark job, and no Dataset is planned besides the query batch's
  *     collect and the caller's action. Larger
  *     searches broadcast the probe, a local (qid, qv, cid) relation, onto
  *     a `rangeScan` of the probed clusters. Both paths return identical
  *     rows, order and types. The driver holds |queries|·nlist values for
  *     the ranking, bounded by the query batch and the quantizer, never by
  *     the corpus.
  *
  * Scale posture: the index table partitions/compacts/recovers like any
  * other MergeTree table (background merges keep cluster parts healthy as
  * vectors append); a skewed cluster is visible as a big part and splits
  * under the normal compaction policy; queries touch only probed parts.
  */
final class IvfIndex private (
    val spark: SparkSession,
    val table: ColumnarMergeTree,
    val path: String,
    quantizer: Array[Row]) {

  import IvfIndex._

  /** Quantizer size (centroid count). */
  val nlist: Int = quantizer.length

  /** Vector dimensionality the index was built on — one centroid row.
    * Serve faces validate query vectors against it: the cosine expression
    * documents equal lengths as the embedding pipeline's contract, which
    * ad-hoc (SQL-literal) queries don't get for free.
    */
  lazy val dim: Int = quantizer.head.getSeq[Double](1).size

  /** Top-k neighbours per query vector, probing `nprobe` clusters.
    * `queries`: (qid: Long, qv: array<double>). Output:
    * (qid, rnk, vec_id, sim) — the q23/q28 result shape, ranked by sim
    * descending (NULL last), then vec_id.
    *
    * Served on the driver when the queries' probed parts, summed over the
    * queries, fit the table's local-read budget (see [[servedSearch]]);
    * otherwise distributed.
    */
  def search(queries: DataFrame, k: Int, nprobe: Int,
             excludeSelf: Boolean = true): DataFrame = {
    val q = localQueries(queries)
    val probes = probeOf(q, nprobe)
    servedSearch(q, probes, k, excludeSelf).getOrElse {
      // The probe set is query-batch-sized (|queries| · nprobe rows) while
      // the probed vectors side scales with the corpus: broadcast the small
      // side explicitly — stats-blind estimation must never shuffle the
      // corpus rows into a sort-merge join here.
      val scored = probedScan(cidsOf(probes))
        .join(broadcast(probeFrame(q, probes)), Seq("cid"))
        // excludeSelf compares qid against vec_id — correct when queries ARE
        // corpus rows (the q23/q28 workload); pass false when query ids live
        // in their OWN id space, or the corpus row that merely shares the
        // number silently vanishes from that query's results.
        .filter(selfFilter(excludeSelf))
        .select(col("qid"), col("vec_id"), r6(cosine(col("qv"), col("v"))).as("sim"))
      topK(scored, k)
    }
  }

  private def selfFilter(excludeSelf: Boolean) =
    if (excludeSelf) col("vec_id") =!= col("qid") else lit(true)

  /** [[search]] served on the driver: the probed lists' rows read locally
    * ([[ColumnarMergeTree.localRangeScan]], one range set per query, so
    * the budget counts each query's probed rows and bytes), then per query
    * the same self filter and `r6(cosine(qv, v))` as the distributed plan,
    * resolved once over (qid, qv, vec_id, v) and evaluated per row of that
    * query's own lists only (interpreted, as the optimizer evaluated them
    * over a local relation before; no Dataset, no job, no query × row
    * pairs materialized). Each query's rows rank in the distributed
    * window's order, [[RankOrder]]'s `sim DESC NULLS LAST, vec_id`. None —
    * the caller plans the distributed search — when the table will not
    * serve the read, qid is not integral (qids order as longs), or a qid
    * repeats in the batch.
    */
  private def servedSearch(q: Queries, probes: Seq[Row], k: Int,
                           excludeSelf: Boolean): Option[DataFrame] = {
    val qidField = q.schema("qid")
    if (!Seq(LongType, IntegerType, ShortType, ByteType).contains(qidField.dataType)) return None
    val byQid = probes.groupBy(_.get(0)).toSeq
    if (byQid.exists { case (_, ps) =>
        ps.map(_.get(1)).distinct.size > 1 || ps.map(_.getLong(2)).distinct.size < ps.size })
      return None
    table.localRangeScan(None,
        byQid.map(_._2.map(r => (r.getLong(2): Any, r.getLong(2): Any))), Seq("vec_id", "v"))
      .map { lists =>
        val input = StructType(Seq(qidField, q.schema("qv"),
          table.schema("vec_id").copy(nullable = true), table.schema("v").copy(nullable = true)))
        val Seq(sim, notSelf) = ColumnBridge.bound(spark, input,
          r6(cosine(col("qv"), col("v"))), col("vec_id") =!= col("qid"))
        val toQuery = CatalystTypeConverters.createToCatalystConverter(
          StructType(input.take(2)))
        val order = RankOrder.scoreDescThenId(RankOrder.sqlDouble)
        def qidKey(qid: Any): Option[Long] = Option(qid).map(_.asInstanceOf[Number].longValue)
        val rows = byQid.zip(lists).sortBy(e => qidKey(e._1._1)).flatMap {
          case ((qid, ps), listed) =>
            val joined = new JoinedRow(
              toQuery(Row(qid, ps.head.get(1))).asInstanceOf[InternalRow], null)
            listed.iterator.map(joined.withRight)
              .filter(r => !excludeSelf || notSelf.eval(r) == true)
              .map(r => (r.getLong(2), Option(sim.eval(r)).map(_.asInstanceOf[Double])))
              .toSeq
              .sortBy { case (vecId, s) => (s, vecId) }(order)
              .take(k).zipWithIndex
              .map { case ((vecId, s), i) => Row(qid, i + 1, vecId, s.map(Double.box).orNull) }
        }
        spark.createDataFrame(rows.asJava, StructType(Seq(qidField,
          StructField("rnk", IntegerType, nullable = false),
          table.schema("vec_id").copy(nullable = true), StructField("sim", DoubleType))))
      }
  }

  /** The query batch's (qid, qv) rows, collected once: every later use
    * (probe ranking, the served scoring, the broadcast probe, the ADC
    * lookup tables) then reads driver memory, not the source again.
    */
  private def localQueries(queries: DataFrame): Queries = {
    val q = queries.select(col("qid"), col("qv"))
    Queries(q.schema, q.collect().toSeq)
  }

  /** The probe of a local query batch, planned on the driver: each
    * query's `nprobe` best clusters by r6(cosine(qv, cv)) descending, ties
    * to the lower cid, as (qid, qv, cid) rows. The pair scores are that
    * expression resolved once and evaluated per (query, centroid) pair
    * (see `ColumnBridge.bound`), so ranking plans no Dataset and runs no
    * Spark job. When every list is probed (nprobe ≥ nlist — exact mode)
    * there is nothing to rank and each query probes every cid.
    */
  private def probeOf(q: Queries, nprobe: Int): Seq[Row] =
    if (nprobe >= nlist)
      for (r <- q.rows; c <- quantizer) yield Row(r.get(0), r.get(1), c.getLong(0))
    else {
      val input = StructType(Seq(q.schema("qv"), quantizerSchema("cv")))
      val psim = ColumnBridge.bound(spark, input, r6(cosine(col("qv"), col("cv")))).head
      val toQv = CatalystTypeConverters.createToCatalystConverter(input("qv").dataType)
      val toCv = CatalystTypeConverters.createToCatalystConverter(input("cv").dataType)
      val cvs = quantizer.map(c => (c.getLong(0), toCv(c.get(1))))
      val scored = q.rows.flatMap { r =>
        val qv = toQv(r.get(1))
        cvs.map { case (cid, cv) =>
          (r, cid, Option(psim.eval(InternalRow(qv, cv))).map(_.asInstanceOf[Double])) }
      }
      val order = RankOrder.scoreDescThenId(RankOrder.sqlDouble)
      scored.groupBy(_._1.get(0)).valuesIterator
        .flatMap(_.sortBy { case (_, cid, s) => (s, cid) }(order).take(nprobe))
        .map { case (r, cid, _) => Row(r.get(0), r.get(1), cid) }.toSeq
    }

  /** The probe rows as a local (qid, qv, cid) relation — the broadcast side. */
  private def probeFrame(q: Queries, probes: Seq[Row]): DataFrame =
    spark.createDataFrame(probes.asJava, q.schema.add(probeCid))

  /** The sorted distinct probed cids. */
  private def cidsOf(probes: Seq[Row]): Array[Long] =
    probes.map(_.getLong(2)).distinct.sorted.toArray

  /** Per-query top-k of (qid, vec_id, sim) rows, ordered by (qid, rnk).
    * The filtered ranks are k per query, so one partition holds them and
    * sorting it adds no range-sampling job; the partial WindowGroupLimit
    * still runs before the exchange.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vec_id"), col("sim"))
      .coalesce(1).sortWithinPartitions(col("qid"), col("rnk"))
  }

  /** Scan of exactly the probed clusters: the sorted cid set coalesces
    * into maximal CONSECUTIVE runs and each run is ONE rangeScan — row-set
    * identical to the former per-cid union (a run contains only probed
    * cids) while planning one scan subtree per run instead of one per
    * cluster. Exact-mode searches (nprobe = nlist, e.g. q140's
    * oracle-exact serve) unioned nlist subtrees, and the per-subtree
    * plan/scan overhead dominated the query (round-16 optimization; each
    * rangeScan still prunes to its runs' parts via the manifest).
    */
  private def probedScan(cids: Array[Long]): DataFrame =
    if (cids.isEmpty) table.scan().limit(0)
    else {
      val runs = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
      var lo = cids(0); var hi = cids(0)
      cids.iterator.drop(1).foreach { c =>
        if (c == hi + 1) hi = c
        else { runs += ((lo, hi)); lo = c; hi = c }
      }
      runs += ((lo, hi))
      runs.map { case (l, h) => table.rangeScan(l, h) }
        .reduce(_ unionByName _)
    }

  /** (planned, total) parts at the last probed scan — pruning visibility. */
  def lastPruning: (Int, Int) = table.lastPruning

  /** This index over its table reopened with `config` — e.g.
    * `localScanMaxRows = 0` for the distributed search plan.
    */
  private[graft] def withConfig(config: MergeTreeConfig): IvfIndex =
    new IvfIndex(spark, ColumnarMergeTree.open(spark, path, config), path, quantizer)

  /** PQ codebooks sidecar — present iff this index was built with
    * [[IvfIndex.buildAdc]]. Re-read per call (tiny driver-side JSON).
    */
  def pqCodebooks: Option[graft.operators.ProductQuantizer.PqCodebooks] =
    IvfIndex.readPq(path)

  /** IVFADC search (Jégou et al. 2011 — the composition the IVF and PQ
    * halves were built for): rank centroids and probe `nprobe` lists
    * exactly like [[search]], ADC-score ONLY the probed lists' rows via
    * the m-lookup table expression (no vector arithmetic on the corpus
    * side), keep the per-query top-`shortlist`, and exact-re-rank just
    * those — so per query the engine reads nprobe/nlist of the corpus,
    * does m table lookups per read row, and pays true cosines on
    * `shortlist` rows only. Output (qid, rnk, vec_id, sim), exact sims —
    * approximation costs recall, never garbage scores.
    */
  def searchAdc(queries: DataFrame, k: Int, nprobe: Int,
      shortlist: Int, excludeSelf: Boolean = true): DataFrame = {
    val short = adcShortlist(queries, nprobe, shortlist, excludeSelf)
    // Exact cosine is evaluated HERE and only here — on shortlist rows
    // (adcShortlist's output is capped at |queries|·shortlist by its
    // row_number filter; the spec pins that bound).
    topK(short.select(col("qid"), col("vec_id"),
      r6(cosine(col("qv"), col("v"))).as("sim")), k)
  }

  /** The ADC stage of [[searchAdc]]: (qid, qv, vec_id, v) of the
    * per-query top-`shortlist` rows by approximate (table-lookup) score
    * over the probed lists. Exposed so the spec can pin the exact-re-rank
    * input bound structurally.
    */
  private[graft] def adcShortlist(queries: DataFrame, nprobe: Int,
      shortlist: Int, excludeSelf: Boolean = true): DataFrame = {
    val cb = pqCodebooks.getOrElse(throw new IllegalStateException(
      s"no PQ codebooks at $path — build with IvfIndex.buildAdc"))
    val q = localQueries(queries)
    val probes = probeOf(q, nprobe)
    // The query's m×k lookup table is computed ONCE, on the driver (a
    // projection over the local query relation); per probed row the
    // approximate score is m array lookups (pq_adc).
    val qlut = spark.createDataFrame(q.rows.asJava, q.schema).select(col("qid"),
      call_function("pq_lut", col("qv"), typedLit(cb.cb)).as("lut"))
    val scored = probedScan(cidsOf(probes)).join(broadcast(probeFrame(q, probes)), Seq("cid"))
      .join(broadcast(qlut), Seq("qid"))
      // see search(): self-exclusion is only meaningful when query ids
      // share the corpus id space
      .filter(selfFilter(excludeSelf))
      .select(col("qid"), col("qv"), col("vec_id"), col("v"),
        call_function("pq_adc", col("code"), col("lut")).as("asim"))
    val sw = Window.partitionBy(col("qid")).orderBy(col("asim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(sw))
      .filter(col("rn") <= shortlist)
      .select(col("qid"), col("qv"), col("vec_id"), col("v"))
  }

  /** Incremental append (the streaming-corpus pattern: feed micro-batches
    * here from foreachBatch): new vectors are assigned to the EXISTING
    * centroids — the quantizer is fixed after build, as IVF quantizers are —
    * and each touched cluster lands one new part. Probes keep pruning to
    * the cluster's parts (now possibly several); the table's normal
    * compaction (optimize / background worker) re-bins them. Retrain by
    * rebuilding when drift matters.
    */
  def append(vectors: DataFrame): Unit = {
    val rows = assignRows(vectors, quantizerFrame(spark, quantizer),
      pqCodebooks)
    // ONE partitioned-ingest job lands one part per touched cluster, and
    // the batch publishes in one manifest update (all-or-nothing).
    table.insertBatch(rows)
  }

  /** EXACTLY-ONCE streaming append — [[InvertedIndex.appendStream]]'s
    * twin for the ANN index. The data commit is [[append]]'s single
    * manifest CAS; the replay guard (`_stream_guard`, the "lineage:batch"
    * of the last committed batch) is its own atomic file write AFTER it —
    * this index has no stats sidecar to ride (totals derive from rows),
    * so unlike the text index the guard and the data are two commits, and
    * the `_stream_intent` marker (written before the CAS, cleared after
    * the guard advances) scopes the torn window: rows landed, guard not
    * yet advanced. Replay with the intent naming this batch scrubs the
    * batch's (new-ids-only) rows and redoes — no crash point double-lands
    * a batch or loses one.
    *
    * The guard keeps a PER-LINEAGE high-water-mark map (the checkpoint's
    * stable query id → last committed batch): a new checkpoint feeding an
    * existing index applies from its own batch 0, and an old feed's
    * crash-replay after a new feed took over is still recognized as
    * applied. File reads fail CLOSED (unreadable guard/intent aborts the
    * batch; a foreign torn intent refuses with rebuild guidance). ONE
    * streaming feed AT A TIME per index: the guard/intent files have a
    * single writer by contract (a lineage's batches arrive serially from
    * foreachBatch); ad-hoc [[append]]/[[delete]] calls never touch these
    * files and stay safe under the manifest CAS (spec-pinned). Returns
    * true if applied, false for an already-applied replay.
    */
  def appendStream(vectors: DataFrame, batchId: Long, lineage: String): Boolean = {
    val dir = java.nio.file.Paths.get(path)
    val guard = dir.resolve("_stream_guard")
    val intent = dir.resolve("_stream_intent")
    val marker = s"$lineage:$batchId"
    // The guard is a PER-LINEAGE high-water-mark map (a single slot would
    // double-apply an old feed's crash-replay after a new feed took
    // over). NO Try-swallow anywhere: an existing-but-unreadable or
    // unparsable guard/intent aborts the batch (foreachBatch retries) —
    // fail-open here means a skipped scrub or a double-apply.
    val feeds: Map[String, Long] =
      MetaFiles.readJson[Map[String, Long]](guard).getOrElse(Map.empty)
    if (feeds.get(lineage).exists(_ >= batchId)) return false
    MetaFiles.read(intent).map(_.trim).foreach { found =>
      if (found == marker) {
        // A prior attempt of THIS batch crashed after possibly committing
        // its rows but before advancing the guard: scrub them (new-ids-
        // only means these rows can only be that attempt's). Driver-held
        // id set, capped like the text index's repair.
        val ids = vectors.select(col("vec_id")).distinct()
          .limit(1000001).collect().map(_.getLong(0)).toSeq
        require(ids.size <= 1000000,
          s"torn-batch repair of $marker holds >1e6 vec ids driver-side; " +
            "rebuild the index instead (or bound the stream's batches)")
        if (ids.nonEmpty)
          table.deleteWhere(col("vec_id").isInCollection(ids))
      } else {
        // Another attempt's intent: committed per the feed map = stale
        // leftover, safe to overwrite; uncommitted = a foreign torn
        // attempt whose ids are unknowable here — refuse loudly.
        val ci = found.lastIndexOf(':')
        val covered = ci > 0 && scala.util.Try(
            found.substring(ci + 1).toLong).toOption.exists(b =>
          feeds.get(found.substring(0, ci)).exists(_ >= b))
        require(covered,
          s"stale stream intent '$found' names a batch never committed — " +
            "a previous feed's append tore and its ids are unknowable; " +
            "rebuild the index")
      }
    }
    MetaFiles.publish(intent, marker)
    append(vectors)
    MetaFiles.publish(guard, org.json4s.jackson.Serialization.write(
      feeds.updated(lineage, batchId))(org.json4s.DefaultFormats))
    // Guard advanced = committed; a crash before this cleanup leaves a
    // stale intent the feed map marks as covered.
    java.nio.file.Files.deleteIfExists(intent)
    true
  }

  /** Remove vectors from the index — the [[InvertedIndex.delete]] twin for
    * corpus deletions (deleteWhere/TTL/opt-out must reach the ANN index or
    * searches keep returning expunged embeddings). The quantizer (and any
    * PQ codebooks) stay FIXED — the same contract as [[append]]: centroids
    * never retrain on mutation, so a delete is purely dropping the ids'
    * rows (whole-part drops O(manifest), partial parts rewrite). Search
    * equality with a survivors-rebuild is exact whenever every relevant
    * cluster is probed (sims are true cosines; approximation only moves
    * recall) — spec-pinned with nprobe = nlist. Driver-held id predicate:
    * right for bounded opt-out sets; rebuild for corpus-sized purges.
    */
  def delete(vecIds: Seq[Long]): Unit = {
    require(vecIds.nonEmpty, "empty delete: pass the removed vec ids")
    table.deleteWhere(col("vec_id").isInCollection(vecIds.distinct))
  }

  /** Re-embed CHANGED vectors (a corpus update that re-encodes documents
    * must reach the ANN index or searches keep ranking stale embeddings):
    * [[delete]] of the ids' rows + [[append]] of the new vectors, with the
    * quantizer and any PQ codebooks FIXED throughout (the append
    * contract), so an updated row is assigned/encoded exactly like an
    * appended one and search-after-update equals a survivors+new rebuild
    * whenever every relevant cluster is probed (spec-pinned with
    * nprobe = nlist). Two manifest CAS commits (drop, then land) — a
    * reader between them misses the updated ids, never sees both
    * versions; single-logical-writer per id set, like append.
    *
    * Crash posture: an `_update_intent` marker (the appendStream intent
    * discipline) brackets the two commits — written atomically before the
    * delete, cleared after the append lands. A crash in between would
    * otherwise leave the index PERMANENTLY missing the updated ids with
    * nothing detecting it; instead [[IvfIndex.open]] refuses to serve an
    * index carrying a torn intent (the replacement vectors are
    * unknowable post-crash, so redo is impossible — the caller re-runs
    * the update from its own inputs, or rebuilds, then removes the
    * marker).
    */
  def update(vectors: DataFrame): Unit = {
    // Validate the replacement frame BEFORE the intent/delete: a caller
    // error (missing column, wrong embedding dimension) must fail here,
    // while the index is still intact — not mid-mutation, where append's
    // failure would leave a torn intent that open() refuses to serve.
    // Only a genuine crash may leave the torn state the intent protects.
    require(vectors.columns.contains("vec_id") && vectors.columns.contains("v"),
      s"update() needs (vec_id, v) columns; got ${vectors.columns.mkString(", ")}")
    val badDim = vectors
      .select(org.apache.spark.sql.functions.size(col("v")).as("d"))
      .filter(col("d") =!= dim).limit(1).collect()
    require(badDim.isEmpty,
      s"update() vector dimension ${badDim.headOption.map(_.getInt(0)).getOrElse(-1)} " +
        s"does not match the index's quantizer dimension $dim")
    val ids = BoundedIds.collect(vectors, "vec_id", "IvfIndex.update")
    require(ids.nonEmpty, "empty update: pass the re-embedded vectors")
    val intent = java.nio.file.Paths.get(path, IvfIndex.UpdateIntentFile)
    MetaFiles.publish(intent, ids.sorted.mkString(","))
    delete(ids)
    append(vectors)
    java.nio.file.Files.deleteIfExists(intent)
  }
}

object IvfIndex {

  /** Default quantizer size for an n-vector corpus: the smallest power of
    * two ≥ √n/4, floored at 8. IVF per-query cost is ~nlist (centroid
    * ranking) + nprobe·n/nlist (probed-list scan), minimized at
    * nlist ∝ √n — a fixed nlist stops pruning as the corpus grows (at
    * 100 TB, nlist = 8 would scan 3/8 of everything). The /4 constant and
    * the floor of 8 reproduce the pinned 8-centroid quantizer at the local
    * testdata scale (500 vectors → 8); the power-of-two rounding keeps
    * sizes stable across small corpus drift.
    */
  def autoNlist(n: Long): Int = {
    val target = math.ceil(math.sqrt(math.max(0L, n).toDouble) / 4.0).toLong
    var p = 8
    while (p < target) p <<= 1
    p
  }

  /** Probe count preserving the pinned 3-of-8 probe fraction. */
  def autoNprobe(nlist: Int): Int = math.max(3, (3 * nlist) / 8)

  private[operators] def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    call_function("cosine_similarity", a, b)

  private[operators] def r6(c: org.apache.spark.sql.Column) =
    floor(c * lit(1e6) + lit(0.5)).cast("double") / 1e6

  private val indexSchema = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("v", ArrayType(DoubleType), nullable = true)))

  private val adcSchema = indexSchema
    .add(StructField("code", ArrayType(IntegerType), nullable = true))

  /** Build the index at `path` from (vec_id, v) vectors: train nlist
    * centroids (seeded from the first nlist vectors, `lloydIters` spherical
    * k-means refinements over `trainFraction` of the data), assign every
    * vector once, and land ONE PART PER CLUSTER so the manifest's
    * cluster-id bounds make probing a part-pruned scan.
    *
    * `nlist` ≤ 0 (the default) auto-sizes the quantizer from the corpus
    * count via [[autoNlist]] (~√n, one count job at build time).
    */
  def build(spark: SparkSession, vectors: DataFrame, path: String,
            nlist: Int = 0, lloydIters: Int = 2, trainMod: Int = 4): IvfIndex =
    buildImpl(spark, vectors, path, nlist, lloydIters, trainMod, pq = None)

  /** Build an IVFADC index (Jégou et al. 2011): [[build]]'s coarse
    * quantizer and one-part-per-cluster layout, with every stored row
    * additionally carrying its `m`-byte PQ code (encoded MAP-SIDE by the
    * native pq_encode expression — one fused pass, the property that
    * encodes a petabyte corpus as a scan) and the trained codebooks
    * persisted as a `_pq.json` sidecar. Serve with [[IvfIndex.searchAdc]]:
    * probe prunes parts, ADC scores probed rows by table lookups, exact
    * re-rank touches only the shortlist.
    */
  def buildAdc(spark: SparkSession, vectors: DataFrame, path: String,
               nlist: Int = 0, m: Int = 8, kcb: Int = 16,
               lloydIters: Int = 2, trainMod: Int = 4): IvfIndex = {
    val cb = ProductQuantizer.train(
      vectors.select(col("vec_id"), col("v")), m = m, k = kcb)
    buildImpl(spark, vectors, path, nlist, lloydIters, trainMod, pq = Some(cb))
  }

  private def buildImpl(spark: SparkSession, vectors: DataFrame, path: String,
      nlist: Int, lloydIters: Int, trainMod: Int,
      pq: Option[ProductQuantizer.PqCodebooks]): IvfIndex = {
    graft.functions.GraftFunctions.register(spark)
    val e = vectors.select(col("vec_id"), col("v"))
    val nl = if (nlist > 0) nlist else autoNlist(e.count())
    val c0 = e.orderBy(col("vec_id")).limit(nl)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val train = e.filter(col("vec_id") % trainMod === 0)
    val c = (1 to lloydIters).foldLeft(c0)((cc, _) =>
      PipelineQueries.lloydStep(train, cc))
    // The quantizer is ≤ nl rows: collect it once, so the assignment, the
    // sidecar and the returned instance all hold the same centroids.
    val quantizer = c.select(col("cid"), col("cv")).collect().sortBy(_.getLong(0))
    val cl = quantizerFrame(spark, quantizer)
    val rows = assignRows(e, cl, pq)
    // PARTITION BY cid: ONE partitioned-ingest job lands one part per live
    // cluster (a part's [minKey, maxKey] is one cid, so a probe's
    // rangeScan(cid, cid) prunes to exactly that part). The per-cluster
    // insertBatch loop this replaced was O(nlist) driver-sequenced jobs
    // per build — with nlist ~ √n, hundreds of round-trips on a real
    // corpus. Partitioning also keeps compaction cluster-local (merges
    // never mix partitions), so OPTIMIZE can't widen probe bounds.
    val t = ColumnarMergeTree.create(spark, path,
      if (pq.isDefined) adcSchema else indexSchema,
      orderBy = Seq("cid"), MergeTreeConfig(maxParts = 2 * nl),
      partitionBy = Some("cid"))
    t.insertBatch(rows)
    cl.coalesce(1).write.mode("overwrite").parquet(s"$path/_centroids")
    pq.foreach(cb => writePq(path, cb))
    new IvfIndex(spark, t, path, quantizer)
  }

  /** (cid, vec_id, v[, code]) index rows for a vector batch: each vector
    * goes to its nearest centroid of `c` (ties to the lower cid), and an
    * ADC index also encodes it against its codebooks. Build and append
    * share it, so appended rows land exactly like built ones.
    */
  private def assignRows(vectors: DataFrame, c: DataFrame,
      pq: Option[ProductQuantizer.PqCodebooks]): DataFrame = {
    val aw = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
    val assigned = vectors.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(c))
      .select(col("vec_id"), col("v"), col("cid"),
        r6(cosine(col("v"), col("cv"))).as("csim"))
      .withColumn("rn", row_number().over(aw)).filter(col("rn") === 1)
      .select(col("cid"), col("vec_id"), col("v"))
    pq match {
      case Some(cb) => assigned.withColumn("code",
        call_function("pq_encode", col("v"), typedLit(cb.cb)))
      case None => assigned
    }
  }

  /** The centroid sidecar's layout: (cid, cv), one row per list. */
  private val quantizerSchema = StructType(Seq(
    StructField("cid", LongType), StructField("cv", ArrayType(DoubleType))))

  /** A query batch collected once: its (qid, qv) schema and rows. */
  private final case class Queries(schema: StructType, rows: Seq[Row])

  /** The probe relation's cluster column. */
  private val probeCid = StructField("cid", LongType, nullable = false)

  private def quantizerFrame(spark: SparkSession, quantizer: Array[Row]): DataFrame =
    spark.createDataFrame(quantizer.toSeq.asJava, quantizerSchema)

  /** The centroid sidecar's rows in cid order — the one read of
    * `_centroids` an opened instance makes.
    */
  private def readQuantizer(spark: SparkSession, path: String): Array[Row] =
    spark.read.schema(quantizerSchema).parquet(s"$path/_centroids")
      .collect().sortBy(_.getLong(0))

  /** Codebooks sidecar I/O (`_pq.json`, fields m, k, dsub, cb). */
  private def writePq(path: String, cb: ProductQuantizer.PqCodebooks): Unit =
    MetaFiles.publish(java.nio.file.Paths.get(path, "_pq.json"),
      org.json4s.jackson.Serialization.write(cb)(org.json4s.DefaultFormats))

  private[operators] def readPq(path: String): Option[ProductQuantizer.PqCodebooks] =
    MetaFiles.readJson[ProductQuantizer.PqCodebooks](java.nio.file.Paths.get(path, "_pq.json"))

  /** Reopen a built index (table self-describes via tabledef.json). The
    * build-time maxParts = 2·nlist rides back in from the centroid sidecar
    * (the [[InvertedIndex.open]] discipline) — a default-config reopen
    * would let a later OPTIMIZE bin-pack far below the cluster count
    * (pruning stays CORRECT either way: partitioned merges are
    * cluster-local, this just keeps the merge-trigger budget the build
    * chose).
    */
  def open(spark: SparkSession, path: String): IvfIndex = {
    graft.functions.GraftFunctions.register(spark)
    // A torn update (crash between its delete and append commits) leaves
    // the index missing the updated ids — fail loudly instead of serving
    // silently wrong neighbours forever (see update's crash posture).
    MetaFiles.read(java.nio.file.Paths.get(path, UpdateIntentFile)).foreach { ids =>
      throw new IllegalStateException(
        s"ANN index at $path has a torn update (ids: $ids): re-run the update " +
          s"from its inputs or rebuild, then remove $UpdateIntentFile")
    }
    val quantizer = readQuantizer(spark, path)
    val cfg = MergeTreeConfig(maxParts = 2 * math.max(1, quantizer.length))
    new IvfIndex(spark, ColumnarMergeTree.open(spark, path, cfg), path, quantizer)
  }

  /** Marker bracketing update's two manifest commits; see [[IvfIndex.update]]. */
  val UpdateIntentFile = "_update_intent"
}
