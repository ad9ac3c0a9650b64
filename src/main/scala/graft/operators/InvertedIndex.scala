package graft.operators

import graft.mergetree.{ColumnarMergeTree, MergeTreeConfig, MetaFiles}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** A PERSISTED full-text inverted index with BM25 ranking and positional
  * phrase search, stored as a MergeTree table — the text twin of
  * [[IvfIndex]] (same marriage of the engine's two halves: the inverted
  * lists ARE the storage engine's parts).
  *
  * q110 demonstrates BM25 semantics by scanning the corpus per query; a
  * 100 TB corpus tokenizes ONCE — and this class stores the postings so a
  * query touches only the lists of its own terms:
  *
  *   - build: tokenize (the q78 tokenizer — lowercase, split on
  *     non-letters, length ≥ 3), aggregate per-(doc,term) term frequencies
  *     WITH raw-split-array positions (the Lucene prox layout),
  *     DENORMALIZE each document's token count `dl` into its posting rows
  *     (killing the query-time join against a corpus-sized doc-length
  *     table — dl is a per-document fact, so it can never go stale), hash
  *     every term into one of `nbuckets` lists, and land ONE PART PER
  *     BUCKET of a ColumnarMergeTree ordered by bucket id. Corpus totals
  *     (document count, total token count — exact integers, so avgdl is
  *     reproducible bit for bit) persist as an atomically-swapped JSON
  *     sidecar under the table dir (`_stats.json`; indexes persisted by
  *     the earlier parquet `_stats/` layout still open — see readStats).
  *   - search: the query's terms hash to ≤ |terms| buckets, and the
  *     manifest prunes the read to those buckets' own part(s) — the engine
  *     reads |query buckets|/nbuckets of the index from disk. Per-term
  *     document frequencies come from the matched lists themselves (a
  *     term's bucket holds EVERY posting of that term across all parts, so
  *     the count is exact — including parts landed by [[append]]). When
  *     the pruned parts fit the table's local-read budget
  *     (`localScanMaxRows` rows and a file open's worth of bytes — see
  *     `ColumnarMergeTree.localRangeScan`), the search is served on the
  *     driver: the parts are read locally and in parallel, df is counted,
  *     the BM25 contribution expression is resolved once and evaluated per
  *     posting row, and only the result becomes a local relation — no
  *     Dataset is planned before the caller's own action. Larger
  *     probes plan one `rangeScan(b, b)` per bucket with the `term IN (…)`
  *     filter pushed into the parquet scan and df as a window count over
  *     the posting rows. Both paths return identical rows, order and
  *     types. No corpus access at all.
  *   - phrase search: postings are POSITIONAL, so exact phrase queries
  *     resolve by folding position-list intersections — [[phraseSearch]].
  *   - append: a new batch of documents lands one new part per touched
  *     bucket and bumps the corpus totals — per-batch cost ∝ batch, and
  *     because df/avgdl/nDocs are all derived (never frozen into posting
  *     rows), a search after append equals a search over a from-scratch
  *     rebuild exactly (spec-pinned, the MinHashStore discipline).
  *
  * BM25 (Robertson/Spärck Jones; the Lucene-style non-negative idf):
  *   idf(t)  = ln((N - df + 0.5)/(df + 0.5) + 1)
  *   s(d,t)  = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  * Per-(doc,term) contributions are rounded to integer micro-units BEFORE
  * the per-document sum (integer addition is order-independent, so the
  * score is reproducible across partitionings and engines — the q20/q78
  * float discipline applied to an order-sensitive sum).
  *
  * Scale posture: the index table partitions/compacts/recovers like any
  * other MergeTree table (append-grown bucket parts re-bin under normal
  * compaction); a query never shuffles anything bigger than the matched
  * postings. Stats updates are single-writer (the MinHashStore contract);
  * multi-writer appends would need the manifest-log commit protocol.
  */
final class InvertedIndex private (
    val spark: SparkSession,
    val table: ColumnarMergeTree,
    val path: String) {

  import InvertedIndex._

  /** Corpus stats — re-read per query (one tiny driver-side JSON read, no
    * Spark job), so searches observe appends immediately. n_docs counts
    * EVERY indexed document (the idf denominator); n_dl_docs only those
    * with ≥ 1 surviving token (the avgdl denominator — exactly the doc set
    * the oracle's dl CTE averages over).
    */
  private def stats: InvStats = InvertedIndex.readStats(path)

  /** Bucket count the build hashed with (persisted — it can NOT be
    * re-derived from occupied buckets: an empty top bucket would shrink
    * the modulus and re-hash every query term wrong).
    */
  def nbuckets: Int = stats.nbuckets

  /** The tokenizer this index was built with ("latin" | "mixed") —
    * persisted so appends and [[searchText]] tokenize consistently.
    */
  def tokenizer: String = stats.tokenizer.getOrElse(Latin)

  /** [[search]] over a raw query STRING, tokenized with the index's own
    * tokenizer — the natural entry point for CJK queries, where the user
    * types `中文分词` and the bigram terms are an indexing detail. The
    * tokenization evaluates the identical Catalyst expression the build
    * used (no driver reimplementation to drift) on the driver, with no
    * Spark job.
    */
  def searchText(query: String, k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryTerms(spark, query, tokenizer)
    require(terms.nonEmpty, s"query '$query' has no indexable terms")
    search(terms, k, k1, b)
  }

  /** [[searchScores]] over a raw query string — [[searchText]]'s twin for
    * callers that fold scores to a coarser key before ranking (the
    * chunk-granular serve path).
    */
  def searchScoresText(query: String,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryTerms(spark, query, tokenizer)
    require(terms.nonEmpty, s"query '$query' has no indexable terms")
    searchScores(terms, k1, b)
  }

  /** [[phraseSearch]] over a raw SINGLE-SCRIPT query string: a CJK phrase
    * becomes its consecutive bigrams (exact within a Han run — the per-run
    * position space guarantees no match across separators), a latin phrase
    * its split tokens. Queries whose tokenization would SILENTLY change
    * the phrase are rejected loudly instead of searching something else:
    * mixed-script phrases (latin and Han positions live in disjoint spaces
    * — cross-script adjacency is undefined), latin phrases containing a
    * sub-3-char word (the tokenizer drops it, so [big, a, cat] would
    * search [big, cat] ADJACENT — a different phrase), and CJK phrases
    * spanning more than one Han run (run positions are disjoint, so the
    * fold could never match — always-empty would masquerade as "no hits").
    */
  def phraseSearchText(query: String, k: Int): DataFrame = {
    val hasHan = query.exists(ch =>
      Character.UnicodeScript.of(ch) == Character.UnicodeScript.HAN)
    val hasLatin = query.exists(ch => ch >= 'a' && ch <= 'z' ||
      ch >= 'A' && ch <= 'Z')
    require(!(hasHan && hasLatin),
      "phrase queries must be single-script (latin and Han positions are disjoint)")
    if (hasLatin) {
      val raw = query.toLowerCase(java.util.Locale.ROOT)
        .split("[^a-z]+").filter(_.nonEmpty)
      require(raw.forall(_.length >= 3),
        s"phrase '$query' contains a word under 3 chars, which the tokenizer " +
          "drops — the remaining words would be treated as adjacent and a " +
          "DIFFERENT phrase searched; rephrase without the short word")
    }
    if (hasHan) {
      val runs = "[\\p{IsHan}]+".r.findAllIn(query).size
      require(runs == 1,
        s"CJK phrase '$query' spans $runs Han runs; per-run positions are " +
          "disjoint so a multi-run phrase can never match — query one run")
    }
    val terms = queryTerms(spark, query, tokenizer)
    require(terms.nonEmpty, s"phrase '$query' has no indexable terms")
    phraseSearch(terms, k)
  }

  /** The postings of `terms`, read through bucket part pruning — PINNED to
    * the snapshot the stats sidecar names (`st.seq`), so the postings a
    * search scores and the nDocs/avgdl it scores them with describe the
    * SAME corpus state: a search racing an [[append]] sees wholly-old or
    * wholly-new, never the batch's postings under the previous totals
    * (the lag window the pre-pinning design documented).
    *
    * Fallback: a pre-pinning index (no seq persisted), a snapshot aged out
    * of the log, or pinned parts already GC'd (a later compaction plus an
    * expired grace window) reads the LIVE manifest — the pre-pinning
    * behavior, correct except for the one-batch stats lag.
    */
  private def postingsOf(terms: Seq[String], st: InvStats): DataFrame = {
    // The query's buckets: ≤ |terms| values, computed on the driver with
    // the same hash expression the build used (bounded by the query, never
    // the corpus).
    val buckets = bucketsOf(spark, terms.distinct, st.nbuckets)
    val pinned = pinnedParts(st)
    def scanBucket(bk: Long): DataFrame = pinned match {
      case Some(parts) => table.rangeScanOf(parts, bk, bk)
      case None => table.rangeScan(bk, bk)
    }
    buckets.map(scanBucket)
      .reduceOption(_ unionByName _)
      .getOrElse(table.scan().limit(0))
      .filter(col("term").isin(terms.distinct: _*))
  }

  /** The part list a search reads: the snapshot `st.seq` pins, or None
    * for the live manifest (see [[postingsOf]]). Decided ONCE per search
    * (snapshot loaded and validated a single time): a per-bucket fallback
    * could mix the pinned state for one term's bucket with the live state
    * for another — exactly the cross-state inconsistency pinning exists
    * to prevent.
    */
  private def pinnedParts(st: InvStats): Option[Seq[ColumnarMergeTree.GPartMeta]] =
    st.seq.flatMap(table.snapshotPartsOption)

  /** BM25 top-k documents for `terms`. Output: (rk, doc_id, n_terms,
    * score) — n_terms is the number of distinct query terms the document
    * matched; score is the micro-unit integer BM25 sum. Ties rank by
    * doc_id.
    *
    * Served on the driver when the query's bucket parts fit the table's
    * local-read budget (see [[servedScores]]); otherwise distributed.
    */
  def search(terms: Seq[String], k: Int,
             k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "empty query: search needs at least one term")
    servedScores(Seq(0L -> terms), k1, b) match {
      case Some(scored) =>
        local(searchSchema, ranked(scored, k).map { case (rk, s) =>
          Row(rk, s.doc, s.nTerms, s.score) })
      case None =>
        val scored = distributedScores(terms, k1, b)
        // Distributed top-k (TakeOrderedAndProject) BEFORE the rank window:
        // the window then numbers k rows, never a global single partition
        // of every matched document.
        val top = scored.orderBy(col("score").desc, col("doc_id")).limit(k)
        val w = Window.orderBy(col("score").desc, col("doc_id"))
        top.withColumn("rk", row_number().over(w).cast("long"))
          .select(col("rk"), col("doc_id"), col("n_terms"), col("score"))
          .orderBy(col("rk"))
    }
  }

  /** BATCHED multi-query BM25 — the terms⋈postings shape for a QUERY SET:
    * one bucket-pruned posting scan over the UNION of every query's terms,
    * df per term computed once, contributions joined to the broadcast
    * (qid, term) query table, per-(qid, doc) fold, per-qid top-k through
    * a WindowGroupLimit. Per-term df/avgdl/nDocs are query-independent,
    * so each qid's ranking is BIT-IDENTICAL to its own [[search]] call —
    * this face just replaces |queries| sequential probes with ONE read
    * (the right shape for a query batch; single interactive queries keep
    * [[search]]). Served on the driver like [[search]] when the union's
    * bucket parts fit the budget. Output: (qid, rk, doc_id, n_terms,
    * score).
    */
  def searchMany(querySets: Seq[(Long, Seq[String])], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    requireQuerySets(querySets)
    servedScores(querySets, k1, b) match {
      case Some(scored) =>
        local(searchManySchema, scored.groupBy(_.qid).toSeq.sortBy(_._1).flatMap {
          case (q, ss) => ranked(ss, k).map { case (rk, s) =>
            Row(q, rk, s.doc, s.nTerms, s.score) }
        })
      case None =>
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc_id"))
        distributedManyScores(querySets, k1, b)
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= k)
          .select(col("qid"), col("rk"), col("doc_id"), col("n_terms"), col("score"))
          .orderBy(col("qid"), col("rk"))
    }
  }

  /** [[searchMany]] without the per-qid top-k — (qid, doc_id, n_terms,
    * score), every match of every query; the batched twin of
    * [[searchScores]] for callers folding to a coarser key first.
    */
  def searchManyScores(querySets: Seq[(Long, Seq[String])],
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    requireQuerySets(querySets)
    servedScores(querySets, k1, b) match {
      case Some(scored) => local(manyScoresSchema,
        scored.sortBy(s => (s.qid, s.doc)).map(s => Row(s.qid, s.doc, s.nTerms, s.score)))
      case None => distributedManyScores(querySets, k1, b)
    }
  }

  private def requireQuerySets(querySets: Seq[(Long, Seq[String])]): Unit = {
    require(querySets.nonEmpty && querySets.forall(_._2.nonEmpty),
      "searchMany needs at least one query, each with at least one term")
    require(querySets.map(_._1).distinct.size == querySets.size,
      "duplicate qid in the query set")
  }

  private def distributedManyScores(querySets: Seq[(Long, Seq[String])],
                                    k1: Double, b: Double): DataFrame = {
    val st = stats
    val avgdl = st.total_dl.toDouble / st.n_dl_docs.toDouble
    val allTerms = querySets.flatMap(_._2).distinct
    val postings = postingsOf(allTerms, st)
    // Per-term df as a whole-partition window count over the SAME posting
    // rows — identical per term to the groupBy the old broadcast-join
    // spelling computed, but the bucket-pruned posting scan now runs ONCE
    // (the df aggregate was a second full read of the matched lists
    // feeding a broadcast; round-16 optimization). One term-keyed
    // exchange of query-bounded posting rows replaces it.
    val dfw = Window.partitionBy(col("term"))
    val contrib = postings
      .withColumn("df", count(lit(1)).over(dfw))
      .select(col("term"), col("doc_id"),
        bm25Micro(col("tf"), col("df"), col("dl"), st.n_docs, avgdl, k1, b).as("c"))
    val qt = spark.createDataFrame(
        querySets.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) })
      .toDF("qid", "term")
    contrib.join(broadcast(qt), "term")
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("c")).as("score"))
  }

  /** The full scored frame behind [[search]] — (doc_id, n_terms, score),
    * every matched document, no top-k. For retrieval at a FINER
    * granularity than the ranking unit (chunk-indexed RAG: the index's
    * "documents" are chunks; the caller folds chunk scores to a parent
    * key, then ranks) the fold must see every matched chunk's score —
    * a pre-folded top-k could silently drop a parent's best evidence.
    * Still postings-bounded (only matching ids, never the corpus), served
    * on the driver like [[search]] or else distributed; callers aggregate
    * before any collect.
    */
  def searchScores(terms: Seq[String],
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "empty query: search needs at least one term")
    servedScores(Seq(0L -> terms), k1, b) match {
      case Some(scored) => local(scoresSchema,
        scored.sortBy(_.doc).map(s => Row(s.doc, s.nTerms, s.score)))
      case None => distributedScores(terms, k1, b)
    }
  }

  private def distributedScores(terms: Seq[String], k1: Double, b: Double): DataFrame = {
    // ONE stats read per search: the seq it names pins the posting scan,
    // so totals and postings can never describe different corpus states.
    val st = stats
    // Exact integer ratio — identical to avg(dl) in any engine.
    val avgdl = st.total_dl.toDouble / st.n_dl_docs.toDouble
    val postings = postingsOf(terms, st)
    // df per term from the matched lists themselves — exact by
    // construction, appended parts included; computed as a
    // whole-partition window count so the posting scan runs once (see
    // distributedManyScores).
    val dfw = Window.partitionBy(col("term"))
    val contrib = postings
      .withColumn("df", count(lit(1)).over(dfw))
      .select(col("doc_id"),
        bm25Micro(col("tf"), col("df"), col("dl"), st.n_docs, avgdl, k1, b).as("c"))
    contrib.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("c")).as("score"))
  }

  /** The driver-served scoring core of every BM25 face: each query's
    * per-document (n_terms, score), or None when the table will not serve
    * the queries' bucket parts locally ([[ColumnarMergeTree.localRangeScan]]
    * — over budget, pending lightweight mutations) and the caller plans
    * the distributed search. Same arithmetic as the distributed plan, with
    * no Dataset planned: the posting rows come back from the local read,
    * `term IN (…)` keeps a row when its term's UTF-8 bytes equal a query
    * term's (the In predicate's string equality), df counts the kept rows
    * per term, the contribution is [[bm25Micro]] resolved once and
    * evaluated per posting row (interpreted, as the optimizer evaluated it
    * over a local relation before), and the per-(qid, doc) sums are exact
    * integer additions. Reads the same pinned-or-live part list as
    * [[postingsOf]].
    */
  private def servedScores(querySets: Seq[(Long, Seq[String])],
                           k1: Double, b: Double): Option[Seq[Scored]] = {
    val st = stats
    val avgdl = st.total_dl.toDouble / st.n_dl_docs.toDouble
    val allTerms = querySets.flatMap(_._2).distinct
    val buckets = bucketsOf(spark, allTerms, st.nbuckets).map(bk => (bk: Any, bk: Any))
    table.localRangeScan(pinnedParts(st), Seq(buckets), Seq("term", "doc_id", "tf", "dl"))
      .map(_.head).map { postings =>
        val wanted = allTerms.map(UTF8String.fromString).toSet
        val rows = postings.filter(r => !r.isNullAt(0) && wanted(r.getUTF8String(0)))
        val df = rows.groupMapReduce(_.getUTF8String(0))(_ => 1L)(_ + _)
        val contrib = ColumnBridge.bound(spark, contribInput,
          bm25Micro(col("tf"), col("df"), col("dl"), st.n_docs, avgdl, k1, b)).head
        val qidsOf = querySets.flatMap { case (q, ts) => ts.distinct.map(UTF8String.fromString(_) -> q) }
          .groupMap(_._1)(_._2)
        // (qid, doc) → (matched terms, Σ non-null c, any non-null c): sum()
        // skips NULL contributions and is NULL when all are.
        val acc = scala.collection.mutable.HashMap.empty[(Long, Long), (Long, Long, Boolean)]
        rows.foreach { r =>
          val term = r.getUTF8String(0)
          val doc = r.getLong(1)
          val c = Option(contrib.eval(
            InternalRow(r.get(2, LongType), df(term), r.get(3, LongType)))).map(_.asInstanceOf[Long])
          qidsOf(term).foreach { q =>
            val (n, sum, any) = acc.getOrElse((q, doc), (0L, 0L, false))
            acc((q, doc)) = (n + 1, sum + c.getOrElse(0L), any || c.isDefined)
          }
        }
        acc.iterator.map { case ((q, doc), (n, sum, any)) =>
          Scored(q, doc, n, if (any) java.lang.Long.valueOf(sum) else null)
        }.toSeq
      }
  }

  /** The top k of one query's scores with their 1-based ranks, in the
    * distributed window's order, [[RankOrder]]'s `score DESC NULLS LAST,
    * doc_id`.
    */
  private def ranked(scored: Seq[Scored], k: Int): Seq[(Long, Scored)] =
    scored.sortBy(s => (Option(s.score).map(_.longValue), s.doc))(
        RankOrder.scoreDescThenId(Ordering.Long))
      .take(k).zipWithIndex.map { case (s, i) => (i + 1L, s) }

  private def local(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Exact PHRASE search from the positional postings: top-k documents by
    * occurrence count of `phrase` as CONSECUTIVE tokens (raw-split-array
    * adjacency — equals text adjacency, since the split eats every
    * non-letter run whole). Output: (rk, doc_id, n_occ).
    *
    * Shape: each phrase term's posting list arrives bucket-pruned exactly
    * like [[search]]; term i+1's positions fold into the accumulator via
    * `array_intersect(positions_so_far + 1, positions_i)` — after the
    * fold the accumulator holds the phrase END positions, so n_occ is its
    * size. The per-term lists meet in doc_id equi-joins sized by the
    * phrase's own posting lists (the classic positional-query cost),
    * never by the corpus; the corpus text is never read.
    */
  def phraseSearch(phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val postings = postingsOf(phrase, stats)
    val byTerm = phrase.zipWithIndex.map { case (t, i) =>
      postings.filter(col("term") === t)
        .select(col("doc_id"), col("positions").as(s"p$i"))
    }
    val folded = byTerm.zipWithIndex.tail.foldLeft(
        byTerm.head.select(col("doc_id"), col("p0").as("occ"))) {
      case (acc, (next, i)) =>
        acc.join(next, "doc_id")
          .select(col("doc_id"),
            array_intersect(transform(col("occ"), _ + 1), col(s"p$i")).as("occ"))
    }
    val counted = folded
      .select(col("doc_id"), size(col("occ")).cast("long").as("n_occ"))
      .filter(col("n_occ") > 0)
    val top = counted.orderBy(col("n_occ").desc, col("doc_id")).limit(k)
    val w = Window.orderBy(col("n_occ").desc, col("doc_id"))
    top.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("rk"), col("doc_id"), col("n_occ"))
      .orderBy(col("rk"))
  }

  /** Incremental append of NEW documents (doc_ids not already indexed —
    * the IvfIndex/MinHashStore contract): each touched bucket lands one
    * new part, corpus totals bump, and — since df/avgdl/nDocs are all
    * derived at query time — subsequent searches equal a from-scratch
    * rebuild exactly. Per-batch cost ∝ batch size; the table's normal
    * compaction re-bins the accumulated bucket parts (bucket-local: the
    * table partitions by bucket, so merges never widen a part's probe
    * bounds).
    *
    * MULTI-WRITER safe: the parts-publish + totals-bump run under a
    * per-index cross-process lock (a dedicated lock file — NOT the
    * manifest lock, which insertBatch takes internally), and the totals
    * bump is a read-modify-write of the CURRENT sidecar, so two
    * concurrent appends serialize and neither bump is lost (the
    * CrossProcessLockSpec discipline applied to the index). The lock also
    * makes the persisted seq honest: it always names the snapshot whose
    * part set the accumulated totals describe.
    *
    * Crash posture: the bucket parts publish in ONE manifest update (the
    * partitioned insertBatch is all-or-nothing), and the stats sidecar is
    * an atomic file swap — a failure leaves either the old index state or
    * the complete new one. A crash BETWEEN the two steps leaves the
    * batch's parts on disk but the stats naming the PREVIOUS snapshot:
    * searches stay pinned to the wholly-old state (complete and
    * consistent), and a retried append or rebuild repairs the index.
    */
  def append(docs: DataFrame): Unit = {
    val st = stats
    // The batch tokenizes with the BUILD's tokenizer (persisted), so
    // appended postings are indistinguishable from built ones.
    // Align the positions type to the PERSISTED schema: a legacy index
    // stores array<int> positions, and landing array<bigint> parts into it
    // would make every later read (phrase search, compaction) fail on the
    // parquet INT64-vs-int mismatch. Int positions saturate legacy mixed
    // appends only in theory — legacy indexes predate the mixed tokenizer,
    // so their positions are raw-split word indices, far below 2^31.
    val postings0 = buildPostings(docs, st.nbuckets,
      st.tokenizer.getOrElse(Latin))
    val postings = postings0.withColumn("positions",
      col("positions").cast(table.schema("positions").dataType)).persist()
    try {
      val batchDocs = docs.select(countDistinct(col("doc_id"))).first().getLong(0)
      val (batchDlDocs, batchDl) = postingTotals(postings)
      InvertedIndex.appendLocked(path) {
        table.insertBatch(postings)
        // Inside the lock, the latest snapshot IS this append's commit
        // (possibly post-compaction — content-identical), so the pinned
        // seq and the bumped totals describe the same corpus state.
        val seq = table.snapshots.lastOption
        updateStats(path)(cur =>
          InvStats(cur.n_docs + batchDocs, cur.n_dl_docs + batchDlDocs,
            cur.total_dl + batchDl, cur.nbuckets, cur.tokenizer, seq,
            cur.stream_feeds))
      }
    } finally postings.unpersist()
  }

  /** EXACTLY-ONCE streaming append: [[append]] with a replay guard that
    * commits ATOMICALLY with the totals bump — the applied batch id rides
    * inside the stats sidecar's atomic swap (`stream_batch`), which is
    * already the append's commit point. A guard recorded in a SEPARATE
    * file (the checkpoint-record pattern the MergeTree sinks use) cannot
    * be atomic with the append: a crash between the two writes replays a
    * committed batch and silently doubles its postings and totals — and
    * unlike a duplicate table part, a doubled posting set is invisible
    * and unrepairable after the fact.
    *
    * Torn-attempt repair: an `_stream_intent` marker (written before the
    * parts publish, cleared after the stats swap) scopes the one crash
    * window the guard alone can't classify — parts landed, stats not yet
    * stamped. On replay with the intent still naming this batch, the
    * batch's rows are scrubbed (totals were never bumped, so they stay
    * untouched) and the append redoes cleanly. Steady state pays two tiny
    * driver file ops per batch, never a verification scan.
    *
    * `lineage` names the checkpoint LINEAGE the batch ids come from (the
    * stable query id in `<checkpoint>/metadata` — NOT the dir path, which
    * survives a lost-and-recreated checkpoint whose batch ids restart at
    * 0). The guard keeps a PER-LINEAGE high-water mark: a new lineage
    * feeding an existing index applies from its own batch 0, while an old
    * lineage's crash-replay after a new feed took over is still
    * recognized as applied (a single-slot guard would double-apply it).
    * File reads FAIL CLOSED: an existing-but-unreadable intent or stats
    * read aborts the batch (foreachBatch retries) rather than risk a
    * skipped scrub or a double-apply, and a stale intent from a lineage
    * whose marked batch never committed refuses loudly — that torn
    * attempt's ids are unknowable here, so the honest repair is a
    * rebuild. One streaming feed AT A TIME per index (the MinHashStore
    * single-feed posture); ad-hoc [[append]]/[[delete]] calls interleave
    * safely (they hold the same lock and PRESERVE the feed map).
    *
    * Returns true if the batch was applied, false for an already-applied
    * replay.
    */
  def appendStream(docs: DataFrame, batchId: Long, lineage: String): Boolean = {
    def applied(st: InvStats): Boolean =
      st.stream_feeds.exists(_.get(lineage).exists(_ >= batchId))
    val st0 = stats
    if (applied(st0)) return false
    // Posting construction runs OUTSIDE the lock (Spark jobs — don't
    // serialize them across writers); the lock holder re-checks the guard.
    val postings0 = buildPostings(docs, st0.nbuckets,
      st0.tokenizer.getOrElse(Latin))
    val postings = postings0.withColumn("positions",
      col("positions").cast(table.schema("positions").dataType)).persist()
    try {
      val batchDocs = docs.select(countDistinct(col("doc_id"))).first().getLong(0)
      val (batchDlDocs, batchDl) = postingTotals(postings)
      InvertedIndex.appendLocked(path) {
        val st = stats
        if (applied(st)) false
        else {
          val intent = java.nio.file.Paths.get(path, "_stream_intent")
          val marker = s"$lineage:$batchId"
          // NO Try around the read: an existing-but-unreadable intent
          // must abort the batch (fail closed), never skip the scrub.
          MetaFiles.read(intent).map(_.trim).foreach { found =>
            if (found == marker) {
              // A prior attempt of THIS batch crashed after possibly
              // landing its parts but before the stats stamp (the guard
              // above says the stamp never happened): scrub the rows;
              // totals stay untouched. The scrub holds the batch's doc
              // ids driver-side — right for trigger-bounded micro-
              // batches; the cap turns a backlog-sized batch into a
              // diagnosable error instead of a driver OOM mid-recovery.
              val ids = docs.select(col("doc_id")).distinct()
                .limit(1000001).collect().map(_.getLong(0)).toSeq
              require(ids.size <= 1000000,
                s"torn-batch repair of $marker holds >1e6 doc ids driver-" +
                  "side; rebuild the index from the corpus instead (or " +
                  "bound the stream's batches with maxOffsetsPerTrigger)")
              if (ids.nonEmpty)
                table.deleteWhere(col("doc_id").isInCollection(ids))
            } else {
              // A DIFFERENT attempt's intent. Covered by the feed map =
              // stale leftover of a committed batch (crash between the
              // stats swap and the cleanup) — safe to overwrite. NOT
              // covered = some other feed's attempt tore and ITS batch
              // contents are unknowable here: refuse loudly rather than
              // bury phantom rows under this append.
              val ci = found.lastIndexOf(':')
              val covered = ci > 0 && scala.util.Try(
                  found.substring(ci + 1).toLong).toOption.exists { b =>
                st.stream_feeds.exists(
                  _.get(found.substring(0, ci)).exists(_ >= b))
              }
              require(covered,
                s"stale stream intent '$found' names a batch never " +
                  "committed — a previous feed's append tore and its ids " +
                  "are unknowable; rebuild the index from the corpus")
            }
          }
          MetaFiles.publish(intent, marker)
          table.insertBatch(postings)
          val seq = table.snapshots.lastOption
          updateStats(path)(cur =>
            InvStats(cur.n_docs + batchDocs, cur.n_dl_docs + batchDlDocs,
              cur.total_dl + batchDl, cur.nbuckets, cur.tokenizer, seq,
              Some(cur.stream_feeds.getOrElse(Map.empty)
                .updated(lineage, batchId))))
          // Commit happened at the stats swap; a crash before this cleanup
          // leaves a stale intent the feed map marks as covered.
          java.nio.file.Files.deleteIfExists(intent)
          true
        }
      }
    } finally postings.unpersist()
  }

  /** (planned, total) parts at the last probed scan — pruning visibility. */
  def lastPruning: (Int, Int) = table.lastPruning

  /** This index over its table reopened with `config` — e.g.
    * `localScanMaxRows = 0` for the distributed search plans.
    */
  private[graft] def withConfig(config: MergeTreeConfig): InvertedIndex =
    new InvertedIndex(spark, ColumnarMergeTree.open(spark, path, config), path)

  /** Remove documents from the index — the mutation a corpus
    * `deleteWhere`/TTL/opt-out flow must propagate, or searches keep
    * serving expunged text forever (rebuilds are the 100 TB-corpus
    * non-answer). `docIds` is the set of PREVIOUSLY INDEXED ids being
    * removed from the corpus — the exact mirror of [[append]]'s
    * new-ids-only contract (ids never indexed would skew n_docs; the
    * posting rows simply won't exist).
    *
    * Because df/avgdl/nDocs are all DERIVED at query time (never frozen
    * into posting rows), deletion is just: drop the ids' posting rows
    * (deleteWhere — whole-part drops are O(manifest), partial parts
    * rewrite concurrently) and decrement the exact-integer totals; every
    * subsequent search then equals a from-scratch rebuild over the
    * surviving corpus, bit for bit (spec-pinned). Runs under the same
    * per-index cross-process lock as [[append]], so concurrent appends
    * and deletes serialize and the pinned seq always names the snapshot
    * the totals describe.
    *
    * The id set is driver-held (an `isInCollection` predicate): right for
    * the decontamination/opt-out deletes this serves (bounded by the
    * flagged set, not the corpus). A corpus-sized purge should rebuild
    * instead — cheaper than rewriting every part.
    */
  def delete(docIds: Seq[Long]): Unit = {
    require(docIds.nonEmpty, "empty delete: pass the removed doc ids")
    val ids = docIds.distinct
    InvertedIndex.appendLocked(path) {
      val st = stats
      require(ids.size <= st.n_docs,
        s"deleting ${ids.size} ids from an index of ${st.n_docs} docs — " +
          "delete() takes previously indexed ids only (the append contract's mirror)")
      // Totals decrement from the index's OWN postings (one scan of the
      // posting table — the corpus is never read; a doc indexed with zero
      // surviving tokens has no rows and decrements only n_docs).
      val hit = col("doc_id").isInCollection(ids)
      val r = table.scan().filter(hit).agg(
        countDistinct(col("doc_id")).as("n"),
        coalesce(sum(col("tf")), lit(0L)).as("t")).first()
      val (goneDlDocs, goneDl) = (r.getLong(0), r.getLong(1))
      table.deleteWhere(hit)
      val seq = table.snapshots.lastOption
      updateStats(path)(cur =>
        InvStats(cur.n_docs - ids.size, cur.n_dl_docs - goneDlDocs,
          cur.total_dl - goneDl, cur.nbuckets, cur.tokenizer, seq,
          cur.stream_feeds))
    }
  }

  /** Re-index CHANGED documents (corpus `updateWhere` must reach the text
    * index or searches keep ranking the pre-edit text): `docs` carries the
    * NEW text of PREVIOUSLY INDEXED ids — [[delete]] of the ids' posting
    * rows composed with [[append]] of the re-tokenized text, under ONE
    * acquisition of the per-index lock so no concurrent writer (or
    * search snapshot-pin) ever observes the doc half-gone. n_docs is
    * unchanged by construction; dl/tf totals swap the old text's
    * contribution for the new one's, so search-after-update equals a
    * from-scratch rebuild over the edited corpus exactly (spec-pinned —
    * the same derived-stats argument as delete). Batch-bounded like both
    * parents: ids are driver-held, postings build in one partitioned job.
    *
    * CALLER CONTRACT (delete's mirror, and like delete not exactly
    * checkable): every id must be PREVIOUSLY INDEXED. A never-indexed id
    * would land postings while n_docs stays put — permanently skewing
    * every idf — and the index cannot distinguish it from a legally
    * indexed zero-token document (those have no posting rows either), so
    * the require below bounds, not proves. Use [[append]] for new docs.
    */
  def update(docs: DataFrame): Unit = {
    val st = stats
    val ids = BoundedIds.collect(docs, "doc_id", "InvertedIndex.update")
    require(ids.nonEmpty, "empty update: pass the re-written docs")
    val postings0 = buildPostings(docs, st.nbuckets,
      st.tokenizer.getOrElse(Latin))
    val postings = postings0.withColumn("positions",
      col("positions").cast(table.schema("positions").dataType)).persist()
    try {
      val (newDlDocs, newDl) = postingTotals(postings)
      InvertedIndex.appendLocked(path) {
        require(ids.size <= stats.n_docs,
          s"updating ${ids.size} ids in an index of ${stats.n_docs} docs — " +
            "update() takes previously indexed ids only")
        val hit = col("doc_id").isInCollection(ids)
        val r = table.scan().filter(hit).agg(
          countDistinct(col("doc_id")).as("n"),
          coalesce(sum(col("tf")), lit(0L)).as("t")).first()
        val (goneDlDocs, goneDl) = (r.getLong(0), r.getLong(1))
        table.deleteWhere(hit)
        table.insertBatch(postings)
        val seq = table.snapshots.lastOption
        updateStats(path)(cur =>
          InvStats(cur.n_docs, cur.n_dl_docs - goneDlDocs + newDlDocs,
            cur.total_dl - goneDl + newDl, cur.nbuckets, cur.tokenizer, seq,
            cur.stream_feeds))
      }
    } finally postings.unpersist()
  }
}

object InvertedIndex {

  /** Default bucket count for a V-term vocabulary: smallest power of two
    * ≥ √V/4, floored at 8 (the [[IvfIndex.autoNlist]] rule — per-query
    * cost is ~|terms| probed lists of size |postings|/nbuckets, so buckets
    * must grow with the vocabulary or each list stops being small).
    */
  def autoNbuckets(vocab: Long): Int = IvfIndex.autoNlist(vocab)

  /** The q78 corpus tokenizer — the one contract build and every oracle
    * share: lowercase, split on non-letters, keep length ≥ 3.
    */
  def tokenize(docs: DataFrame): DataFrame =
    // Positions aren't needed here, so the fused latin_tokens codegen
    // expression replaces the posexplode-over-raw-split + length filter —
    // identical (doc_id, term) multiset (round-17 optimization);
    // [[tokenizeWithPos]] keeps the positional spelling for postings.
    docs.select(col("doc_id"),
      explode(graft.functions.GraftFunctions.latinTokensCol(col("text")))
        .as("term"))

  /** [[tokenize]] plus each surviving term's position in the RAW split
    * array (0-based, before the length filter) — token-space adjacency
    * equals text adjacency, which is what phrase matching needs.
    */
  def tokenizeWithPos(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z]+")).as(Seq("pos", "term")))
      .filter(length(col("term")) >= 3)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("term"))

  /** CJK-AWARE token array for one text column: the latin tokens above
    * PLUS Han-script character bigrams — the standard cheap CJK answer
    * (CJK text has no spaces, so word-split tokenization sees zero tokens;
    * overlapping character bigrams give retrieval/dedup signals without a
    * dictionary segmenter, the approach CJKAnalyzer-style tokenizers use).
    * Bigrams never cross a non-Han separator (runs are extracted first,
    * each run bigrammed on its own); an isolated single Han character
    * emits itself (a run of length 1 has no bigram — dropping it would
    * make that character unsearchable). Pure map-side expressions, and
    * spelled operation-for-operation like the q114 oracle SQL.
    */
  def mixedTokens(text: Column): Column =
    // The fused codegen expression (graft.functions.MixedTokensExpr) —
    // bit-identical to [[mixedTokensHof]] below (equality pinned on Han /
    // mixed / unicode fixtures and random ASCII in GraftFunctionsSpec),
    // without the two regex scans or the interpreted filter/transform
    // lambdas per row; this was the repo's costliest tokenizer (round-17
    // optimization; guide §1.2 step 2).
    ColumnBridge.column(graft.functions.MixedTokensExpr(ColumnBridge.expression(text)))

  /** The pre-r17 HOF spelling of [[mixedTokens]] — kept as the reference
    * face the codegen expression is equality-pinned against (and the
    * operation-for-operation mirror of the q114 oracle SQL).
    */
  private[graft] def mixedTokensHof(text: Column): Column = {
    val latin = filter(split(lower(text), "[^a-z]+"), t => length(t) >= 3)
    val runs = regexp_extract_all(text, lit("[\\p{IsHan}]+"), lit(0))
    val han = flatten(transform(runs, r =>
      when(length(r) === 1, array(r))
        .otherwise(transform(sequence(lit(1), length(r) - 1),
          i => r.substr(i, lit(2))))))
    concat(latin, han)
  }

  /** (doc_id, term) rows under the multilingual tokenizer — the CJK-aware
    * twin of [[tokenize]].
    */
  def tokenizeMixed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(mixedTokens(col("text"))).as("term"))

  /** [[tokenizeMixed]] with POSITIONS, for a mixed-tokenizer index's
    * postings: latin terms keep their raw-split-array positions (identical
    * to [[tokenizeWithPos]] — latin phrase semantics are unchanged), and
    * each Han run's bigrams get consecutive positions offset into a
    * PER-RUN space ((run+1)·2³¹ + i), so consecutive bigrams =
    * consecutive characters WITHIN a run, and bigrams of different runs
    * (or a latin word and a bigram) are never phrase-adjacent — a phrase
    * can't silently match across a separator or across scripts. The 2³¹
    * stride is ENFORCED by JVM string physics, not assumed: a String holds
    * < 2³¹ chars, so raw-split positions (latin space) and within-run
    * offsets (i < run length) are both < 2³¹ — the spaces can never alias
    * for any representable document (max pos ≈ 2⁶² fits a long).
    */
  def tokenizeMixedWithPos(docs: DataFrame): DataFrame = {
    val latin = tokenizeWithPos(docs)
    val runs = docs.select(col("doc_id"),
      posexplode(regexp_extract_all(col("text"), lit("[\\p{IsHan}]+"), lit(0)))
        .as(Seq("run", "r")))
    val han = runs.select(col("doc_id"), col("run"),
        posexplode(when(length(col("r")) === 1, array(col("r")))
          .otherwise(transform(sequence(lit(1), length(col("r")) - 1),
            i => col("r").substr(i, lit(2))))).as(Seq("i", "term")))
      .select(col("doc_id"),
        ((col("run") + lit(1L)) * lit(1L << 31) + col("i")).as("pos"),
        col("term"))
    latin.select(col("doc_id"), col("pos"), col("term")) unionByName han
  }

  /** Tokenize a raw query string with the given tokenizer, in array order
    * (split order for latin; per-run bigram order for Han — what
    * [[InvertedIndex.phraseSearch]] needs), evaluating the IDENTICAL
    * Catalyst expressions the build used on the driver (resolved and
    * evaluated directly, see `ColumnBridge.bound` — no Dataset, no job).
    */
  private[graft] def queryTerms(spark: SparkSession, query: String,
      tokenizer: String): Seq[String] = {
    val q = col("q")
    val toks = if (tokenizer == Mixed) mixedTokens(q)
      else filter(split(lower(q), "[^a-z]+"), t => length(t) >= 3)
    val input = StructType(Seq(StructField("q", StringType)))
    val arr = ColumnBridge.bound(spark, input, toks).head.eval(InternalRow(UTF8String.fromString(query)))
    CatalystTypeConverters.convertToScala(arr, ArrayType(StringType))
      .asInstanceOf[scala.collection.Seq[String]].toList
  }

  /** Per-(doc,term) BM25 contribution in integer micro-units. Spelled
    * operation-for-operation like the q110 oracle SQL so both engines walk
    * the identical IEEE-double expression tree before the rounding.
    */
  private[graft] def bm25Micro(tf: Column, df: Column, dl: Column,
      nDocs: Long, avgdl: Double, k1: Double, b: Double): Column = {
    val idf = log((lit(nDocs) - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
    val denom = tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / lit(avgdl))
    floor(idf * (tf * lit(k1 + 1.0)) / denom * lit(1e6) + lit(0.5)).cast("long")
  }

  /** Distinct sorted bucket ids of `terms`, evaluating the identical
    * Catalyst xxhash64 the build hashed with (no driver-side
    * reimplementation to drift), resolved once and evaluated per term on
    * the driver (see `ColumnBridge.bound` — no Dataset, no job).
    */
  private[graft] def bucketsOf(spark: SparkSession, terms: Seq[String],
      nb: Int): Seq[Long] = {
    val input = StructType(Seq(StructField("t", StringType)))
    val bucket = ColumnBridge.bound(spark, input, pmod(xxhash64(col("t")), lit(nb.toLong))).head
    terms.map(t => bucket.eval(InternalRow(UTF8String.fromString(t))).asInstanceOf[Long])
      .distinct.sorted
  }

  /** One query's score for one matched document (served search). */
  private final case class Scored(qid: Long, doc: Long, nTerms: Long,
      score: java.lang.Long)

  /** The served [[bm25Micro]]'s input row, typed like the distributed
    * plan's posting columns and window count.
    */
  private val contribInput = StructType.fromDDL("tf BIGINT, df BIGINT, dl BIGINT")

  /** Served-search relations, typed like the distributed plans' outputs:
    * ids from a posting scan and sums are nullable, counts and ranks not.
    */
  private val scoresSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("n_terms", LongType, nullable = false), StructField("score", LongType)))
  private val searchSchema =
    StructType(StructField("rk", LongType, nullable = false) +: scoresSchema.fields)
  private val manyScoresSchema =
    StructType(StructField("qid", LongType, nullable = false) +: scoresSchema.fields)
  private val searchManySchema = StructType(Seq(StructField("qid", LongType, nullable = false),
    StructField("rk", LongType, nullable = false)) ++ scoresSchema.fields)

  private val indexSchema = StructType(Seq(
    StructField("bucket", LongType, nullable = false),
    StructField("term", StringType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("tf", LongType, nullable = false),
    StructField("dl", LongType, nullable = false),
    StructField("positions", ArrayType(LongType), nullable = true)))

  /** (bucket, term, doc_id, tf, dl, positions) rows for a document set —
    * per-document facts only, so build and append share it verbatim.
    * Positional postings (the Lucene prox layout): tf = |positions|; a
    * pathologically repeated term makes a long list — the classic
    * positional-index cost, bounded by that document's own length.
    */
  private def buildPostings(docs: DataFrame, nb: Int,
      tokenizer: String): DataFrame = {
    val terms = if (tokenizer == Mixed) tokenizeMixedWithPos(docs)
      else tokenizeWithPos(docs)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"),
      sort_array(collect_list(col("pos"))).as("positions"))
    // Build-time only: the dl join re-shuffles on doc_id once per batch;
    // queries never pay it again (dl rides inside every posting row).
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    tf.join(dl, "doc_id")
      .select(pmod(xxhash64(col("term")), lit(nb.toLong)).as("bucket"),
        col("term"), col("doc_id"), col("tf"), col("dl"), col("positions"))
  }

  /** Tokenizer names persisted in the stats sidecar. */
  val Latin = "latin"
  val Mixed = "mixed"

  /** Corpus-stats sidecar (`_stats.json`). A case class so json4s
    * round-trips it; field names are the on-disk contract. `tokenizer` is
    * absent (= latin) on indexes built before the mixed path existed;
    * `seq` (the table snapshot these totals describe — what pins
    * searches) is absent on indexes persisted before snapshot pinning.
    * `stream_feeds` maps each checkpoint lineage that has ever streamed
    * into this index to its highest COMMITTED batch id (see
    * [[InvertedIndex.appendStream]]) — riding inside the stats swap makes
    * the totals bump and the replay guard one atomic write, and keeping
    * EVERY lineage's high-water mark (not a single slot) means an old
    * feed's crash-replay after a new feed took over is still recognized
    * as applied. Bounded by the number of feeds ever pointed at the
    * index; absent on non-streamed indexes.
    */
  final case class InvStats(n_docs: Long, n_dl_docs: Long, total_dl: Long,
      nbuckets: Int, tokenizer: Option[String] = None,
      seq: Option[Long] = None,
      stream_feeds: Option[Map[String, Long]] = None)

  /** Per-index cross-process append lock (`.index_append.lock`): held
    * across parts-publish + totals-bump so concurrent appends serialize.
    * A DEDICATED file — insertBatch takes the manifest lock internally,
    * and nesting the same file's FileChannel lock in one JVM throws.
    */
  private def appendLocked[A](path: String)(body: => A): A = {
    val key = java.nio.file.Paths.get(path).toAbsolutePath.normalize.toString
    val mon = appendMonitors.computeIfAbsent(key, _ => new Object)
    mon.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(key, ".index_append.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val fl = ch.lock()
        try body finally fl.release()
      } finally ch.close()
    }
  }
  private val appendMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Read-modify-write of the stats sidecar under the append lock's
    * serialization point is the caller's job; this helper just applies
    * `f` to the CURRENT on-disk stats and swaps atomically.
    */
  private[operators] def updateStats(path: String)(f: InvStats => InvStats): Unit =
    writeStats(path, f(readStats(path)))

  /** Stats swap through [[MetaFiles.publish]]: a reader mid-append sees
    * the old stats or the new — never a missing or partial file (the
    * delete-then-write race the parquet sidecar this replaced had).
    */
  private def writeStats(path: String, st: InvStats): Unit =
    MetaFiles.publish(java.nio.file.Paths.get(path, "_stats.json"),
      org.json4s.jackson.Serialization.write(st)(org.json4s.DefaultFormats))

  private[graft] def readStats(path: String): InvStats =
    MetaFiles.readJson[InvStats](java.nio.file.Paths.get(path, "_stats.json")).getOrElse {
      // Legacy layout: indexes persisted before the JSON sidecar stored a
      // one-row parquet under `_stats/` (and predate the mixed tokenizer
      // — tokenizer=None reads as latin). Read once, then MIGRATE to the
      // JSON sidecar so the per-query stats read stays a driver-side file
      // read (the documented contract), not a Spark job per search.
      val d = java.nio.file.Paths.get(path, "_stats")
      require(java.nio.file.Files.isDirectory(d),
        s"no _stats.json or legacy _stats/ sidecar at $path")
      val spark = org.apache.spark.sql.SparkSession.active
      val r = spark.read.parquet(d.toString)
        .select(col("n_docs"), col("n_dl_docs"), col("total_dl"), col("nbuckets"))
        .first()
      val st = InvStats(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))
      writeStats(path, st)
      st
    }

  /** (docs with ≥1 surviving token, Σ dl) of a posting set — exact longs. */
  private def postingTotals(postings: DataFrame): (Long, Long) = {
    val r = postings.agg(
      countDistinct(col("doc_id")).as("n"),
      coalesce(sum(col("tf")), lit(0L)).as("t")).first()
    (r.getLong(0), r.getLong(1))
  }

  /** Build the index at `path` from (doc_id, text) documents. `nbuckets`
    * ≤ 0 (the default) auto-sizes from the distinct-term count via
    * [[autoNbuckets]] (one count job at build time).
    *
    * The table is PARTITION BY bucket, so the whole posting set lands in
    * ONE Spark job — the partitioned-ingest write splits the batch into
    * one sorted part per occupied bucket (a part's [minKey, maxKey] is one
    * bucket id, so a probe's rangeScan(b, b) prunes to exactly it). The
    * driver-sequenced job-per-bucket loop this replaced was O(nbuckets)
    * round-trips per build — with nbuckets ~ √V, thousands of jobs on a
    * real vocabulary regardless of cluster size. Partitioning also makes
    * compaction bucket-local (merges never mix partitions), so OPTIMIZE
    * can never widen a part's probe bounds across buckets.
    */
  def build(spark: SparkSession, docs: DataFrame, path: String,
            nbuckets: Int = 0, tokenizer: String = Latin): InvertedIndex = {
    require(tokenizer == Latin || tokenizer == Mixed,
      s"unknown tokenizer '$tokenizer' (use '$Latin' or '$Mixed')")
    val termsOf: DataFrame => DataFrame =
      if (tokenizer == Mixed) tokenizeMixed else tokenize
    val nb = if (nbuckets > 0) nbuckets
      else autoNbuckets(termsOf(docs).select(col("term")).distinct().count())
    val postings = buildPostings(docs, nb, tokenizer).persist()
    try {
      val t = ColumnarMergeTree.create(spark, path, indexSchema,
        orderBy = Seq("bucket"), MergeTreeConfig(maxParts = 2 * nb),
        partitionBy = Some("bucket"))
      t.insertBatch(postings)
      // Exact integer totals: avgdl = total_dl/n_dl_docs reproduces
      // avg(dl) bit for bit in any engine, and appends bump them exactly.
      // seq pins searches to the snapshot these totals describe.
      val nDocs = docs.select(countDistinct(col("doc_id"))).first().getLong(0)
      val (nDlDocs, totalDl) = postingTotals(postings)
      writeStats(path, InvStats(nDocs, nDlDocs, totalDl, nb, Some(tokenizer),
        t.snapshots.lastOption))
      new InvertedIndex(spark, t, path)
    } finally postings.unpersist()
  }

  /** Fold a CHUNK-granular scored frame (ids packed as parent·span +
    * chunk_idx) to PARENT documents by max-chunk score, in ONE aggregate:
    * the composite key score·span + chunk_idx orders by score first and
    * breaks ties on the highest chunk index (score ≥ 0 in integer
    * micro-units), and both halves unpack exactly. Output: (doc_id,
    * score, best_chunk, n_chunks_hit). Shared by the q134 entry and the
    * chunk_hybrid_search SQL face so the fold cannot drift.
    */
  def foldChunkScores(scored: DataFrame, span: Long,
                      keys: Seq[String] = Nil): DataFrame = {
    require(span > 0, s"span must be positive, got $span")
    val kc = keys.map(col)
    scored.select(kc ++ Seq(expr(s"doc_id div $span").as("doc_id"),
        (col("score") * span + expr(s"doc_id % $span")).as("sk")): _*)
      .groupBy((keys :+ "doc_id").map(col): _*)
      .agg(max(col("sk")).as("bk"), count(lit(1)).as("n_chunks_hit"))
      .select(kc ++ Seq(col("doc_id"), expr(s"bk div $span").as("score"),
        expr(s"bk % $span").as("best_chunk"), col("n_chunks_hit")): _*)
  }

  /** Reopen a built index (table self-describes via tabledef.json). The
    * build-time maxParts = 2·nbuckets rides back in from the stats sidecar
    * — a default-config reopen would let a later OPTIMIZE bin-pack far
    * below the bucket count (pruning stays CORRECT either way: partitioned
    * merges are bucket-local, this just keeps the merge-trigger budget the
    * build chose).
    */
  def open(spark: SparkSession, path: String): InvertedIndex = {
    val cfg = MergeTreeConfig(maxParts = 2 * readStats(path).nbuckets)
    new InvertedIndex(spark, ColumnarMergeTree.open(spark, path, cfg), path)
  }
}
