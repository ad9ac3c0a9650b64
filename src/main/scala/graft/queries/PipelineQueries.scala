package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** LLM-training-data pipeline operators (north-star surface, SURVEY §7
  * Phase 6): deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine), similarity search (brute-force top-k + IVF), text
  * analysis (language-ID, quality scoring, token counting, fingerprinting),
  * and multimodal binary-column plumbing — all over the driver testdata
  * `documents.parquet` / `embeddings.parquet` tables.
  *
  * Every query is a declarative DataFrame plan (no UDFs — built-in
  * higher-order functions keep everything inside whole-stage codegen) with a
  * total ORDER BY, and — wherever the computation is expressible in portable
  * SQL — a DuckDB oracle computing the identical arithmetic.
  *
  * Floating-point discipline: every emitted double goes through
  * `floor(x*1e6 + 0.5)/1e6` (portable round-half-up; see q20) and every
  * ranking orders by the ROUNDED value with an integer tiebreak, so Spark and
  * DuckDB rank identically even when their last-ulp arithmetic differs.
  *
  * Scale posture (100 TB):
  *   - similarity: brute-force top-k is one broadcast of the (small) query
  *     set against a partitioned scan — no shuffle of the big side; the IVF
  *     variant prunes the big side to nprobe/nlist of the data per query;
  *   - MinHash/LSH: per-doc signatures via one hash-aggregate pass (96
  *     min() partial aggregates — map-side combined), candidate generation
  *     via an equi-join on (band, signature) — never an all-pairs product;
  *   - exact n-gram Jaccard joins on the shingle value: at production scale
  *     ultra-frequent shingles (boilerplate) are dropped by the
  *     `maxShingleFreq` cap before the join to bound the blow-up — off by
  *     default because the oracle must match exhaustively and testdata has
  *     no hot shingles (capped recall pinned in PipelineQueriesSpec);
  *   - text analysis: embarrassingly parallel scans, no shuffle beyond the
  *     final small aggregate.
  */
object PipelineQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** documents.parquet, spread across the session's cores when the file's
    * own split count can't feed them — for the pipelines whose per-document
    * CPU (shingling, bigram runs, regex scans, n-gram construction)
    * dominates the scan cost. A corpus arriving as a single parquet row
    * group runs all of that CPU on ONE task (parquet can't split inside a
    * row group — the local sf files are exactly this shape, and profiling
    * showed the shingle pipelines single-threaded behind one 2–3 s task).
    * At 100 TB the corpus arrives in thousands of row groups, the scan's
    * split count exceeds the core count, and the guard makes this a no-op;
    * when it does fire, the round-robin exchange moves only bytes ONE task
    * would otherwise process serially — strictly cheaper than the
    * serialized CPU it unlocks. Light per-row work (md5, token counts,
    * stats) stays on plain docs(): there the exchange costs more than the
    * serial CPU it saves (measured both ways at sf0.1).
    */
  private def docsSpread(spark: SparkSession, dir: String): DataFrame = {
    val df = docs(spark, dir)
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Portable round-half-up to 6 dp — identical double arithmetic in both
    * engines (see q20Scalars for why built-in round() diverges).
    *
    * Contract (hash-portability): r6 doubles may be EMITTED only when the
    * rounded value is a per-row fold over identical inputs (sequential array
    * cosine, single int/int division) — those are bit-identical across
    * engines, so the driver's hash of the double is stable. Cross-row DOUBLE
    * reductions (sum/percentile of doubles) must instead emit fixed-point
    * BIGINT (floor(x*scale+0.5) with no divide) on BOTH sides — summation
    * order differs between engines and the last-ulp wobble makes hashed
    * doubles flaky (q51 in round 7). r6 stays double here because it also
    * feeds downstream ranking/centroid math that expects the 6-dp value.
    */
  private def r6(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)).cast("double") / 1000000.0

  private val R6Sql = "floor(%s * 1000000.0 + 0.5) / 1000000.0"

  /** Sequential-fold cosine via the native codegen Expression
    * (graft.functions.ArrayCosineSimilarity — registered by embDouble):
    * accumulates in array order, bit-identical to the interpreted
    * higher-order-function formulation (proven in GraftFunctionsSpec) and to
    * DuckDB's list_cosine_similarity on DOUBLE[] at 6 dp, but stays inside
    * whole-stage codegen on the hot path.
    */
  private def cosine(a: Column, b: Column): Column =
    call_function("cosine_similarity", a, b)

  /** The interpreted HOF formulation, kept for the cross-check in q23 specs
    * and as the no-extensions fallback documentation.
    */
  private[queries] def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = aggregate(a, lit(0.0), (acc, x) => acc + x * x)
    val nb = aggregate(b, lit(0.0), (acc, x) => acc + x * x)
    dot / (sqrt(na) * sqrt(nb))
  }

  private def embDouble(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    emb(spark, dir).select(
      col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
  }

  // ------------------------------------------------------- similarity search

  /** Q23 — brute-force cosine top-k: the exact-ANN baseline. Query set =
    * vec_id < 5, k = 10.
    *
    * Scale: the query side is broadcast (a real workload's query batch is
    * small); the data side streams through a partitioned scan — per-partition
    * top-k heaps via the rank window would become a TakeOrdered per query at
    * scale; no shuffle of the embedding corpus.
    */
  def q23CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = embDouble(spark, dir)
    val q = e.select(col("vec_id").as("qid"), col("v").as("qv"))
      .filter(col("qid") < 5)
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), r6(cosine(col("qv"), col("v"))).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("rnk"), col("vec_id"), col("sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  val q23Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT qid, vec_id, ${R6Sql.format("list_cosine_similarity(qv, v)")} AS sim
       |  FROM q, e WHERE vec_id != qid)
       |SELECT qid, rnk, vec_id, sim FROM (
       |  SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
       |  FROM scored) sub
       |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  /** One Lloyd step of spherical k-means in DataFrame ops: assign each
    * training vector to its nearest centroid by (6-dp-rounded) cosine, then
    * recompute each centroid as the elementwise mean of its members. The
    * mean is NOT length-normalized — cosine is scale-invariant, so the
    * unnormalized mean ranks identically and skips a sqrt the oracle would
    * have to reproduce. Each mean component is r6-rounded so Spark and
    * DuckDB (whose partial-sum orders differ in the last ulp) hold
    * bit-identical centroids at 6 dp. Centroids that attract no members
    * drop out (k shrinks) — identically in both engines.
    */
  private[graft] def lloydStep(train: DataFrame, c: DataFrame): DataFrame = {
    val aw = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
    train.crossJoin(broadcast(c))
      .select(col("vec_id"), col("v"), col("cid"),
        r6(cosine(col("v"), col("cv"))).as("csim"))
      .withColumn("rn", row_number().over(aw)).filter(col("rn") === 1)
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cid"), col("dim")).agg(avg(col("x")).as("m"))
      .groupBy(col("cid"))
      .agg(collect_list(struct(col("dim"), col("m"))).as("dm"))
      .select(col("cid"),
        expr("transform(array_sort(dm), s -> floor(s.m * 1e6 + 0.5) / 1e6)").as("cv"))
  }

  /** Q28 — IVF (inverted-file) approximate nearest neighbour: the 100 TB
    * scale path for similarity search. The coarse quantizer is trained:
    * nlist centroids seeded from vec_id < nlist, refined by two Lloyd
    * iterations of spherical k-means over a deterministic 25% sample
    * (vec_id % 4 == 0) — at production scale the sample is what makes
    * training affordable (centroids stay broadcast-tiny either way). Each
    * corpus vector is assigned to its nearest centroid once (one broadcast
    * pass), and a query scans only the nprobe/nlist of the corpus in its
    * probed clusters.
    *
    * nlist auto-sizes from the corpus count (IvfIndex.autoNlist, ~√n with
    * a power-of-two step and a floor of 8 — a fixed quantizer stops
    * pruning as the corpus grows); nprobe keeps the 3-of-8 probe fraction
    * (IvfIndex.autoNprobe). At the oracle's scale (500 vectors) these
    * reproduce exactly the 8/3 quantizer the pinned SQL encodes.
    */
  def q28IvfAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = embDouble(spark, dir)
    val nlist = graft.operators.IvfIndex.autoNlist(e.count())
    val nprobe = graft.operators.IvfIndex.autoNprobe(nlist)
    val c0 = e.filter(col("vec_id") < nlist).select(col("vec_id").as("cid"), col("v").as("cv"))
    val train = e.filter(col("vec_id") % 4 === 0).select(col("vec_id"), col("v"))
    val c = lloydStep(train, lloydStep(train, c0))
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("v").as("qv"))
    val aw = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
    val assign = e.crossJoin(broadcast(c))
      .select(col("vec_id"), col("v"), col("cid"), r6(cosine(col("v"), col("cv"))).as("csim"))
      .withColumn("rn", row_number().over(aw)).filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("cid"))
    val pw = Window.partitionBy(col("qid")).orderBy(col("psim").desc, col("cid"))
    val probe = q.crossJoin(broadcast(c))
      .select(col("qid"), col("qv"), col("cid"), r6(cosine(col("qv"), col("cv"))).as("psim"))
      .withColumn("rn", row_number().over(pw)).filter(col("rn") <= nprobe)
      .select(col("qid"), col("qv"), col("cid"))
    val scored = assign.join(broadcast(probe), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), r6(cosine(col("qv"), col("v"))).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("rnk"), col("vec_id"), col("sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** The q28 quantizer + full-corpus assignment as a DuckDB CTE chain
    * (seed from vec_id < 8, 2 Lloyd refinements over the mod-4 sample,
    * nearest-centroid assignment) — shared verbatim by q28 (and through
    * it q48) and q106, so the engines can never disagree on the
    * clustering itself.
    */
  private val QuantizerAssignSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       |train AS (SELECT vec_id, v FROM e WHERE vec_id % 4 = 0),
       |a1 AS (
       |  SELECT v, cid FROM (
       |    SELECT t.v, c.cid,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${R6Sql.format("list_cosine_similarity(t.v, c.cv)")} DESC, c.cid) AS rn
       |    FROM train t, c0 c) s WHERE rn = 1),
       |c1 AS (
       |  SELECT cid, list(${R6Sql.format("m")} ORDER BY dim) AS cv FROM (
       |    SELECT cid, dim, avg(x) AS m FROM (
       |      SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS dim FROM a1) u
       |    GROUP BY cid, dim) g GROUP BY cid),
       |a2 AS (
       |  SELECT v, cid FROM (
       |    SELECT t.v, c.cid,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${R6Sql.format("list_cosine_similarity(t.v, c.cv)")} DESC, c.cid) AS rn
       |    FROM train t, c1 c) s WHERE rn = 1),
       |c AS (
       |  SELECT cid, list(${R6Sql.format("m")} ORDER BY dim) AS cv FROM (
       |    SELECT cid, dim, avg(x) AS m FROM (
       |      SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS dim FROM a2) u
       |    GROUP BY cid, dim) g GROUP BY cid),
       |assign AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${R6Sql.format("list_cosine_similarity(e.v, c.cv)")} DESC, c.cid) AS rn
       |    FROM e, c) sub WHERE rn = 1)""".stripMargin

  val q28Sql: String =
    s"""$QuantizerAssignSql,
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
       |probe AS (
       |  SELECT qid, qv, cid FROM (
       |    SELECT q.qid, q.qv, c.cid,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${R6Sql.format("list_cosine_similarity(q.qv, c.cv)")} DESC, c.cid) AS rn
       |    FROM q, c) sub WHERE rn <= 3),
       |scored AS (
       |  SELECT p.qid, a.vec_id,
       |    ${R6Sql.format("list_cosine_similarity(p.qv, a.v)")} AS sim
       |  FROM probe p JOIN assign a ON a.cid = p.cid WHERE a.vec_id != p.qid)
       |SELECT qid, rnk, vec_id, sim FROM (
       |  SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
       |  FROM scored) sub
       |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  /** Q106 — SEMANTIC dedup, SemDeDup-style (Abbas et al. 2023): corpus-wide
    * embedding near-dup removal made tractable by restricting the pairwise
    * search to k-means clusters — duplicates are near-identical vectors, so
    * they land in the same cluster, and the O(n²) cosine pass shrinks to
    * Σ|cluster|², the paper's core trick. Reuses the q28 quantizer verbatim
    * (seed, sample, 2 Lloyd steps — QuantizerAssignSql on the oracle side),
    * pairs within each cluster at cosine ≥ 0.3 (this corpus's planted
    * near-dup band, as q34), and applies the deterministic min-id keep rule
    * (a vector with any smaller-id near-dup in its cluster is dropped —
    * the same survivor rule the streaming dedup uses). Emits the
    * per-cluster dedup accounting a pipeline reports: cluster size, dup
    * pairs, dropped count. At 100 TB: k scales ~√n (IvfIndex.autoNlist,
    * fixed at the oracle's 8 here), assignment is one broadcast pass, and
    * the per-cluster quadratic is bounded by cluster width — never corpus-
    * wide (and a skewed cluster is visible in this very output).
    */
  def q106SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = embDouble(spark, dir)
    val c0 = e.filter(col("vec_id") < 8).select(col("vec_id").as("cid"), col("v").as("cv"))
    val train = e.filter(col("vec_id") % 4 === 0).select(col("vec_id"), col("v"))
    val c = lloydStep(train, lloydStep(train, c0))
    val aw = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
    val assign = e.crossJoin(broadcast(c))
      .select(col("vec_id"), col("v"), col("cid"), r6(cosine(col("v"), col("cv"))).as("csim"))
      .withColumn("rn", row_number().over(aw)).filter(col("rn") === 1)
      .select(col("cid"), col("vec_id"), col("v"))
      .persist() // both pair sides + the size rollup read it
    val pairs = assign.select(col("cid"), col("vec_id").as("ia"), col("v").as("va"))
      .join(assign.select(col("cid"), col("vec_id").as("ib"), col("v").as("vb")), Seq("cid"))
      .filter(col("ia") < col("ib"))
      .filter(r6(cosine(col("va"), col("vb"))) >= 0.3)
      .select(col("cid"), col("ia"), col("ib"))
    val sizes = assign.groupBy(col("cid")).agg(count(lit(1)).as("n_vectors"))
    // ONE pass over the pair set: dup_pairs and n_dropped (distinct
    // dropped ids) fold in the same aggregate — the former pc/dc pair of
    // aggregates re-ran the within-cluster cosine self-join twice
    // (round-16 optimization; values identical: n_dropped = distinct ib
    // per cluster either way).
    val pcdc = pairs.groupBy(col("cid")).agg(
      count(lit(1)).as("dup_pairs"),
      countDistinct(col("ib")).as("n_dropped"))
    val out = sizes
      .join(pcdc, Seq("cid"), "left")
      .select(col("cid"), col("n_vectors"),
        coalesce(col("dup_pairs"), lit(0L)).as("dup_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .orderBy(col("cid"))
    val rows = java.util.Arrays.asList(out.collect(): _*)
    assign.unpersist()
    spark.createDataFrame(rows, out.schema)
  }

  val q106Sql: String =
    s"""$QuantizerAssignSql,
       |pairs AS (
       |  SELECT a.cid, a.vec_id AS ia, b.vec_id AS ib
       |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE ${R6Sql.format("list_cosine_similarity(a.v, b.v)")} >= 0.3),
       |sizes AS (SELECT cid, count(*) AS n_vectors FROM assign GROUP BY cid),
       |pc AS (SELECT cid, count(*) AS dup_pairs FROM pairs GROUP BY cid),
       |dc AS (SELECT cid, count(*) AS n_dropped
       |       FROM (SELECT DISTINCT cid, ib FROM pairs) GROUP BY cid)
       |SELECT s.cid, s.n_vectors,
       |  coalesce(pc.dup_pairs, 0) AS dup_pairs,
       |  coalesce(dc.n_dropped, 0) AS n_dropped
       |FROM sizes s LEFT JOIN pc USING (cid) LEFT JOIN dc USING (cid)
       |ORDER BY s.cid""".stripMargin

  /** Random-hyperplane constants for q34's LSH blocking: 32 hyperplanes
    * (8 bands × 4 sign bits) of Rademacher ±1 entries over the 64-dim
    * embedding space, from a fixed seed. Embedded as literals in BOTH the
    * Spark plan and the oracle SQL so the engines share the exact planes.
    * ±1 entries make each dot product a signed sum of vector components —
    * no multiplication rounding — and the sum is a sequential fold on both
    * sides, so the sign bits agree.
    */
  private val NearDupBands = 8
  private val NearDupMinBits = 4
  private val NearDupMaxBits = 16
  private val NearDupTargetBucket = 32
  private def nearDupPlanes(n: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(20240812L)
    Seq.fill(n)(Seq.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Bits per band for a corpus of n vectors: the smallest b with
    * targetBucket · 2^b ≥ n (expected bucket size ≤ targetBucket), clamped
    * to [4, 16]. Fixed bits make candidate counts quadratic in n
    * (b bands × n²/2^(bits+1) random collisions); sizing bits ~ log2(n) holds
    * the per-bucket width — and with it the join cost — constant as the
    * corpus grows. Integer comparisons only, so the oracle SQL derives the
    * IDENTICAL value from count(*) (float log2 could round differently
    * across engines at exact powers of two).
    */
  private[graft] def nearDupBits(n: Long): Int = {
    var b = NearDupMinBits
    while (b < NearDupMaxBits && NearDupTargetBucket.toLong * (1L << b) < n) b += 1
    b
  }

  /** Q34 — embedding near-duplicate pairs, blocked by random-hyperplane LSH
    * buckets: the dedup-by-embedding pattern (drop training docs whose
    * vectors nearly coincide). Each vector gets one bucket per band (sign
    * bits of hyperplane dot products — native codegen dot_product);
    * candidate pairs come from an equi-join on (band, bucket), deduped, then
    * exact-cosine verified. Bits per band auto-size to the corpus
    * (nearDupBits: smallest b with 32·2^b ≥ n, so expected bucket width —
    * and the per-band join cost — stays ~constant as n grows; a FIXED width
    * is quadratic in n). Bucket population is independent of any data
    * attribute — unlike blocking on a label-like partition column, no
    * single hot group can go quadratic at 100 TB. Recall vs the exhaustive
    * answer is probabilistic (pinned in PipelineQueriesSpec); the oracle
    * derives the same bit count from count(*) and replays the identical
    * bucketed join.
    */
  def q34EmbedNearDup(spark: SparkSession, dir: String): DataFrame = {
    // One metadata-cheap count sizes the buckets (see nearDupBits); the
    // oracle derives the same value from count(*) with the same integer
    // thresholds.
    val n = emb(spark, dir).count()
    embedNearDup(spark, dir, NearDupBands, nearDupBits(n), 0.3)
  }

  /** Generalized form: `bitsPerBand` is the scale knob — expected bucket
    * size is n/2^bits, so production sizes it as ~log2(n / targetBucket)
    * (more bits = fewer random collisions, same true-dup collisions for
    * genuinely near-identical vectors); `bands` buys recall back
    * (miss prob = (1 - p^bits)^bands, p = 1 - θ/π).
    */
  private[graft] def embedNearDup(spark: SparkSession, dir: String,
      bands: Int, bitsPerBand: Int, threshold: Double): DataFrame = {
    require(bitsPerBand <= NearDupMaxBits, s"bitsPerBand > $NearDupMaxBits")
    val e = embDouble(spark, dir)
    // Block-aligned plane indexing: band b always draws from the 16-plane
    // block [b*16, (b+1)*16) and uses its first `bitsPerBand` planes, so the
    // oracle SQL (which embeds all 16 per band and gates on the derived bit
    // count) selects the identical planes for every bit width.
    val planes = nearDupPlanes(bands * NearDupMaxBits)
    val dot = (p: Seq[Double]) =>
      call_function("dot_product", col("v"), typedLit(p))
    val buckets = array((0 until bands).map { b =>
      (0 until bitsPerBand).map { j =>
        when(r6(dot(planes(b * NearDupMaxBits + j))) >= 0,
          lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)
    // Candidate pairs carry only the two ids until after the dedup — a
    // near-dup pair collides in most bands, and shuffling the 64-dim
    // vectors once per colliding band would dominate the query. Vectors
    // join back onto the (much smaller) deduped pair set for verification.
    val sigs = e.select(col("vec_id"),
      posexplode(buckets).as(Seq("band", "bucket")))
    val cand = sigs.as("a")
      .join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), r6(cosine(col("va"), col("vb"))).as("sim"))
      .filter(col("sim") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  val q34Sql: String = {
    def planeSql(p: Seq[Double]): String =
      p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]::DOUBLE[]")
    val planes = nearDupPlanes(NearDupBands * NearDupMaxBits)
    // Same integer thresholds as nearDupBits: smallest b with
    // targetBucket * 2^b >= n, clamped to [min, max].
    val bitsCase = (NearDupMinBits until NearDupMaxBits)
      .map(b => s"WHEN cnt <= ${NearDupTargetBucket.toLong * (1L << b)} THEN $b")
      .mkString(" ")
    val bands = (0 until NearDupBands).map { b =>
      val bucket = (0 until NearDupMaxBits).map { j =>
        val d = R6Sql.format(
          s"list_dot_product(v, ${planeSql(planes(b * NearDupMaxBits + j))})")
        s"(CASE WHEN $j < p.bits AND $d >= 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, v, $b AS band, $bucket AS bucket FROM e, params p"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |params AS (
       |  SELECT CASE $bitsCase ELSE $NearDupMaxBits END AS bits
       |  FROM (SELECT count(*) AS cnt FROM e)),
       |s AS (
       |$bands
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM s a JOIN s b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, sim FROM (
       |  SELECT c.id_a, c.id_b,
       |    ${R6Sql.format("list_cosine_similarity(ea.v, eb.v)")} AS sim
       |  FROM cand c
       |  JOIN e ea ON ea.vec_id = c.id_a
       |  JOIN e eb ON eb.vec_id = c.id_b) sub
       |WHERE sim >= 0.3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ----------------------------------------------------------- deduplication

  private def tokens: Column = split(col("text"), " ")

  /** DuckDB spelling of [[graft.operators.InvertedIndex.mixedTokens]] over
    * the `text` column — ONE definition shared by every multilingual
    * cleaning oracle (q118–q125), so the tokenizer the cross-engine parity
    * depends on cannot drift between them (q114 predates this constant and
    * spells the identical expression inline). Declared up here, above its
    * first oracle-val use — object vals initialize in order.
    */
  private val MixedToksSql =
    """flatten([
      |        list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |          t -> len(t) >= 3),
      |        flatten([CASE WHEN length(r) = 1 THEN [r]
      |                 ELSE [substr(r, i, 2)
      |                       for i in generate_series(1, length(r) - 1)] END
      |                 for r in regexp_extract_all(text, '\p{Han}+')])
      |      ])""".stripMargin

  /** The most-repeated adjacent-bigram count over a TOKEN array, as the
    * fused codegen expression (graft.functions.TopBigramRunExpr) — bit-
    * identical to the former map-side HOF fold (hash each bigram, sort,
    * longest run of equal neighbours; equality pinned on random data in
    * GraftFunctionsSpec), without its three interpreted HOF layers or the
    * per-bigram concat_ws string build (round-17 optimization; guide §1.2 step 2). Every verdict/repetition
    * path (q95/q96/q117/q119/q124/q125) routes through THIS definition.
    */
  private def topRunOf(ws: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.TopBigramRunExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(ws)))

  /** The word-5-gram shingle expression, shared by q25 and q26: ONE
    * definition so the tokenization the q25 == q26 oracle equivalence
    * depends on cannot drift between them.
    */
  private[graft] def shingles: Column = shinglesOf(tokens)

  /** Distinct per-doc shingle-hash array over a TOKEN array — the fused
    * codegen `window_hashes(ws, 5, atLeastOne)` (bit-identical to
    * `array_distinct(transform(shinglesOf(ws), s => xxhash64(s)))`, the
    * shingle geometry included; equality pinned in GraftFunctionsSpec)
    * without building a 5-gram string per position or walking the
    * interpreted transform lambdas (round-17 optimization). Every
    * hashed-shingle consumer (q25, q101's batch side, the verified-edge
    * machinery behind q93/q117/q125) routes through THIS definition; q26
    * keeps the string shingles — it IS the oracle shape.
    */
  private def shingleHashesOf(ws: Column): Column =
    array_distinct(org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.WindowHashesExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(ws),
        5, atLeastOne = true)))

  /** The q116/q123 15-token sliding-window digests as the fused codegen
    * expression — bit-identical to
    * `xxhash64(concat_ws(" ", slice(ws, i, 15)))` per position with the
    * no-window-for-short-docs guard (equality pinned in
    * GraftFunctionsSpec).
    */
  private def windowHashes15(ws: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.WindowHashesExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(ws),
        15, atLeastOne = false))

  /** The 13-token-gram digests of a token array as the fused codegen
    * expression — bit-identical to `gramHashes13(tokenHashes(ws))`
    * (equality pinned in GraftFunctionsSpec) with neither the
    * intermediate per-token hash array nor any per-position slice
    * allocated (round-17 optimization). q103's two sides and the
    * compose contamination stage route through THIS definition.
    */
  private def tokenGramHashes13(ws: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.TokenGramHashesExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(ws), 13))

  /** The 5-gram shingle window over an ARBITRARY token array — q125's
    * per-language-tokenizer composition shingles routed (mixed-for-zh)
    * tokens through the identical geometry.
    */
  private def shinglesOf(ws: Column): Column =
    transform(
      sequence(lit(1), greatest(lit(1), size(ws) - lit(4))),
      i => concat_ws(" ", slice(ws, i, lit(5))))

  /** Distinct 5-gram word shingles per document. */
  private def shingleDf(spark: SparkSession, dir: String): DataFrame =
    docsSpread(spark, dir)
      .select(col("doc_id"), explode(shingles).as("shingle"))
      .distinct()

  private val ShingleSql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |idx AS (
      |  SELECT doc_id, ws,
      |    unnest(generate_series(1, greatest(1, len(ws) - 4))) AS i FROM toks),
      |dsh AS (
      |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS shingle FROM idx),
      |cnt AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id)""".stripMargin

  private val JaccardPairsSql =
    s"""$ShingleSql,
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  ${R6Sql.format("(shared::DOUBLE / (ca.n + cb.n - shared))")} AS jaccard
       |FROM pairs
       |  JOIN cnt ca ON ca.doc_id = doc_a
       |  JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE shared::DOUBLE / (ca.n + cb.n - shared) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Q26 — exact n-gram Jaccard near-duplicate pairs (J ≥ 0.8 on distinct
    * word-5-shingles), via an equi-join on the shingle value — the exhaustive
    * ground truth the LSH path (q25) approximates. Never an all-pairs
    * product: only documents sharing at least one shingle ever meet.
    */
  def q26JaccardExact(spark: SparkSession, dir: String): DataFrame =
    jaccardExact(spark, dir, maxShingleFreq = None)

  /** The exhaustive-Jaccard pair join, with the optional hot-shingle
    * frequency cap that makes it scale-safe: shingles appearing in more than
    * `maxShingleFreq` documents (boilerplate headers, license blurbs — the
    * one blow-up risk of a shingle equi-join, since a shingle in f docs
    * contributes f² candidate rows) are dropped from every document's set
    * BEFORE the join, bounding any shingle's contribution at cap². The cap
    * removes the shingle from the Jaccard universe entirely (numerator and
    * denominator), the standard near-dup-dedup semantics: boilerplate shared
    * by thousands of documents carries no near-duplicate signal.
    *
    * Off (None) by default so the DuckDB oracle stays exhaustive; the capped
    * variant's recall behaviour is pinned in PipelineQueriesSpec.
    */
  def jaccardExact(spark: SparkSession, dir: String,
      maxShingleFreq: Option[Int]): DataFrame =
    jaccardPairs(spark, dir, maxShingleFreq)
      .select(col("doc_a"), col("doc_b"), r6(col("raw_j")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Unsorted J ≥ 0.8 pair set with the raw (unrounded) ratio — shared by
    * q26 (rounds + orders it) and q93 (feeds it to connected components).
    */
  private def jaccardPairs(spark: SparkSession, dir: String,
      maxShingleFreq: Option[Int]): DataFrame = {
    val dshAll = shingleDf(spark, dir)
    val dsh = maxShingleFreq match {
      case None => dshAll
      case Some(cap) =>
        // One small aggregate on the shingle key. No broadcast hint: at
        // sensible caps the hot-shingle set is tiny and the planner (AQE)
        // broadcasts it on its own, but a degenerate cap (cap=1 in the
        // spec) makes it approach the full distinct-shingle cardinality —
        // a forced broadcast there would OOM the driver at scale.
        val hot = dshAll.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > cap)
          .select(col("shingle"))
        dshAll.join(hot, Seq("shingle"), "left_anti")
    }
    val cnt = dsh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = dsh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = dsh.select(col("doc_id").as("doc_b"), col("shingle"))
    val pairs = a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("shared"))
    val j = col("shared").cast("double") /
      (col("na") + col("nb") - col("shared")).cast("double")
    pairs
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(j >= 0.8)
      .select(col("doc_a"), col("doc_b"), j.as("raw_j"))
  }

  val q26Sql: String = JaccardPairsSql

  /** The SCALE path to the same J ≥ 0.8 pair set: candidate pairs from an
    * equi-join on 8-byte shingle HASHES (strings never cross a shuffle)
    * with hot shingles (df > `maxShingleFreq`) excluded from candidate
    * generation only, then EXACT Jaccard verification of each candidate via
    * set intersection over the full (uncapped) shingle-hash sets — q25's
    * verify machinery. Because the cap touches only candidate generation and
    * the verify step is exact, the output is identical to the exhaustive
    * jaccardPairs unless a true pair shares *exclusively* hot shingles —
    * which requires a near-dup cluster larger than the cap itself; equality
    * with q26's exhaustive answer is spec-pinned on this data
    * (PipelineQueriesSpec). Versus jaccardPairs this trades the
    * string-shingle join + O(pairs) shared-count aggregate + two count
    * joins for a long-keyed join + per-candidate array_intersect, and its
    * candidate join is df-bounded at the cap — the shape q93 feeds into
    * connected components.
    *
    * Returns a driver-materialized DataFrame (the verified near-dup pair
    * set is tiny by construction), releasing the persisted intermediates —
    * the same discipline as q25.
    */
  private[graft] def verifiedJaccardEdges(spark: SparkSession, dir: String,
      maxShingleFreq: Int): DataFrame =
    verifiedJaccardEdgesOf(docsSpread(spark, dir), maxShingleFreq)

  /** Bound under which the exact-Jaccard candidate verify runs DRIVER-SIDE
    * (round-16 optimization). The distributed verify shape already
    * materializes every candidate doc's shingle-hash set in a driver-built
    * broadcast, so the driver path holds the SAME data with the same memory
    * bound — it just skips the broadcast exchanges and the extra Spark jobs
    * (the verify stage cost ~2.0 s of the edge machinery's ~5 s warm floor
    * for ~50 pairs; QProfile, sf0.1). Above the bound — candidate-doc
    * populations the isin literal list shouldn't carry — the distributed
    * broadcast shape below remains the path, unchanged.
    */
  private val VerifyDriverMaxDocs = 10000

  /** Sorted-long-array intersection size — the driver twin of
    * size(array_intersect(sha, shb)).
    */
  private def sortedIntersectCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** Collect the (doc_id, h) rows of `dsh` restricted to `ids` into sorted
    * per-doc hash arrays. One filtered scan of the (persisted) hash table —
    * the only Spark job the driver verify pays.
    */
  private def collectHashSets(dsh: DataFrame, ids: Array[Long]): Map[Long, Array[Long]] =
    dsh.filter(col("doc_id").isin(ids: _*)).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).sorted }

  /** Exact-Jaccard verification of candidate pairs on the driver: for each
    * (a, b), J = |A∩B| / (|A|+|B|-|A∩B|) over the full (uncapped) distinct
    * shingle-hash sets — double arithmetic identical to the distributed
    * spelling (int sizes cast to double), so the kept pair set and raw
    * ratios are bit-equal. Returns pairs with raw J ≥ 0.8.
    */
  private def verifyPairsDriver(pairs: Array[(Long, Long)],
      setsA: Map[Long, Array[Long]], setsB: Map[Long, Array[Long]])
      : Array[(Long, Long, Double)] =
    pairs.flatMap { case (a, b) =>
      (setsA.get(a), setsB.get(b)) match {
        case (Some(sa), Some(sb)) =>
          val inter = sortedIntersectCount(sa, sb).toDouble
          val j = inter / (sa.length + sb.length - inter).toDouble
          if (j >= 0.8) Some((a, b, j)) else None
        case _ => None
      }
    }

  private val RawJSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_a",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("doc_b",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("raw_j",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  /** [[verifiedJaccardEdges]] over an arbitrary (doc_id, text) frame — the
    * q117 composition feeds it the mid-pipeline survivor set instead of the
    * raw corpus.
    */
  private[graft] def verifiedJaccardEdgesOf(d: DataFrame,
      maxShingleFreq: Int, wsExpr: Column = tokens): DataFrame = {
    val spark = d.sparkSession
    // Per-doc DISTINCT hash arrays, built map-side: the corpus-wide
    // (doc_id, h) distinct() only ever deduped within a document, so
    // array_distinct replaces that exchange outright (round-16
    // optimization, the q25 shape); r17 fuses the shingle build + hash
    // into the window_hashes codegen expression (see shingleHashesOf).
    // The exploded face below feeds candidate generation, the arrays
    // feed the verify sets.
    val docsH = d
      .select(col("doc_id"), shingleHashesOf(wsExpr).as("hs"))
      .persist()
    val dsh = docsH.select(col("doc_id"), explode(col("hs")).as("h"))
    // Candidate pairs in ONE exchange: group the hash table by shingle,
    // keep lists of 2..cap docs (size > cap IS the hot-shingle drop; size
    // 1 yields no pair), and explode each list's unordered pairs map-side.
    // The former hot-aggregate + anti-join + self-join + distinct spelled
    // the identical pair set across FOUR exchanges of the corpus-sized
    // hash table (round-16 optimization; guide §2.4). Per-shingle pair
    // fan-out stays bounded by cap² exactly as the join was.
    val pairsOf = {
      val ds = col("ds")
      flatten(transform(ds, (x, i) =>
        transform(slice(ds, i + lit(2), size(ds)), y =>
          struct(least(x, y).as("a"), greatest(x, y).as("b")))))
    }
    // collect_capped (not collect_list): the aggregation buffer saturates
    // at `cap` docs, so a hot boilerplate shingle appearing in millions of
    // docs costs cap-bounded memory instead of materializing its full list
    // before the size filter drops it (r16 ADVICE, medium). The buffer
    // limit and the filter share `cap`: a list that reached it is a
    // saturated (hot) group and is dropped, and every kept group (< cap
    // rows) never truncates on any partial path — identical lists,
    // identical pair set.
    val cap = maxShingleFreq + 1
    val collectCapped = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.CollectCappedLong(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("doc_id")),
        cap).toAggregateExpression())
    val cand = dsh.groupBy(col("h"))
      .agg(collectCapped.as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) < cap)
      .select(explode(pairsOf).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
      .persist()
    // The pair set is near-dup-population-sized by construction; collecting
    // it doubles as the materialization barrier the broadcast-racing
    // distributed verify needed.
    val candPairs = cand.collect().map(r => (r.getLong(0), r.getLong(1)))
    val candDocs = candPairs.flatMap(p => Iterator(p._1, p._2)).distinct
    val out: DataFrame =
      if (candDocs.length <= VerifyDriverMaxDocs) {
        // Driver verify: one filtered scan of the persisted hash arrays,
        // then in-process set intersection (see VerifyDriverMaxDocs).
        val sets = docsH.filter(col("doc_id").isin(candDocs: _*)).collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray.sorted).toMap
        val verified = verifyPairsDriver(candPairs, sets, sets)
        spark.createDataFrame(
          java.util.Arrays.asList(verified.map(t =>
            org.apache.spark.sql.Row(t._1, t._2, t._3)): _*), RawJSchema)
      } else {
        val candIds = cand
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
        val sets = dsh.join(broadcast(candIds), Seq("doc_id"))
          .groupBy(col("doc_id")).agg(collect_set(col("h")).as("sh"))
        val withSets = cand
          .join(broadcast(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha"))), Seq("doc_a"))
          .join(broadcast(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb"))), Seq("doc_b"))
        val inter = size(array_intersect(col("sha"), col("shb"))).cast("double")
        val j = inter / (size(col("sha")) + size(col("shb")) - inter).cast("double")
        val distOut = withSets.filter(j >= 0.8)
          .select(col("doc_a"), col("doc_b"), j.as("raw_j"))
        val rows = java.util.Arrays.asList(distOut.collect(): _*)
        spark.createDataFrame(rows, distOut.schema)
      }
    docsH.unpersist()
    cand.unpersist()
    out
  }

  /** Q93 — near-duplicate CLUSTER resolution: the q26 pair set is only half
    * of dedup — if A~B and B~C then {A,B,C} must dedup to ONE survivor even
    * though A~C was never emitted. Connected components over the pair graph
    * (distributed large-star/small-star, graft.operators.ConnectedComponents)
    * assigns every involved document its component's minimum doc_id as
    * cluster_id; the canonical survivor is the minimum itself. Output is one
    * row per clustered document with its cluster id, cluster size, and a
    * keep-marker — exactly the table a 100 TB dedup job anti-joins against
    * the corpus to drop redundant documents.
    *
    * The edge set comes from verifiedJaccardEdges (hashed-shingle capped
    * candidates + exact verify), not the exhaustive string join — same
    * pairs, scale-safe shape.
    *
    * Oracle: DuckDB recursive CTE computing the same closure (min label
    * reachable over the symmetrised pair edges).
    */
  def q93DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val edges = verifiedJaccardEdges(spark, dir, maxShingleFreq = 1000)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    val cc = graft.operators.ConnectedComponents.run(edges)
    val sizes = cc.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "component")
      .select(col("node").as("doc_id"), col("component").as("cluster_id"),
        col("cluster_size"),
        (col("node") === col("component")).cast("int").as("is_canonical"))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  val q93Sql: String = {
    val recShingle = ShingleSql.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$recShingle,
       |pr AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT doc_a, doc_b FROM pr
       |    JOIN cnt ca ON ca.doc_id = doc_a
       |    JOIN cnt cb ON cb.doc_id = doc_b
       |  WHERE shared::DOUBLE / (ca.n + cb.n - shared) >= 0.8),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM jp
       |  UNION SELECT doc_b, doc_a FROM jp),
       |walk(u, lbl) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v),
       |cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY u),
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1)
       |SELECT c.doc_id, c.cluster_id, s.cluster_size,
       |  CAST(c.doc_id = c.cluster_id AS INTEGER) AS is_canonical
       |FROM cc c JOIN sz s USING (cluster_id)
       |ORDER BY c.cluster_id, c.doc_id""".stripMargin
  }

  /** Q25 — MinHash + LSH near-duplicate detection: 96 xxhash64 min-hashes
    * per document (one hash-aggregate pass, map-side combined), banded 24×4
    * into LSH buckets, candidate pairs from an equi-join on (band,
    * signature), then exact-Jaccard verification of candidates only.
    *
    * With 24 bands of 4 rows, per-pair miss probability is (1 - J⁴)²⁴:
    * ≈ 3.3e-6 at exactly J = 0.8, falling fast with J (1.6e-9 at J = 0.9) —
    * the planted near-dups sit well above the threshold, and equality with
    * q26's exhaustive answer is pinned empirically on this data
    * (PipelineQueriesSpec), so it shares the exhaustive oracle.
    * 96 (not 128) hashes keeps the signature aggregate under
    * spark.sql.codegen.maxFields (100), so the whole pass stays inside
    * whole-stage codegen.
    *
    * Everything downstream of the tokenizer runs on 8-byte shingle HASHES,
    * never shingle strings: each distinct (doc, shingle) is collapsed to
    * xxhash64(shingle) before the dedup shuffle, the 96 min-aggregates hash
    * the long (not the string) per seed, and the verification sets are
    * collect_set of the longs — so the heaviest shuffle carries 8 bytes per
    * shingle instead of the ~30-byte string, and exact-Jaccard verification
    * intersects long-arrays. Hashing is collision-safe here: a false shared
    * shingle needs a 64-bit collision inside one candidate pair's sets
    * (P < |set|²/2⁶⁴ ≈ 1e-13 at these sizes). Scale: signature pass is
    * linear; the band join touches only colliding buckets; exact
    * verification runs on candidates, not the corpus.
    */
  def q25MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // Per-doc DISTINCT shingle-hash ARRAYS, built map-side: array_distinct
    // replaces the corpus-wide (doc_id, h) distinct exchange, and the
    // 96-hash/24-band signature computes per row via the
    // minhash_band_sigs codegen expression — bit-identical to
    // MinHashStore.bandSignatures' aggregate face (min commutes; equality
    // spec-pinned in GraftFunctionsSpec), with NO signature shuffle at
    // all (round-16 optimization; the old shape paid the distinct
    // exchange plus the 96-min groupBy exchange before banding).
    val docsH = docsSpread(spark, dir)
      .select(col("doc_id"), shingleHashesOf(tokens).as("hs"))
      .persist() // feeds the band explode AND the verification sets
    val banded = docsH.select(col("doc_id"),
      posexplode(call_function("minhash_band_sigs", col("hs"))))
      .toDF("doc_id", "band", "sig")
    // Near-dup pairs collide in MOST of the 24 bands, so dedup the pair
    // BEFORE joining the sets back — otherwise the verification join and its
    // array_intersect run once per colliding band. The dedup shuffle moves
    // 16-byte (long, long) rows; cheap.
    val cand = banded.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
      .join(banded.select(col("doc_id").as("doc_b"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
      .persist() // read again when the driver verify overflows to Spark
    // Collect the candidate pair set (near-dup-population-sized by
    // construction) — this is also the materialization barrier that kept
    // the broadcast-racing verify subtree from recomputing the signature
    // chain in the old distributed shape.
    val candPairs = cand.collect().map(r => (r.getLong(0), r.getLong(1)))
    val candDocs = candPairs.flatMap(p => Iterator(p._1, p._2)).distinct
    // Exact verification of candidates, driver-side when bounded (see
    // VerifyDriverMaxDocs): one filtered scan of the persisted hash table
    // builds the per-candidate-doc sets — the SAME data the old shape put
    // in a driver-built broadcast — then in-process intersection.
    // Threshold on the RAW ratio, rounding only the emitted column — the
    // identical semantics jaccardExact/q26 use, so the two sides can never
    // disagree on a value in [0.7999995, 0.8).
    val outRows: java.util.List[org.apache.spark.sql.Row] =
      if (candDocs.length <= VerifyDriverMaxDocs) {
        val sets = docsH.filter(col("doc_id").isin(candDocs: _*)).collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray.sorted).toMap
        val verified = verifyPairsDriver(candPairs, sets, sets)
          .map { case (a, b, j) =>
            org.apache.spark.sql.Row(a, b,
              math.floor(j * 1000000.0 + 0.5) / 1000000.0)
          }
          .sortBy(r => (r.getLong(0), r.getLong(1)))
        java.util.Arrays.asList(verified: _*)
      } else {
        val candIds = cand
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
        val dsh = docsH.select(col("doc_id"), explode(col("hs")).as("h"))
        val sets = dsh.join(broadcast(candIds), Seq("doc_id"))
          .groupBy(col("doc_id")).agg(collect_set(col("h")).as("sh"))
        val withSets = cand
          .join(broadcast(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha"))), Seq("doc_a"))
          .join(broadcast(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb"))), Seq("doc_b"))
        val inter = size(array_intersect(col("sha"), col("shb"))).cast("double")
        val j = inter / (size(col("sha")) + size(col("shb")) - inter).cast("double")
        val out = withSets
          .filter(j >= 0.8)
          .select(col("doc_a"), col("doc_b"), r6(j).as("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
        java.util.Arrays.asList(out.collect(): _*)
      }
    // Materialize the verified pair set on the driver so the persisted
    // hash arrays can be released — repeated invocations must not accrete
    // cached intermediates.
    docsH.unpersist()
    cand.unpersist()
    spark.createDataFrame(outRows, JaccardOutSchema)
  }

  private val JaccardOutSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_a",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("doc_b",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("jaccard",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  val q25Sql: String = JaccardPairsSql

  /** Q101 — CROSS-SNAPSHOT incremental dedup via the persisted MinHash
    * signature store (operators/MinHashStore): the corpus is split into a
    * historical slice (doc_id % 10 ≠ 0, signed into the store once, cached
    * per scale dir) and an incoming batch (doc_id % 10 = 0); the batch is
    * deduped against the STORE, never against historical text. Per-batch
    * cost at scale: shingle-hash the batch, one (band, sig) equi-join
    * against the store (~24 rows × 8 B per historical doc — orders of
    * magnitude smaller than the corpus), then exact-Jaccard verification
    * that re-reads historical TEXT only for candidate docs (semi-join on
    * the candidate ids). Emits verified (new_id, old_id, J ≥ 0.8) pairs —
    * the batch rows a pipeline would drop before training. Same signature
    * geometry as q25, so the store path inherits q25's recall analysis.
    */
  def q101IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.MinHashStore
    val d = docsSpread(spark, dir)
    val isNew = col("doc_id") % 10 === 0
    def dshOf(df: DataFrame): DataFrame = df
      .select(col("doc_id"), explode(shingles).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .distinct()
    val store = cacheMinhash.getOrElseUpdate(dir, {
      val p = java.nio.file.Files.createTempDirectory("minhash_q101_").toString
      MinHashStore.create(spark, p, dshOf(d.filter(!isNew)))
    })
    // Only the incoming batch is shingle-hashed on the steady-state path —
    // as per-doc distinct hash ARRAYS with the map-side minhash_band_sigs
    // signature (the q25 shape, bit-identical to bandSignatures per the
    // GraftFunctionsSpec equality pin), so the batch pays no distinct
    // exchange and no 96-min aggregate exchange (round-16 optimization).
    graft.functions.GraftFunctions.register(spark)
    val newDocsH = d.filter(isNew)
      .select(col("doc_id"), shingleHashesOf(tokens).as("hs"))
      .persist()
    val newBanded = newDocsH.select(col("doc_id"),
        posexplode(call_function("minhash_band_sigs", col("hs"))))
      .toDF("doc_id", "band", "sig")
    val cand = store.candidatePairs(newBanded).persist()
    // Candidate pair set is batch-bounded; collecting it is the barrier.
    val candPairs = cand.collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("store_id")))
    val newIds = candPairs.map(_._1).distinct
    val oldIds = candPairs.map(_._2).distinct
    // Exact verification — historical text re-read for CANDIDATE docs only;
    // driver-side when bounded (see VerifyDriverMaxDocs), broadcast shape
    // beyond.
    val outRows: java.util.List[org.apache.spark.sql.Row] =
      if (newIds.length + oldIds.length <= VerifyDriverMaxDocs) {
        val oldSets = collectHashSets(
          dshOf(d.filter(col("doc_id").isin(oldIds: _*))), oldIds)
        val newSets = newDocsH.filter(col("doc_id").isin(newIds: _*)).collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray.sorted).toMap
        val verified = verifyPairsDriver(candPairs, newSets, oldSets)
          .map { case (n, o, j) =>
            org.apache.spark.sql.Row(n, o,
              math.floor(j * 1000000.0 + 0.5) / 1000000.0)
          }
          .sortBy(r => (r.getLong(0), r.getLong(1)))
        java.util.Arrays.asList(verified: _*)
      } else {
        val oldCandIds = cand.select(col("store_id").as("doc_id")).distinct()
        val oldSets = dshOf(d.join(broadcast(oldCandIds), Seq("doc_id"), "left_semi"))
          .groupBy(col("doc_id")).agg(collect_set(col("h")).as("sh"))
        val newCandIds = cand.select(col("batch_id").as("doc_id")).distinct()
        val newDsh = newDocsH.select(col("doc_id"), explode(col("hs")).as("h"))
        val newSets = newDsh.join(broadcast(newCandIds), Seq("doc_id"))
          .groupBy(col("doc_id")).agg(collect_set(col("h")).as("sh"))
        val withSets = cand
          .join(broadcast(oldSets.select(col("doc_id").as("store_id"), col("sh").as("sho"))),
            Seq("store_id"))
          .join(broadcast(newSets.select(col("doc_id").as("batch_id"), col("sh").as("shn"))),
            Seq("batch_id"))
        val inter = size(array_intersect(col("sho"), col("shn"))).cast("double")
        val j = inter / (size(col("sho")) + size(col("shn")) - inter).cast("double")
        val out = withSets
          .filter(j >= 0.8)
          .select(col("batch_id").as("new_id"), col("store_id").as("old_id"),
            r6(j).as("jaccard"))
          .orderBy(col("new_id"), col("old_id"))
        java.util.Arrays.asList(out.collect(): _*)
      }
    // Same materialize-and-release discipline as q25: the verified pair set
    // is tiny by construction; repeated invocations must not accrete caches.
    newDocsH.unpersist()
    cand.unpersist()
    spark.createDataFrame(outRows, IncDedupOutSchema)
  }

  private val IncDedupOutSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("new_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("old_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("jaccard",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  private val cacheMinhash =
    scala.collection.concurrent.TrieMap.empty[String, graft.operators.MinHashStore]

  val q101Sql: String =
    s"""$ShingleSql,
       |pairs AS (
       |  SELECT o.doc_id AS old_id, n.doc_id AS new_id, count(*) AS shared
       |  FROM dsh o JOIN dsh n ON o.shingle = n.shingle
       |  WHERE o.doc_id % 10 <> 0 AND n.doc_id % 10 = 0
       |  GROUP BY 1, 2)
       |SELECT new_id, old_id,
       |  ${R6Sql.format("(shared::DOUBLE / (co.n + cn.n - shared))")} AS jaccard
       |FROM pairs
       |  JOIN cnt co ON co.doc_id = old_id
       |  JOIN cnt cn ON cn.doc_id = new_id
       |WHERE shared::DOUBLE / (co.n + cn.n - shared) >= 0.8
       |ORDER BY new_id, old_id""".stripMargin

  /** Q27 — SimHash near-duplicate candidates: 64-bit signature per document
    * (bit b = sign of Σ_tokens ±1 by bit b of xxhash64(token)), candidate
    * pairs via 8×8-bit chunk blocking, kept when Hamming distance ≤ 6 —
    * pigeonhole-complete (8 chunks, ≤6 flipped bits ⇒ one chunk identical).
    * 8-bit chunks collide more than 16-bit ones; at production scale the
    * block key would be (chunk, ck, coarse-length-bucket) to bound bucket
    * sizes — unnecessary here and omitted to keep the demo exact.
    *
    * No SQL oracle: the signature depends on xxhash64, which DuckDB cannot
    * reproduce; output is deterministic (fixed hash seed) and cross-checked
    * against q26's exact answer in PipelineQueriesSpec.
    */
  def q27Simhash(spark: SparkSession, dir: String): DataFrame = {
    // The signature is ONE map-side codegen expression over the token
    // array (graft.functions.SimHash64Expr) — bit-identical to the former
    // explode → 64×sum(when ±1) → groupBy(doc_id) formulation (addition
    // commutes), without the corpus-token-sized explode, the 64-buffer
    // aggregate, or its exchange (round-16 optimization; the per-doc
    // equivalence stays pinned against q26 in PipelineQueriesSpec).
    graft.functions.GraftFunctions.register(spark)
    val sigs = docsSpread(spark, dir)
      .select(col("doc_id"), call_function("simhash64", tokens).as("sig"))
    val chunks = (0 until 8).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("sig"), c * 8).bitwiseAND(lit(0xFFL)).as("ck"))
    }
    val blocked = sigs.select(col("doc_id"), col("sig"), explode(array(chunks: _*)).as("cs"))
      .select(col("doc_id"), col("sig"), col("cs.chunk").as("chunk"), col("cs.ck").as("ck"))
    val pairs = blocked
      .select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("chunk"), col("ck"))
      .join(blocked.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
        col("chunk"), col("ck")), Seq("chunk", "ck"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      // threshold BEFORE the pair-dedup: colliding-but-distant pairs are
      // the bulk of chunk collisions and need not cross the distinct shuffle
      .filter(col("hamming") <= 6)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
    pairs
  }

  /** Q35 — exact content dedup by cryptographic fingerprint: groups per
    * (lang) of md5-distinct vs raw counts — the "drop byte-identical
    * documents" pass every training pipeline runs first. One shuffle on the
    * tiny per-lang aggregate; the md5 is computed scan-side.
    */
  def q35ExactDedup(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dups"))
      .orderBy(col("lang"))

  val q35Sql: String =
    """SELECT lang, count(*) AS n_docs,
      | count(DISTINCT md5(text)) AS n_distinct,
      | count(*) - count(DISTINCT md5(text)) AS n_dups
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ----------------------------------------------------------- text analysis

  /** Q24 — corpus statistics per language: doc/source counts, char and token
    * means. Ratios are integer-sum quotients (exact in both engines) passed
    * through the portable 6-dp rounding.
    */
  def q24TextStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"), col("source"),
        length(col("text")).as("chars"), size(tokens).as("toks"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("toks")).as("tot_tokens"),
        r6(sum(col("chars")).cast("double") / count(lit(1))).as("avg_chars"),
        r6(sum(col("toks")).cast("double") / count(lit(1))).as("avg_tokens"))
      .orderBy(col("lang"))

  val q24Sql: String =
    s"""SELECT lang, count(*) AS n_docs,
       | count(DISTINCT source) AS n_sources,
       | sum(len(string_split(text, ' ')))::BIGINT AS tot_tokens,
       | ${R6Sql.format("(sum(length(text))::DOUBLE / count(*))")} AS avg_chars,
       | ${R6Sql.format("(sum(len(string_split(text, ' ')))::DOUBLE / count(*))")} AS avg_tokens
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  private val StopwordLists: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "is", "to"),
    "es" -> Seq("el", "la", "de", "los", "y", "es"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我", "不"))

  private def stopScore(ws: Column, words: Seq[String]): Column =
    size(filter(ws, t => t.isin(words: _*)))

  /** Q29 — language identification by stopword-occurrence scoring (the
    * classic n-gram/wordlist heuristic): score per language = token
    * occurrences in that language's stopword list, argmax with alphabetical
    * tiebreak; reported as a (actual, predicted) confusion aggregate.
    * Embarrassingly parallel scan + tiny aggregate.
    */
  def q29LangId(spark: SparkSession, dir: String): DataFrame = {
    val ws = tokens
    val scoreCols = col("lang") +:
      StopwordLists.map { case (l, words) => stopScore(ws, words).as(s"s_$l") }
    val scored = docs(spark, dir).select(scoreCols: _*)
    val Seq(de, en, es, fr, zh) = StopwordLists.map { case (l, _) => col(s"s_$l") }
    val predicted =
      when(de >= en && de >= es && de >= fr && de >= zh, "de")
        .when(en >= es && en >= fr && en >= zh, "en")
        .when(es >= fr && es >= zh, "es")
        .when(fr >= zh, "fr")
        .otherwise("zh")
    scored.withColumn("predicted", predicted)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  val q29Sql: String = {
    def score(words: Seq[String]): String = {
      val inList = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), t -> t IN ($inList)))"
    }
    val Seq(de, en, es, fr, zh) = StopwordLists.map { case (_, w) => score(w) }
    s"""WITH scored AS (
       |  SELECT lang, $de AS s_de, $en AS s_en, $es AS s_es, $fr AS s_fr, $zh AS s_zh
       |  FROM documents),
       |pred AS (
       |  SELECT lang,
       |    CASE
       |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |      WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |      WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |      WHEN s_fr >= s_zh THEN 'fr'
       |      ELSE 'zh' END AS predicted
       |  FROM scored)
       |SELECT lang, predicted, count(*) AS n FROM pred
       |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
  }

  /** Q30 — document quality scoring per source: token counts, punctuation
    * ratio, stopword ratio, mean word length — the features a quality
    * filter thresholds on before training. All ratios are exact-integer-sum
    * quotients; one scan, one small aggregate.
    */
  def q30Quality(spark: SparkSession, dir: String): DataFrame = {
    val ws = tokens
    val enStops = StopwordLists.toMap.apply("en")
    val perDoc = docs(spark, dir).select(
      col("source"),
      length(col("text")).as("chars"),
      size(ws).as("toks"),
      length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).as("punct"),
      stopScore(ws, enStops).as("stops"),
      length(regexp_replace(col("text"), " ", "")).as("wchars"))
    perDoc.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("tot_tokens"),
        r6(sum(col("punct")).cast("double") / sum(col("chars"))).as("punct_ratio"),
        r6(sum(col("stops")).cast("double") / sum(col("toks"))).as("stop_ratio"),
        r6(sum(col("wchars")).cast("double") / sum(col("toks"))).as("avg_word_len"))
      .orderBy(col("source"))
  }

  val q30Sql: String = {
    val inList = StopwordLists.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    s"""WITH perdoc AS (
       |  SELECT source,
       |    length(text) AS chars,
       |    len(string_split(text, ' ')) AS toks,
       |    length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS punct,
       |    len(list_filter(string_split(text, ' '), t -> t IN ($inList))) AS stops,
       |    length(replace(text, ' ', '')) AS wchars
       |  FROM documents)
       |SELECT source, count(*) AS n_docs, sum(toks)::BIGINT AS tot_tokens,
       |  ${R6Sql.format("(sum(punct)::DOUBLE / sum(chars))")} AS punct_ratio,
       |  ${R6Sql.format("(sum(stops)::DOUBLE / sum(toks))")} AS stop_ratio,
       |  ${R6Sql.format("(sum(wchars)::DOUBLE / sum(toks))")} AS avg_word_len
       |FROM perdoc GROUP BY source ORDER BY source""".stripMargin
  }

  /** Q31 — token counting, two tokenizers: whitespace and a BPE-ish regex
    * (letter runs | digit runs | single punctuation), per language. The
    * regex is ASCII-classes-only so Java regex and RE2 agree.
    */
  def q31TokenCount(spark: SparkSession, dir: String): DataFrame = {
    val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
    docs(spark, dir)
      .select(col("lang"),
        size(tokens).as("ws_toks"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("re_toks"))
      .groupBy(col("lang"))
      .agg(
        sum(col("ws_toks")).as("tot_ws_tokens"),
        sum(col("re_toks")).as("tot_re_tokens"),
        max(col("ws_toks")).as("max_doc_tokens"))
      .orderBy(col("lang"))
  }

  val q31Sql: String =
    """SELECT lang,
      | sum(len(string_split(text, ' ')))::BIGINT AS tot_ws_tokens,
      | sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))::BIGINT AS tot_re_tokens,
      | max(len(string_split(text, ' '))) AS max_doc_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Q32 — deterministic document fingerprint: a position-weighted integer
    * hash over tokens (exact 64-bit arithmetic, order-independent sum so
    * both engines agree bit-for-bit), the cheap "same content modulo
    * whitespace" key a pipeline shards on. Output limited to doc_id < 50.
    */
  def q32Fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        (aggregate(
          zip_with(
            sequence(lit(1L), size(tokens).cast("long")),
            tokens,
            (i, t) => i * lit(1000003L) + ascii(t).cast("long") * lit(131L) + length(t).cast("long")),
          lit(0L), (acc, x) => acc + x) % 1000000007L).as("fp"))
      .orderBy(col("doc_id"))

  val q32Sql: String =
    """WITH idx AS (
      |  SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |        WHERE doc_id < 50) t)
      |SELECT doc_id,
      |  (sum(i::BIGINT * 1000003 + ascii(ws[i])::BIGINT * 131 + length(ws[i])::BIGINT)
      |    % 1000000007)::BIGINT AS fp
      |FROM idx GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ multimodal columns

  /** Q33 — multimodal binary-column plumbing: documents' text bytes stand in
    * for an opaque media payload (`binary` column + typed metadata — the
    * schema shape is what matters; real decode is in
    * graft.multimodal.MediaPipeline). Per source: payload counts, byte
    * volume, header bytes (hex), content-hash distinct count — the
    * partition-friendly metadata pass a media pipeline runs before any
    * expensive decode.
    */
  def q33MultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"),
        col("text").cast("binary").as("payload"))
      .select(col("source"),
        octet_length(col("payload")).as("nbytes"),
        substring(hex(col("payload")), 1, 8).as("header"),
        sha2(col("payload"), 256).as("digest"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_payloads"),
        sum(col("nbytes")).as("total_bytes"),
        min(col("header")).as("min_header"),
        max(col("header")).as("max_header"),
        countDistinct(col("digest")).as("n_distinct"))
      .orderBy(col("source"))

  val q33Sql: String =
    """SELECT source, count(*) AS n_payloads,
      | sum(octet_length(encode(text)))::BIGINT AS total_bytes,
      | min(substring(hex(encode(text)), 1, 8)) AS min_header,
      | max(substring(hex(encode(text)), 1, 8)) AS max_header,
      | count(DISTINCT sha256(text)) AS n_distinct
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------- custom expression / UDAF

  /** Q37 — Q23 re-expressed with the interpreted higher-order-function
    * cosine (aggregate + zip_with built-ins): identical results — same
    * sequential accumulation, same oracle — demonstrating that the native
    * codegen Expression the production path uses (q23 et al.) is a pure
    * performance substitution, and that the operator works with zero custom
    * extensions installed.
    */
  def q37CosineTopKHof(spark: SparkSession, dir: String): DataFrame = {
    val e = embDouble(spark, dir)
    val q = e.select(col("vec_id").as("qid"), col("v").as("qv"))
      .filter(col("qid") < 5)
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        r6(cosineHof(col("qv"), col("v"))).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("rnk"), col("vec_id"), col("sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Q38 — typed UDAF (Aggregator) demonstration: per-event-type numeric
    * summary in ONE partial-aggregable pass (map-side combine; one buffer
    * per group crosses the shuffle).
    */
  def q38UdafSummary(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    spark.read.parquet(s"$dir/events.parquet")
      .groupBy(col("event_type"))
      .agg(expr("num_summary(value)").as("s"))
      .select(
        col("event_type"),
        col("s.n").as("n"),
        floor(col("s.sum") * lit(100.0) + lit(0.5)).as("sum_v"),
        col("s.min").as("min_v"),
        col("s.max").as("max_v"))
      .orderBy(col("event_type"))
  }

  val q38Sql: String =
    """SELECT event_type, count(value) AS n,
      | CAST(floor(sum(value) * 100.0 + 0.5) AS BIGINT) AS sum_v,
      | min(value) AS min_v, max(value) AS max_v
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** name → (query fn, oracle SQL or None). */
  /** Q48 — the PERSISTED IVF index (graft.operators.IvfIndex) serving the
    * q28 workload: built once per scale dir (an index is built once and
    * queried many times — that is its point), probed via manifest part
    * pruning. Identical quantizer init/sample/iterations as q28, so it
    * shares q28's DuckDB oracle and must hash-match it exactly.
    */
  def q48IvfIndex(spark: SparkSession, dir: String): DataFrame =
    q48Search(spark, dir, q48Index(spark, dir))

  /** q48's index, built once per scale dir. */
  private[graft] def q48Index(spark: SparkSession, dir: String): graft.operators.IvfIndex =
    cacheIvf.getOrElseUpdate(dir, {
      val vecs = embDouble(spark, dir).select(col("vec_id"), col("v"))
      // nlist auto-sizes from the corpus count (IvfIndex.autoNlist ~ √n;
      // 500 vectors → the pinned 8-centroid quantizer the oracle expects).
      graft.operators.IvfIndex.build(spark, vecs,
        java.nio.file.Files.createTempDirectory("ivf_q48_").toString)
    })

  /** q48's search over `idx` (the plan specs pass its distributed view). */
  private[graft] def q48Search(spark: SparkSession, dir: String,
      idx: graft.operators.IvfIndex): DataFrame = {
    val q = embDouble(spark, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    idx.search(q, k = 10, nprobe = graft.operators.IvfIndex.autoNprobe(idx.nlist))
  }

  private val cacheIvf =
    scala.collection.concurrent.TrieMap.empty[String, graft.operators.IvfIndex]

  /** Q115 — IVFADC ANN serve (Jégou et al. 2011 — the composition of the
    * q28/q48 IVF half and the q109 PQ half, which each cite it): the
    * coarse quantizer prunes WHICH rows are read (nprobe/nlist of the
    * parts, via manifest pruning), the per-row PQ code shrinks what each
    * read row COSTS (m table lookups instead of d multiplies), and exact
    * cosines touch only the ADC shortlist. Rows-only like q109 (an ANN
    * shortlist is engine-specific); IvfIndexSpec bounds recall ≥ 0.8@10
    * against exact, proves the full-probe/full-shortlist degenerate case
    * EQUAL to exact search, and pins both the part pruning and the
    * exact-rerank row bound.
    */
  def q115IvfAdc(spark: SparkSession, dir: String): DataFrame = {
    val idx = cacheIvfAdc.getOrElseUpdate(dir, {
      val vecs = embDouble(spark, dir).select(col("vec_id"), col("v"))
      graft.operators.IvfIndex.buildAdc(spark, vecs,
        java.nio.file.Files.createTempDirectory("ivfadc_q115_").toString)
    })
    val e = embDouble(spark, dir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // Shortlist scales with the probed fraction of the corpus (20%,
    // floored) — the q109 rule applied to the probed subset.
    val shortlist = math.max(50L, e.count() / 5).toInt
    idx.searchAdc(q, k = 10,
      nprobe = graft.operators.IvfIndex.autoNprobe(idx.nlist), shortlist)
  }

  private val cacheIvfAdc =
    scala.collection.concurrent.TrieMap.empty[String, graft.operators.IvfIndex]

  /** Q56 — eval-set contamination check (the train/test leakage pass every
    * LLM pipeline runs before training): a small benchmark-snippet set is
    * checked for VERBATIM occurrence inside every training document. The
    * eval set (deterministically derived here: a 30-char window of every
    * 25th doc) is broadcast; the corpus streams through a
    * BroadcastNestedLoopJoin with an instr() predicate — scanned once,
    * never shuffled, never corpus×corpus: the right shape for a benchmark
    * suite of thousands of snippets against 100 TB of training data. (For
    * LARGE eval sets, prefilter candidates with the shared-shingle
    * equi-join machinery of q26 before the verbatim verify.)
    */
  def q56Contamination(spark: SparkSession, dir: String): DataFrame =
    contamination(spark, dir, prefilter = true)

  /** Contamination check (does any corpus document contain an eval-set
    * snippet verbatim?) in two shapes sharing one exact verification:
    *
    * `prefilter = false` — the direct form: one corpus scan against the
    * BROADCAST eval set, `instr` per (doc, snippet). O(corpus × evalSet)
    * substring searches; right only while the eval set is tiny.
    *
    * `prefilter = true` (the default, and the 100 TB path) — a word-bigram
    * anchor prefilter in front of the same `instr` verification. If a doc
    * contains a snippet as a substring, every INTERIOR token of the snippet
    * (not the first or last, which the fixed-offset cut may truncate
    * mid-word) appears space-delimited in the doc, and consecutive interior
    * tokens stay consecutive — so the doc's word-bigram stream must contain
    * the snippet's first interior bigram. Candidate generation is therefore
    * a BROADCAST equi-join of the exploded corpus bigrams against the
    * per-snippet anchor: the corpus is scanned once, never shuffled, and
    * per-doc work is O(tokens) instead of O(evalSet) substring searches.
    * Candidates (tiny) are exact-verified with the same `instr`, so the
    * prefilter can only lose rows, never invent them — and it loses none,
    * proven against the direct form in PipelineQueriesSpec. Snippets with
    * fewer than 4 tokens (no 2 interior tokens to anchor on) fall back to
    * the direct form; a boilerplate-heavy corpus would additionally cap
    * hot anchors exactly as q26's maxShingleFreq does.
    */
  def contamination(spark: SparkSession, dir: String,
      prefilter: Boolean): DataFrame = {
    val d = docsSpread(spark, dir)
    val evalSet = d
      .filter(col("doc_id") % 25 === 3 && col("n_chars") >= 60)
      .select(col("doc_id").as("eval_id"),
        substring(col("text"), 11, 30).as("snippet"))
    def direct(es: DataFrame): DataFrame =
      d.join(broadcast(es), instr(col("text"), col("snippet")) > 0)
        .select(col("doc_id"), col("eval_id"))
    if (!prefilter) return direct(evalSet).orderBy(col("doc_id"), col("eval_id"))

    val toks = split(col("snippet"), " ")
    val anchored = evalSet.withColumn("nt", size(toks))
    val withAnchor = anchored.filter(col("nt") >= 4)
      .select(col("eval_id"), col("snippet"),
        concat_ws(" ", toks.getItem(1), toks.getItem(2)).as("anchor"))
    // Corpus bigrams stay map-side: explode feeds the broadcast join
    // directly (no distinct — dedup happens on the tiny candidate pairs).
    val ws = tokens
    val bigrams = transform(
      sequence(lit(1), greatest(lit(1), size(ws) - lit(1))),
      i => concat_ws(" ", slice(ws, i, lit(2))))
    val cand = d.select(col("doc_id"), explode(bigrams).as("anchor"))
      .join(broadcast(withAnchor), Seq("anchor"))
      .select(col("doc_id"), col("eval_id"), col("snippet"))
      .distinct()
    val verified = cand
      .join(d.select(col("doc_id"), col("text")), Seq("doc_id"))
      .filter(instr(col("text"), col("snippet")) > 0)
      .select(col("doc_id"), col("eval_id"))
    // Short snippets (< 4 tokens) can't anchor; route the few through the
    // direct form. The count is one scalar over the (small) eval set.
    val short = anchored.filter(col("nt") < 4).select(col("eval_id"), col("snippet"))
    val result = if (short.isEmpty) verified else verified.union(direct(short))
    result.orderBy(col("doc_id"), col("eval_id"))
  }

  val q56Sql: String =
    """WITH eval AS (SELECT doc_id AS eval_id, substr(text, 11, 30) AS snippet
      |  FROM documents WHERE doc_id % 25 = 3 AND n_chars >= 60)
      |SELECT d.doc_id, e.eval_id FROM documents d, eval e
      |WHERE instr(d.text, e.snippet) > 0
      |ORDER BY d.doc_id, e.eval_id""".stripMargin

  /** Q94 — PII detection + redaction (the scrub every training pipeline runs
    * before release): regex-match emails and phone-like numbers, count
    * per-document hits, and measure the corpus after masking. The synthetic
    * corpus contains no PII, so a deterministic planting step (same
    * expression in both engines: every 7th doc gains one email + one phone)
    * makes the detector measurable — the operator under test is the regex
    * scan/mask itself, a single embarrassingly-parallel pass with only the
    * tiny per-lang aggregate shuffled. Patterns use the conservative
    * character-class subset that parses identically in Java regex (Spark)
    * and RE2 (DuckDB); DuckDB's regexp_replace needs the explicit 'g' flag
    * to match Spark's replace-all.
    */
  def q94PiiRedaction(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "[0-9]{3}-[0-9]{4}"
    val planted = docsSpread(spark, dir).select(col("lang"),
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-01"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0"), lit(" now")))
        .otherwise(col("text")).as("text2"))
    val per = planted.select(col("lang"),
      regexp_count(col("text2"), lit(emailRe)).cast("long").as("ne"),
      regexp_count(col("text2"), lit(phoneRe)).cast("long").as("np"),
      length(regexp_replace(regexp_replace(col("text2"), emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>")).cast("long").as("len_red"))
    per.groupBy(col("lang"))
      .agg(sum(when(col("ne") + col("np") > 0, 1L).otherwise(0L)).as("docs_flagged"),
        sum(col("ne")).as("emails"),
        sum(col("np")).as("phones"),
        sum(col("len_red")).as("redacted_chars"))
      .orderBy(col("lang"))
  }

  val q94Sql: String =
    """WITH planted AS (
      |  SELECT lang, CASE WHEN doc_id % 7 = 0 THEN
      |      text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |      '@example.com or 555-01' ||
      |      lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' now'
      |    ELSE text END AS text2
      |  FROM documents),
      |per AS (
      |  SELECT lang,
      |    len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
      |    len(regexp_extract_all(text2, '[0-9]{3}-[0-9]{4}')) AS np,
      |    length(regexp_replace(regexp_replace(text2,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS len_red
      |  FROM planted)
      |SELECT lang,
      |  CAST(sum(CASE WHEN ne + np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged,
      |  CAST(sum(ne) AS BIGINT) AS emails,
      |  CAST(sum(np) AS BIGINT) AS phones,
      |  CAST(sum(len_red) AS BIGINT) AS redacted_chars
      |FROM per GROUP BY lang ORDER BY lang""".stripMargin

  /** Q95 — repetition quality signals (the Gopher/MassiveText-style filters
    * that drop degenerate machine-generated text): per document, total vs
    * distinct tokens and the most-repeated word bigram's share of all
    * bigrams. Aggregated per language as EXACT integer sums plus the
    * worst-document top-bigram share in parts-per-million via integer
    * division — no cross-row double reduction anywhere, so the oracle hash
    * is stable by construction. The top-bigram count is computed map-side
    * ([[topRunOf]]): per-(doc, bigram) rows never cross a shuffle, so
    * the only shuffle in the whole query is the 5-group per-lang rollup —
    * at corpus scale the signal extraction is embarrassingly parallel.
    */
  def q95Repetition(spark: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(spark, dir)
    val ws = tokens
    // bt = |bigrams| = max(1, n-1) by construction — derived arithmetically;
    // tb is the fused codegen top_bigram_run over the token array (no
    // bigram strings are ever built — see topRunOf).
    d.select(col("lang"),
        size(ws).cast("long").as("n"),
        size(array_distinct(ws)).cast("long").as("dn"),
        topRunOf(ws).as("tb"),
        greatest(lit(1L), size(ws).cast("long") - lit(1L)).as("bt"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n")).as("tokens"),
        sum(col("dn")).as("distinct_tokens"),
        sum(col("bt")).as("bigrams"),
        sum(col("tb")).as("top_bigram_hits"),
        max(expr("(tb * 1000000L) div bt")).as("worst_top_bigram_ppm"))
      .orderBy(col("lang"))
  }

  val q95Sql: String =
    """WITH toks AS (
      |  SELECT lang, doc_id, string_split(text, ' ') AS ws FROM documents),
      |bgx AS (
      |  SELECT lang, doc_id,
      |    array_to_string(ws[i:i+1], ' ') AS bg
      |  FROM (SELECT lang, doc_id, ws,
      |          unnest(generate_series(1, greatest(1, len(ws) - 1))) AS i
      |        FROM toks)),
      |bgc AS (
      |  SELECT lang, doc_id, bg, count(*) AS c FROM bgx GROUP BY 1, 2, 3),
      |bgd AS (
      |  SELECT lang, doc_id, max(c) AS tb, sum(c) AS bt FROM bgc GROUP BY 1, 2),
      |tkd AS (
      |  SELECT lang, doc_id, len(ws) AS n, len(list_distinct(ws)) AS dn FROM toks)
      |SELECT t.lang,
      |  CAST(count(*) AS BIGINT) AS docs,
      |  CAST(sum(t.n) AS BIGINT) AS tokens,
      |  CAST(sum(t.dn) AS BIGINT) AS distinct_tokens,
      |  CAST(sum(b.bt) AS BIGINT) AS bigrams,
      |  CAST(sum(b.tb) AS BIGINT) AS top_bigram_hits,
      |  CAST(max((b.tb * 1000000) // b.bt) AS BIGINT) AS worst_top_bigram_ppm
      |FROM tkd t JOIN bgd b USING (lang, doc_id)
      |GROUP BY t.lang ORDER BY t.lang""".stripMargin

  /** Q57 — blocklist redaction pass (the contraband-term scrub a training
    * pipeline runs before the tokenizer): per language, count documents
    * containing any blocked phrase, total occurrences (exact, via
    * length-delta / phrase-length — portable integer arithmetic in both
    * engines), and the corpus size after replacing each occurrence with a
    * fixed mask. Embarrassingly parallel single scan — no shuffle beyond
    * the per-lang aggregate.
    */
  def q57Blocklist(spark: SparkSession, dir: String): DataFrame = {
    val p1 = "merge part"; val p2 = "hash scan"
    val d = docs(spark, dir).select(col("lang"), col("text"),
      expr(s"replace(replace(text, '$p1', '[X]'), '$p2', '[X]')").as("red"),
      ((length(col("text")) - length(expr(s"replace(text, '$p1', '')")))
        / p1.length).cast("long").as("h1"),
      ((length(col("text")) - length(expr(s"replace(text, '$p2', '')")))
        / p2.length).cast("long").as("h2"))
    d.groupBy(col("lang"))
      .agg(
        sum(when(col("h1") + col("h2") > 0, 1L).otherwise(0L)).as("docs_flagged"),
        sum(col("h1") + col("h2")).as("occurrences"),
        sum(length(col("red"))).cast("long").as("redacted_chars"))
      .orderBy(col("lang"))
  }

  val q57Sql: String =
    """SELECT lang,
      | CAST(sum(CASE WHEN h1 + h2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged,
      | CAST(sum(h1 + h2) AS BIGINT) AS occurrences,
      | CAST(sum(length(red)) AS BIGINT) AS redacted_chars
      |FROM (
      |  SELECT lang,
      |    replace(replace(text, 'merge part', '[X]'), 'hash scan', '[X]') AS red,
      |    CAST((length(text) - length(replace(text, 'merge part', ''))) / 10 AS BIGINT) AS h1,
      |    CAST((length(text) - length(replace(text, 'hash scan', ''))) / 9 AS BIGINT) AS h2
      |  FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Q63 — ClickHouse `topK(50)`: heavy-hitter terms over the exploded
    * document tokens via the SpaceSaving UDAF (TopKAggregator). The sketch
    * buffer is O(capacity), so the shuffle moves ONE 4096-counter map per
    * partition instead of the term dictionary — the bounded-memory shape
    * that survives an unbounded vocabulary at 100 TB. On this corpus the
    * distinct-term count is below capacity on every partial path, so the
    * sketch is provably exact and the DuckDB exact top-k can oracle-check
    * it hash-identically (approximation behavior is spec-tested separately
    * with a tiny capacity; see GraftFunctionsSpec).
    */
  def q63TopkTerms(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .agg(expr("topk_approx(term)").as("tk"))
      .select(explode(col("tk")).as("tc"))
      .select(col("tc.term").as("token"), col("tc.cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
  }

  val q63Sql: String =
    """SELECT token, count(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token
      |ORDER BY cnt DESC, token
      |LIMIT 50""".stripMargin

  /** Q85 — ClickHouse `topKWeighted(50)(term, w)`: heavy hitters where each
    * occurrence contributes a weight instead of 1 (the "token count scaled
    * by document importance" shape). Same SpaceSaving sketch and
    * exactness-when-no-eviction argument as q63 — the DuckDB oracle is the
    * exact weighted GROUP BY, which the sketch matches because the corpus
    * dictionary fits the 4096 capacity on every partial path.
    */
  def q85TopkWeighted(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"),
        (col("doc_id") % 3 + 1).cast("long").as("w"))
      .agg(expr("topk_weighted(term, w)").as("tk"))
      .select(explode(col("tk")).as("tc"))
      .select(col("tc.term").as("token"), col("tc.cnt").as("wcnt"))
      .orderBy(col("wcnt").desc, col("token"))
  }

  val q85Sql: String =
    """SELECT token, sum(w)::BIGINT AS wcnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS token,
      |        doc_id % 3 + 1 AS w
      |      FROM documents)
      |GROUP BY token
      |ORDER BY wcnt DESC, token
      |LIMIT 50""".stripMargin

  /** Q62 — deterministic stratified sampling: rebalance a training mix by
    * downsampling over-represented strata (en → 1/8, everything else →
    * 1/2) with an md5-of-doc_id keep rule. Hash-based, not rand(): the
    * sample is reproducible across runs, engines, partitionings, and
    * retries — the property a 100 TB pipeline needs so a re-run of one
    * failed task does not change the dataset. Embarrassingly parallel
    * (scan-side hash + compare, no shuffle before the sample).
    */
  def q62StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val keep = substring(md5(col("doc_id").cast("string")), 1, 2) <
      when(col("lang") === "en", lit("20")).otherwise(lit("80"))
    docs(spark, dir)
      .filter(keep)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val q62Sql: String =
    """SELECT doc_id, lang FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      |  CASE WHEN lang = 'en' THEN '20' ELSE '80' END
      |ORDER BY doc_id""".stripMargin

  /** Q67 — document packing (training-sequence construction): assign whole
    * documents to ~2048-token sequences by cumulative-offset binning, per
    * language shard. seq_id = floor(start_offset / target) over a
    * deterministic doc order — the distributed analogue of greedy packing:
    * each shard's running token count is one window (parallel across
    * shards, which is exactly how a packer shards work at 100 TB — the
    * global-order variant would funnel everything through one partition).
    * The plan output (which docs form which sequence, how full each is) is
    * what a writer materializes into shards.
    */
  def q67Packing(spark: SparkSession, dir: String): DataFrame = {
    val target = 2048
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, dir)
      .select(col("lang"), col("doc_id"), size(split(col("text"), " ")).as("toks"))
      .withColumn("cum", sum("toks").over(w))
      .withColumn("seq_id", floor((col("cum") - col("toks")) / target).cast("long"))
      .groupBy(col("lang"), col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("toks").cast("long").as("seq_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy(col("lang"), col("seq_id"))
  }

  val q67Sql: String =
    """WITH toks AS (
      |  SELECT lang, doc_id, len(string_split(text, ' ')) AS toks FROM documents),
      |offs AS (
      |  SELECT lang, doc_id, toks,
      |    sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM toks)
      |SELECT lang, CAST(floor((cum - toks) / 2048) AS BIGINT) AS seq_id,
      | count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS seq_tokens,
      | min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM offs GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin

  /** Q96 — quality-filter VERDICTS (the actual keep/drop decision a
    * FineWeb/Gopher-style cleaning pass makes): q30/q95 compute signals;
    * this fuses them through calibrated thresholds into a per-document
    * reason BITMASK (1 = too short, 2 = mean word length out of band,
    * 4 = low token diversity, 8 = repeated top bigram, 16 = no stopwords
    * for the document's own language), then reports corpus composition per
    * (lang, reasons) — reasons = 0 is the surviving training set. Every
    * ratio is integer parts-per-million via int64 division, so both engines
    * compare identical integers (no double thresholds anywhere). The bigram
    * profile is computed map-side ([[topRunOf]]), so the whole verdict
    * pass is a single embarrassingly-parallel scan feeding one tiny
    * (lang, reasons) aggregate.
    */
  /** The q96 keep/drop reason bitmask over the signal columns
    * (n, dn, wchars, stops, tb, bt) — ONE definition shared by q96 and the
    * q117 composition, so the thresholds the two oracles depend on cannot
    * drift. All integer ppm arithmetic; reasons = 0 is the training set.
    */
  private def verdictReasons: Column =
    when(col("n") < 25, 1).otherwise(0) +
    when(expr("wchars * 1000000 div n") < 4000000L ||
         expr("wchars * 1000000 div n") > 5000000L, 2).otherwise(0) +
    when(expr("dn * 1000000 div n") < 350000L, 4).otherwise(0) +
    when(expr("tb * 1000000 div bt") > 80000L, 8).otherwise(0) +
    when(col("stops") === 0L, 16).otherwise(0)

  /** THE verdict signal spellings, shared by the latin (q96/q117), mixed
    * (q124), and routed (q125) verdict paths — the tokenizer-independent
    * four (n, dn, tb, bt) over any token array plus the per-branch wchars
    * and stop-rule columns, in the (n, dn, wchars, stops, tb, bt) order
    * [[verdictReasons]]/[[verdictReasonsMixed]] consume. One spelling:
    * a threshold-critical tweak lands in every verdict path at once.
    */
  private def signalCols(ws: Column, wchars: Column, stops: Column): Seq[Column] =
    Seq(size(ws).cast("long").as("n"),
      size(array_distinct(ws)).cast("long").as("dn"),
      wchars.cast("long").as("wchars"),
      stops.cast("long").as("stops"),
      topRunOf(ws).as("tb"),
      greatest(lit(1L), size(ws).cast("long") - lit(1L)).as("bt"))

  /** Latin wchars: raw non-space chars of the text (the q96 spelling). */
  private def latinWchars: Column =
    length(regexp_replace(col("text"), " ", ""))

  /** Latin stop rule: the document's OWN language's stop list (q96). */
  private def latinStopsOf(ws: Column): Column =
    StopwordLists.foldRight(lit(0): Column) {
      case ((l, words), acc) =>
        when(col("lang") === l, stopScore(ws, words)).otherwise(acc)
    }

  /** The q96 per-document signal columns over a documents frame — shared
    * with q117. Emits (lang, doc_id, text, n, dn, wchars, stops, tb, bt).
    */
  private def verdictSignals(d: DataFrame): DataFrame = {
    val ws = tokens
    d.select(Seq(col("lang"), col("doc_id"), col("text")) ++
      signalCols(ws, latinWchars, latinStopsOf(ws)): _*)
  }

  def q96QualityVerdicts(spark: SparkSession, dir: String): DataFrame =
    // THE shared signal + bitmask definitions (verdictSignals /
    // verdictReasons) — q117's stage 2 calls the identical code, so the
    // composition's survivor set can never drift from these verdicts.
    verdictSignals(docsSpread(spark, dir))
      .select(col("lang"), verdictReasons.as("reasons"), col("n"))
      .groupBy(col("lang"), col("reasons"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"))
      .orderBy(col("lang"), col("reasons"))

  val q96Sql: String = {
    val stopCase = StopwordLists.map { case (l, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      s"WHEN '$l' THEN len(list_filter(ws, x -> x IN ($inList)))"
    }.mkString(" ")
    s"""WITH toks AS (
       |  SELECT lang, doc_id, string_split(text, ' ') AS ws,
       |    length(replace(text, ' ', '')) AS wchars FROM documents),
       |bgx AS (
       |  SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bg
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, greatest(1, len(ws) - 1))) AS i
       |        FROM toks)),
       |bgc AS (SELECT doc_id, bg, count(*) AS c FROM bgx GROUP BY 1, 2),
       |bgd AS (SELECT doc_id, max(c) AS tb, sum(c) AS bt FROM bgc GROUP BY 1),
       |sig AS (
       |  SELECT lang, doc_id, len(ws) AS n, len(list_distinct(ws)) AS dn,
       |    wchars, CASE lang $stopCase ELSE 0 END AS stops
       |  FROM toks),
       |r AS (
       |  SELECT lang, n,
       |    (CASE WHEN n < 25 THEN 1 ELSE 0 END) +
       |    (CASE WHEN wchars * 1000000 // n < 4000000
       |       OR wchars * 1000000 // n > 5000000 THEN 2 ELSE 0 END) +
       |    (CASE WHEN dn * 1000000 // n < 350000 THEN 4 ELSE 0 END) +
       |    (CASE WHEN tb * 1000000 // bt > 80000 THEN 8 ELSE 0 END) +
       |    (CASE WHEN stops = 0 THEN 16 ELSE 0 END) AS reasons
       |  FROM sig JOIN bgd USING (doc_id))
       |SELECT lang, CAST(reasons AS INTEGER) AS reasons,
       |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS tokens
       |FROM r GROUP BY lang, reasons ORDER BY lang, reasons""".stripMargin
  }

  /** Q124 — MULTILINGUAL quality verdicts: the q96 keep/drop bitmask
    * re-expressed over the CJK-aware mixed token array
    * ([[graft.operators.InvertedIndex.mixedTokens]]). The q96 verdict
    * tokenizes whitespace words — on real CJK text (no spaces) every
    * signal collapses to zero and the gate silently drops the slice that
    * needs cleaning most; this was the last latin-only cleaning operator
    * (q118–q123 covered the other five signals in round 11).
    *
    * The five reason bits, recalibrated for the mixed token space:
    *   1  — n < 25 mixed tokens (a Han run of c chars yields c−1 bigram
    *        tokens, so the threshold is script-comparable);
    *   2  — mean TOKEN length outside [2.0, 8.0] (vs the latin 4.0–5.0
    *        band over raw non-space chars): CJK bigrams are exactly 2.0
    *        chars and surviving latin tokens ≥ 3, so the band admits both
    *        scripts while still catching run-on garbage. wchars is
    *        Σ|token| — raw text chars would double-count the chars the
    *        tokenizer bigram-overlapped;
    *   4  — token diversity < 35% (unchanged: bigram diversity is the
    *        standard CJK repetition proxy);
    *   8  — top token-bigram share > 8% (unchanged geometry);
    *   16 — no stopword evidence in ANY supported language: a token in
    *        the ≥3-char union of the latin stop lists (mixedTokens drops
    *        shorter words) or CONTAINING a Han function char
    *        (的是了在我不 ride inside bigrams on real CJK text).
    *        Deliberately LANG-AGNOSTIC, unlike q96's per-label lists: at
    *        100 TB the lang column is lang-ID output and noisy — a
    *        zh-labeled doc that is actually English (this synthetic
    *        corpus!) or a CJK doc quoting latin text must not be nuked by
    *        a script-specific gate; a doc with no function words in any
    *        supported language is gibberish in all of them.
    *
    * Same q114/q118 testdata caveat: the synthetic corpus is 100% ASCII,
    * so the oracle pins cross-engine parity of the full routed expression
    * tree; real-CJK reason-bit behavior (bigram counts, Han stop chars,
    * band membership) is pinned on hand-computed fixtures in
    * PipelineQueriesSpec. Shape: identical to q96 — signals and bitmask
    * are one embarrassingly-parallel scan (bigram run computed map-side by
    * [[topRunOf]]) feeding one tiny (lang, reasons) aggregate.
    */
  private val MixedLatinStops: Seq[String] =
    StopwordLists.filter(_._1 != "zh").flatMap(_._2)
      .filter(_.length >= 3).distinct.sorted

  private val HanStopChars: String = StopwordLists.toMap.apply("zh").mkString

  private def mixedStopScore(ws: Column): Column =
    size(filter(ws, t =>
      t.isin(MixedLatinStops: _*) || t.rlike(s"[$HanStopChars]")))

  /** DuckDB spelling of [[mixedStopScore]] over a `ws` column — shared by
    * the q124 and q125 oracles.
    */
  private val MixedStopsSql: String = {
    val inList = MixedLatinStops.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(ws, x -> x IN ($inList) " +
      s"OR regexp_matches(x, '[$HanStopChars]')))"
  }

  /** Mixed wchars: Σ|token| over the mixed array — raw text chars would
    * double-count the chars the tokenizer bigram-overlapped (q124).
    */
  private def mixedWcharsOf(ws: Column): Column =
    aggregate(ws, lit(0L), (acc, t) => acc + length(t))

  /** The q124 per-document signal columns — the mixed-tokenizer twin of
    * [[verdictSignals]], through the same [[signalCols]] spellings. Emits
    * (lang, doc_id, text, n, dn, wchars, stops, tb, bt); ws is
    * materialized once per row (mixedTokens costs two regex scans — the
    * latin signals re-derive their cheap split per column instead).
    */
  private def verdictSignalsMixed(d: DataFrame): DataFrame = {
    val withWs = d.select(col("lang"), col("doc_id"), col("text"),
      graft.operators.InvertedIndex.mixedTokens(col("text")).as("ws"))
    val ws = col("ws")
    withWs.select(Seq(col("lang"), col("doc_id"), col("text")) ++
      signalCols(ws, mixedWcharsOf(ws), mixedStopScore(ws)): _*)
  }

  /** The q124 bitmask over [[verdictSignalsMixed]] columns — shared by
    * q124 and the q125 composition. Unlike the latin verdict, n can be 0
    * (a doc of only sub-3-char latin words), so the ppm divisions guard
    * with greatest(n, 1) — spelled identically in the oracles; such docs
    * already trip bit 1.
    */
  private def verdictReasonsMixed: Column =
    when(col("n") < 25, 1).otherwise(0) +
    when(expr("wchars * 1000000 div greatest(n, 1)") < 2000000L ||
         expr("wchars * 1000000 div greatest(n, 1)") > 8000000L, 2).otherwise(0) +
    when(expr("dn * 1000000 div greatest(n, 1)") < 350000L, 4).otherwise(0) +
    when(expr("tb * 1000000 div bt") > 80000L, 8).otherwise(0) +
    when(col("stops") === 0L, 16).otherwise(0)

  def q124MultilingualVerdicts(spark: SparkSession, dir: String): DataFrame =
    verdictSignalsMixed(docsSpread(spark, dir))
      .select(col("lang"), verdictReasonsMixed.as("reasons"), col("n"))
      .groupBy(col("lang"), col("reasons"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"))
      .orderBy(col("lang"), col("reasons"))

  val q124Sql: String =
    s"""WITH d AS (
       |  SELECT lang, doc_id, $MixedToksSql AS ws FROM documents),
       |sig AS (
       |  SELECT lang, doc_id, len(ws) AS n, len(list_distinct(ws)) AS dn,
       |    coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS wchars,
       |    $MixedStopsSql AS stops
       |  FROM d),
       |bgx AS (
       |  SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bg
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, greatest(1, len(ws) - 1))) AS i
       |        FROM d)),
       |bgc AS (SELECT doc_id, bg, count(*) AS c FROM bgx GROUP BY 1, 2),
       |bgd AS (SELECT doc_id, max(c) AS tb, sum(c) AS bt FROM bgc GROUP BY 1),
       |r AS (
       |  SELECT lang, n,
       |    (CASE WHEN n < 25 THEN 1 ELSE 0 END) +
       |    (CASE WHEN wchars * 1000000 // greatest(n, 1) < 2000000
       |       OR wchars * 1000000 // greatest(n, 1) > 8000000 THEN 2 ELSE 0 END) +
       |    (CASE WHEN dn * 1000000 // greatest(n, 1) < 350000 THEN 4 ELSE 0 END) +
       |    (CASE WHEN tb * 1000000 // bt > 80000 THEN 8 ELSE 0 END) +
       |    (CASE WHEN stops = 0 THEN 16 ELSE 0 END) AS reasons
       |  FROM sig JOIN bgd USING (doc_id))
       |SELECT lang, CAST(reasons AS INTEGER) AS reasons,
       |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS tokens
       |FROM r GROUP BY lang, reasons ORDER BY lang, reasons""".stripMargin

  /** Q98 — per-source quota sampling (domain capping): keep at most 10
    * documents per source, chosen by md5(doc_id) order — the standard
    * web-corpus defense against a single domain dominating the training
    * mix. The hash order makes the sample deterministic under retries and
    * independent of physical row order (same property as q62's stratified
    * sampler); the doc_id tiebreak pins md5 collisions. One hash-partition
    * shuffle on source; `WindowGroupLimit` pushes rk <= 10 into the
    * per-group sort, so no group is ever fully sorted at scale.
    */
  def q98DomainQuota(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .orderBy(col("source"), col("rk"))
  }

  val q98Sql: String =
    """WITH rnk AS (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT source, doc_id, n_chars, CAST(rk AS BIGINT) AS rk
      |FROM rnk WHERE rk <= 10 ORDER BY source, rk""".stripMargin

  /** Q102 — weighted MIXTURE RESAMPLING (the data-mixing pass that turns a
    * cleaned corpus into the training distribution — Pile/LLaMA-style
    * per-domain weights): each language carries a mixture weight w; every
    * document is emitted floor(w) times plus one more with probability
    * frac(w), decided by a DETERMINISTIC md5 coin (the q62 trick) so the
    * resample is identical under task retries and across runs — no rand()
    * anywhere. en is downsampled (w=0.5), de/es upsampled (2.25/1.5), fr
    * passes through (1.0), zh is tripled (3.0). The replicated corpus is
    * produced map-side (explode of a per-row sequence, no shuffle); only
    * the per-language audit rollup reported here crosses one. Weights are
    * plan literals; at 100 TB the emitted corpus streams straight to the
    * packer (q67) without materializing.
    */
  /** The q102 per-document copy count (floor(w) + deterministic md5 coin
    * for frac(w)) — ONE definition shared by q102 and the q117 composition.
    */
  private def mixtureCopies: Column = {
    val floorW = when(col("lang") === "en", 0L).when(col("lang") === "de", 2L)
      .when(col("lang") === "es", 1L).when(col("lang") === "fr", 1L).otherwise(3L)
    val thr = when(col("lang") === "en", "800000").when(col("lang") === "de", "400000")
      .when(col("lang") === "es", "800000").otherwise("000000")
    floorW +
      when(substring(md5(col("doc_id").cast("string")), 1, 6) < thr, 1L).otherwise(0L)
  }

  def q102MixtureResample(spark: SparkSession, dir: String): DataFrame = {
    val c = docs(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), mixtureCopies.as("copies"))
    // copies = 0 must be filtered BEFORE the explode: Spark's
    // sequence(1, 0) is the DESCENDING [1, 0], not an empty array.
    val emitted = c.filter(col("copies") > 0)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        explode(sequence(lit(1L), col("copies"))).as("rep"))
    val agg = emitted.groupBy(col("lang")).agg(
      countDistinct(col("doc_id")).as("kept_docs"),
      count(lit(1)).as("emitted_docs"),
      sum(col("n_chars")).as("emitted_chars"))
    c.groupBy(col("lang")).agg(count(lit(1)).as("docs_in"))
      .join(agg, Seq("lang"), "left")
      .select(col("lang"), col("docs_in"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("emitted_docs"), lit(0L)).as("emitted_docs"),
        coalesce(col("emitted_chars"), lit(0L)).as("emitted_chars"))
      .orderBy(col("lang"))
  }

  val q102Sql: String =
    """WITH c AS (
      |  SELECT doc_id, lang, n_chars,
      |    (CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 2
      |      WHEN 'es' THEN 1 WHEN 'fr' THEN 1 ELSE 3 END)
      |    + (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) <
      |        (CASE lang WHEN 'en' THEN '800000' WHEN 'de' THEN '400000'
      |          WHEN 'es' THEN '800000' ELSE '000000' END)
      |      THEN 1 ELSE 0 END) AS copies
      |  FROM documents)
      |SELECT lang,
      |  CAST(count(*) AS BIGINT) AS docs_in,
      |  CAST(sum(CASE WHEN copies > 0 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
      |  CAST(sum(copies) AS BIGINT) AS emitted_docs,
      |  CAST(sum(n_chars * copies) AS BIGINT) AS emitted_chars
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  /** Q103 — N-GRAM-OVERLAP decontamination (the GPT-3/PaLM-style fuzzy
    * check, vs q56's verbatim-substring form): a training doc is flagged
    * against an eval item when they share ≥ 5 distinct token-13-grams —
    * catching paraphrase-adjacent leakage that whitespace or punctuation
    * edits would hide from `instr`. Eval items are token spans [6, 45] of
    * every 25th doc (derived deterministically, like q56's snippets).
    * Scale shape: the eval side's 13-grams are BROADCAST; the corpus's are
    * produced by a map-side explode feeding the broadcast hash join
    * directly — the corpus is scanned once and never shuffled; only the
    * (tiny) colliding (doc, eval) pairs reach the count-distinct
    * aggregate. A boilerplate-heavy corpus would cap hot grams exactly as
    * q26's maxShingleFreq does.
    */
  // 13-gram DIGESTS (r16 introduced the digest keying; r17 fused the
  // per-token hashing + per-position slice fold into the single
  // token_gram_hashes codegen expression — see tokenGramHashes13 above).
  // Digest equality == token-sequence equality == the space-joined gram
  // string equality the oracles spell (the join is a bijection of the
  // token sequence); a cross-doc digest collision is the same accepted
  // ~1e-13 trade the shingle machinery documents.

  /** The q103 eval-item 13-gram side (token spans [6, 45] of every 25th
    * doc, distinct per item) — derived from the FULL corpus, because eval
    * benchmarks are external fixed sets, not part of the cleaned stream.
    * Emits gram DIGESTS (see [[tokenGramHashes13]]).
    */
  private def evalGrams13(spark: SparkSession, dir: String): DataFrame =
    docsSpread(spark, dir).filter(col("doc_id") % 25 === 3)
      .select(col("doc_id").as("eval_id"),
        explode(tokenGramHashes13(slice(tokens, 6, 40))).as("g"))
      .distinct()

  def q103NgramContamination(spark: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(spark, dir)
    val evalGrams = evalGrams13(spark, dir)
    d.select(col("doc_id"), explode(tokenGramHashes13(tokens)).as("g"))
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(countDistinct(col("g")).as("shared_grams"))
      .filter(col("shared_grams") >= 5)
      .orderBy(col("doc_id"), col("eval_id"))
  }

  val q103Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |eg AS (
      |  SELECT DISTINCT t.eval_id, array_to_string(t.sp[i:i+12], ' ') AS g
      |  FROM (SELECT doc_id AS eval_id, ws[6:45] AS sp FROM toks
      |        WHERE doc_id % 25 = 3) t,
      |    UNNEST(generate_series(1, len(t.sp) - 12)) AS u(i)),
      |cg AS (
      |  SELECT doc_id, array_to_string(ws[i:i+12], ' ') AS g
      |  FROM toks, UNNEST(generate_series(1, len(ws) - 12)) AS u(i))
      |SELECT c.doc_id, e.eval_id,
      |  CAST(count(DISTINCT c.g) AS BIGINT) AS shared_grams
      |FROM cg c JOIN eg e USING (g)
      |GROUP BY 1, 2 HAVING count(DISTINCT c.g) >= 5
      |ORDER BY doc_id, eval_id""".stripMargin

  /** Q99 — chunk-level exact deduplication (the paragraph/line-dedup pass
    * of a CCNet-style pipeline, on this corpus's 10-token non-overlapping
    * chunks): every chunk instance after the globally FIRST occurrence
    * (ordered by doc_id, then chunk position) is removable boilerplate.
    * Reports per language how many chunk instances exist, how many
    * dedup away, and the characters saved. The heavy operation is ONE
    * shuffle of (chunk → instances) for the first-occurrence ranking —
    * at 100 TB the chunk string would be replaced by its xxhash64 (the
    * q25 trick) to shuffle 8-byte keys; kept as text here so DuckDB
    * reproduces it exactly.
    */
  /** The non-overlapping 10-token chunk array of a token array — ONE
    * definition shared by every chunk-granularity operator (q99/q108
    * latin, q120/q121 mixed), so the segmentation their oracles spell
    * can never drift between them. sequence(1, 0) would yield the
    * DESCENDING [1, 0] in Spark, not an empty array (DuckDB's
    * generate_series(1, 0) IS empty) — short docs are guarded explicitly.
    */
  private def chunks10(ws: Column): Column = {
    val nch = (size(ws) / lit(10)).cast("int")
    when(nch >= 1,
      transform(sequence(lit(1), nch),
        i => concat_ws(" ", slice(ws, (i - lit(1)) * lit(10) + lit(1), lit(10)))))
      .otherwise(array())
  }

  /** The (digest, char length) pairs of the 10-token chunking as the fused
    * codegen expression — bit-identical to `xxhash64(c)` / `length(c)`
    * over the [[chunks10]] strings (equality pinned in GraftFunctionsSpec)
    * with no chunk string ever built (round-17 optimization). The
    * digest-keyed consumers (q108/q120/q121) route through THIS
    * definition; q99 keeps [[chunks10]] — its window keys on the chunk
    * TEXT, the oracle shape.
    */
  private def chunkDigests10(ws: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.ChunkDigestsExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(ws), 10))

  def q99ChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = chunks10(tokens)
    val inst = docsSpread(spark, dir)
      .select(col("lang"), col("doc_id"), posexplode(chunks).as(Seq("pos", "c")))
    val w = Window.partitionBy(col("c")).orderBy(col("doc_id"), col("pos"))
    inst.withColumn("rn", row_number().over(w))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("chunks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("removed_chunks"),
        sum(when(col("rn") > 1, length(col("c")).cast("long")).otherwise(0L))
          .as("removed_chars"))
      .orderBy(col("lang"))
  }

  val q99Sql: String =
    """WITH toks AS (
      |  SELECT lang, doc_id, string_split(text, ' ') AS ws FROM documents),
      |inst AS (
      |  SELECT lang, doc_id, i AS pos,
      |    array_to_string(ws[(i-1)*10+1:(i-1)*10+10], ' ') AS c
      |  FROM (SELECT lang, doc_id, ws,
      |          unnest(generate_series(1, len(ws) // 10)) AS i
      |        FROM toks)),
      |mk AS (
      |  SELECT lang, c,
      |    row_number() OVER (PARTITION BY c ORDER BY doc_id, pos) AS rn
      |  FROM inst)
      |SELECT lang, CAST(count(*) AS BIGINT) AS chunks,
      |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS removed_chunks,
      |  CAST(sum(CASE WHEN rn > 1 THEN length(c) ELSE 0 END) AS BIGINT) AS removed_chars
      |FROM mk GROUP BY lang ORDER BY lang""".stripMargin

  /** Q108 — BOILERPLATE removal (C4/CCNet line-dedup semantics): chunks
    * whose document frequency reaches 3 are removed from EVERY document —
    * including the first occurrence, which is what distinguishes this from
    * q99's keep-one dedup (a license blurb on 10k pages is noise in all 10k
    * copies, not 9,999 of them). Same 10-word segmentation as q99 (the
    * testdata's documents are single-line, so fixed word windows play the
    * role newline-split paragraphs do on real web text). Shape: map-side
    * chunking → ONE groupBy(chunk) for df (count of DISTINCT docs — a
    * within-doc repeat is not boilerplate evidence) → one equi-join back on
    * the chunk → per-lang rollup. No broadcast of the hot set (it is
    * unbounded at corpus scale) and no driver collection. Both shuffles key
    * on an 8-byte xxhash64 CHUNK DIGEST, never the chunk text — the text's
    * only surviving use (removed_chars) is folded to a length map-side
    * before the exchange, so a shuffled row carries ~30 bytes instead of
    * the ~60-char chunk (the q25 hash-through-shuffle trade). A digest
    * collision would conflate two distinct chunks' document frequencies —
    * ~n²/2⁶⁵ odds, the standard content-digest dedup posture.
    */
  def q108Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val (out, inst) = q108Plan(spark, dir)
    val rows = java.util.Arrays.asList(out.collect(): _*)
    inst.unpersist()
    spark.createDataFrame(rows, out.schema)
  }

  /** The LAZY q108 plan plus its persisted instance table — split out
    * (q117Build pattern) for the PlanAssertionsSpec pin.
    */
  private[graft] def q108Plan(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    // The digest-instance table feeds the df aggregate AND the join back —
    // persist it so the corpus tokenize+chunk explode runs once, not
    // twice (round-16 optimization); released after the per-lang rollup
    // materializes. r17: the (digest, clen) pairs come from the fused
    // chunk_digests expression — no chunk string is ever materialized.
    val inst = docsSpread(spark, dir)
      .select(col("lang"), col("doc_id"), explode(chunkDigests10(tokens)).as("cd"))
      .select(col("lang"), col("doc_id"),
        col("cd.h").as("ch"), col("cd.clen").as("clen"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfc = inst.groupBy(col("ch"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val out = inst.join(dfc.withColumn("boiler", col("df") >= 3).drop("df"), Seq("ch"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("chunks"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("boiler_chunks"),
        sum(when(col("boiler"), col("clen")).otherwise(0L))
          .as("removed_chars"),
        countDistinct(when(col("boiler"), col("doc_id"))).as("docs_affected"))
      .orderBy(col("lang"))
    (out, inst)
  }

  val q108Sql: String =
    """WITH toks AS (
      |  SELECT lang, doc_id, string_split(text, ' ') AS ws FROM documents),
      |inst AS (
      |  SELECT lang, doc_id,
      |    array_to_string(ws[(i-1)*10+1:(i-1)*10+10], ' ') AS c
      |  FROM (SELECT lang, doc_id, ws,
      |          unnest(generate_series(1, len(ws) // 10)) AS i
      |        FROM toks)),
      |dfc AS (SELECT c, count(DISTINCT doc_id) >= 3 AS boiler
      |        FROM inst GROUP BY c)
      |SELECT lang, CAST(count(*) AS BIGINT) AS chunks,
      |  CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS boiler_chunks,
      |  CAST(sum(CASE WHEN boiler THEN length(c) ELSE 0 END) AS BIGINT) AS removed_chars,
      |  CAST(count(DISTINCT CASE WHEN boiler THEN doc_id END) AS BIGINT) AS docs_affected
      |FROM inst JOIN dfc USING (c)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Q109 — PQ-compressed ANN (Jégou et al. 2011 ADC, the second half of
    * the IVFADC pair q28/q48 started): per-subspace codebooks trained on a
    * deterministic sample, the corpus encoded to m=8 4-bit-ish codes by a
    * PURE MAP-SIDE expression (no shuffle — the property that encodes 10¹¹
    * rows as a scan), queries ranked by ADC table lookups, and the top-20%
    * shortlist re-ranked EXACTLY so the output carries true cosines.
    * Rows-only like q27 (an ANN shortlist is engine-specific); recall vs
    * exact q23 is bounded in ProductQuantizerSpec instead (≥0.8@10), and
    * the shortlist=corpus degenerate case is proven EQUAL to exact there.
    */
  private val pqCache = scala.collection.concurrent.TrieMap
    .empty[String, (graft.operators.ProductQuantizer.PqCodebooks, Int)]

  def q109PqAnn(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ProductQuantizer
    val e = embDouble(spark, dir).select(col("vec_id"), col("v"))
    val q = e.select(col("vec_id").as("qid"), col("v").as("qv"))
      .filter(col("qid") < 5)
    // Codebooks train once per corpus (the q48 persisted-index economics —
    // an ANN index is built once, queried forever); the shortlist scales
    // with the corpus (20%, floored): a fixed shortlist stops recalling as
    // n grows — the same rule autoNlist documents.
    val (cb, shortlist) = pqCache.getOrElseUpdate(dir, {
      (ProductQuantizer.train(e, m = 8, k = 16, iters = 2),
        math.max(50L, e.count() / 5).toInt)
    })
    val codes = ProductQuantizer.encode(e, cb)
    ProductQuantizer.adcSearch(q, codes, e, cb, k = 10, shortlist = shortlist)
  }

  /** Q110 — BM25 full-text relevance ranking (Robertson/Spärck Jones, the
    * Lucene-default non-negative idf; k1 = 1.2, b = 0.75): top-15 documents
    * for the query `dup vector merge` (one rare term — df ≈ 5% — against
    * two near-stopwords, so the ranking exercises the idf spread).
    *
    * Shape: groupBy(doc_id) computes the document length AND each query
    * term's tf as conditional aggregates in one pass (no corpus-sized
    * doc-length join); one driver-side stats job folds avgdl and the
    * per-term df out of that same aggregate (≤|terms|+1 scalars — bounded
    * by the query, never the corpus) and inlines them as literals, so the
    * scoring job is scan → tokenize → ONE doc_id exchange → map-side
    * contributions → a score sum that reuses the same partitioning →
    * distributed top-15 (plan-pinned: one hash exchange end to end).
    * Per-term contributions round to integer micro-units BEFORE the sum so
    * the order-sensitive double addition becomes order-independent integer
    * addition (the q20 float discipline, applied to a sum).
    *
    * This is the on-the-fly semantics demo; q111 is the 100 TB path — the
    * same arithmetic served from a persisted inverted index that reads
    * only the query terms' posting lists. Both share this oracle.
    */
  private[graft] val bm25Terms = Seq("dup", "vector", "merge")

  /** The q110 BM25 brute-force shape over an arbitrary (doc_id, term) set:
    * per-doc dl + per-query-term tf in one aggregate, stats folded to
    * driver literals (≤ |terms|+1 scalars), map-side contributions, score
    * sum on the reused doc_id partitioning, distributed top-k. Shared by
    * q110 (latin tokenizer, whole corpus) and q114 (multilingual
    * tokenizer, zh slice).
    */
  private def bm25Brute(d: DataFrame, terms: DataFrame,
      queryTerms: Seq[String], k: Int): DataFrame = {
    val (out, perDoc) = bm25BrutePlan(d, terms, queryTerms, k)
    // Materialize the k-row answer, then release the cached per-doc
    // aggregate — repeated invocations must not accrete caches.
    val rows = java.util.Arrays.asList(out.collect(): _*)
    perDoc.unpersist()
    d.sparkSession.createDataFrame(rows, out.schema)
  }

  /** The LAZY q110/q114 scoring plan plus its persisted per-doc frame —
    * split out (q117Build pattern) so PlanAssertionsSpec can pin the
    * computation's physical plan; the public face collapses to a
    * LocalRelation to release the cache.
    */
  private[graft] def bm25BrutePlan(d: DataFrame, terms: DataFrame,
      queryTerms: Seq[String], k: Int): (DataFrame, DataFrame) = {
    import graft.operators.InvertedIndex
    val nDocs = d.select(countDistinct(col("doc_id"))).first().getLong(0)
    // perDoc (one row per doc: dl + per-query-term tf) is read twice — by
    // the driver-side stats fold below AND by the scoring plan — and each
    // read re-ran the tokenize+explode pass over the corpus. Persist the
    // doc-count-sized aggregate so the corpus is tokenized once (round-16
    // optimization; guide §5 caching).
    val perDoc = terms.groupBy("doc_id").agg(
      count(lit(1)).as("dl"),
      queryTerms.map(t =>
        sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val statsRow = perDoc.agg(
      avg(col("dl")).as("avgdl"),
      queryTerms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t")): _*).first()
    val avgdl = statsRow.getDouble(0)
    val dfs = queryTerms.zipWithIndex
      .map { case (t, i) => t -> statsRow.getLong(i + 1) }.toMap
    val melted = perDoc.select(col("doc_id"), col("dl"),
        explode(map(queryTerms.flatMap(t =>
          Seq(lit(t), col(s"tf_$t"))): _*)).as(Seq("term", "tf")))
      .filter(col("tf") > 0)
    val dfCol = queryTerms.tail.foldLeft(
        when(col("term") === queryTerms.head, lit(dfs(queryTerms.head)))) {
      (acc, t) => acc.when(col("term") === t, lit(dfs(t)))
    }
    val contrib = melted
      .select(col("doc_id"),
        InvertedIndex.bm25Micro(col("tf"), dfCol, col("dl"),
          nDocs, avgdl, k1 = 1.2, b = 0.75).as("c"))
    val scored = contrib.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("c")).as("score"))
    val top = scored.orderBy(col("score").desc, col("doc_id")).limit(k)
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    val out = top.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("rk"), col("doc_id"), col("n_terms"), col("score"))
      .orderBy(col("rk"))
    (out, perDoc)
  }

  def q110Bm25(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    bm25Brute(d, graft.operators.InvertedIndex.tokenize(d), bm25Terms, k = 15)
  }

  /** q110's lazy face for the plan pin (caller unpersists the frame). */
  private[graft] def q110Plan(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val d = docs(spark, dir)
    bm25BrutePlan(d, graft.operators.InvertedIndex.tokenize(d), bm25Terms, k = 15)
  }

  val q110Sql: String =
    """WITH terms AS (
      |  SELECT doc_id, t.term FROM documents,
      |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
      |  WHERE len(t.term) >= 3),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM terms
      |  WHERE term IN ('dup', 'vector', 'merge') GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id),
      |stats AS (SELECT avg(dl) AS avgdl FROM dl),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |contrib AS (
      |  SELECT tf.doc_id, CAST(floor(
      |      ln((n.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |        * (tf.tf * (1.2 + 1.0))
      |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
      |        * 1000000.0 + 0.5) AS BIGINT) AS c
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
      |    CROSS JOIN stats CROSS JOIN n),
      |scored AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |    CAST(sum(c) AS BIGINT) AS score
      |  FROM contrib GROUP BY doc_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
      |  FROM scored)
      |SELECT CAST(rk AS BIGINT) AS rk, doc_id, n_terms, score
      |FROM ranked WHERE rk <= 15 ORDER BY rk""".stripMargin

  /** Q111 — the q110 BM25 query served from the PERSISTED inverted index
    * ([[graft.operators.InvertedIndex]]): postings live as MergeTree parts
    * keyed by term-hash bucket, the probe rangeScans only the query terms'
    * buckets (manifest part pruning — the engine reads |query buckets| of
    * nbuckets lists), df comes from the matched lists themselves, and the
    * denormalized per-posting document length kills the corpus-sized
    * doc-length join q110 tokenizes around. Same oracle as q110: the index
    * must reproduce the on-the-fly ranking bit for bit.
    */
  def q111Bm25Index(spark: SparkSession, dir: String): DataFrame =
    invIndexOf(spark, dir).search(bm25Terms, k = 15)

  /** The document inverted index of q111/q112/q126, built once per corpus
    * dir.
    */
  private[graft] def invIndexOf(spark: SparkSession, dir: String)
      : graft.operators.InvertedIndex =
    cacheInv.getOrElseUpdate(dir,
      graft.operators.InvertedIndex.build(spark, docs(spark, dir),
        java.nio.file.Files.createTempDirectory("inv_idx_").toString))

  private val cacheInv =
    scala.collection.concurrent.TrieMap.empty[String, graft.operators.InvertedIndex]

  /** Q112 — exact PHRASE search over the positional inverted index: top
    * documents by occurrence count of the consecutive-token phrase
    * `table scan merge`. Adjacency is defined on the raw split array
    * (token-space adjacency == text adjacency — the split eats every
    * non-letter run whole), which is exactly what the oracle recomputes
    * from the corpus text with generate_subscripts; the engine instead
    * folds position-list intersections over bucket-pruned postings and
    * never reads the corpus. Three terms on purpose: the fold must chain,
    * not just pairwise-join.
    */
  def q112PhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    invIndexOf(spark, dir).phraseSearch(Seq("table", "scan", "merge"), k = 15)
  }

  val q112Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, generate_subscripts(lst, 1) AS pos, unnest(lst) AS term
      |  FROM (SELECT doc_id,
      |          string_split_regex(lower(text), '[^a-z]+') AS lst
      |        FROM documents) s),
      |t0 AS (SELECT doc_id, pos FROM toks WHERE term = 'table'),
      |t1 AS (SELECT doc_id, pos FROM toks WHERE term = 'scan'),
      |t2 AS (SELECT doc_id, pos FROM toks WHERE term = 'merge'),
      |occ AS (
      |  SELECT t0.doc_id, CAST(count(*) AS BIGINT) AS n_occ
      |  FROM t0
      |    JOIN t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
      |    JOIN t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2
      |  GROUP BY t0.doc_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY n_occ DESC, doc_id) AS rk
      |  FROM occ)
      |SELECT CAST(rk AS BIGINT) AS rk, doc_id, n_occ
      |FROM ranked WHERE rk <= 15 ORDER BY rk""".stripMargin

  /** Q113 — LM-perplexity quality scoring (the CCNet-style filter every
    * production corpus pipeline runs): an add-one-smoothed bigram language
    * model is trained on the corpus itself (real CCNet trains on a clean
    * reference corpus — same machinery, different training input) and
    * every document is scored by its average per-bigram log-probability;
    * the worst 15 (most "surprising" = junk candidates) rank out.
    *
    *   lp(w1,w2) = ln((c(w1,w2) + 1) / (c(w1·) + V))
    *
    * with c(w1·) = Σ_w2 c(w1,w2) (derived FROM the bigram table, no second
    * corpus aggregate) and V = |distinct w1| — both spelled identically in
    * the oracle. Per-bigram lps round to integer micro-units before the
    * per-doc sum (the q110 order-independence discipline), and the per-doc
    * average is an integer floor of an exact-long-over-long division.
    *
    * Shape: bigram instances are built MAP-SIDE from the filtered token
    * array (no position join); the LM tables are corpus-REDUCED aggregates
    * (vocab²-bounded) that AQE broadcasts when small — at 100 TB the
    * instance-side lookup becomes the standard sort-merge LM-scoring join,
    * still aggregate-sized on the build side, never corpus × corpus.
    */
  def q113LmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreWorst15(docsSpread(spark, dir), latinToks)

  /** q113's lazy face for the plan pin (caller unpersists the frame). */
  private[graft] def q113Plan(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    lmScoreWorst15Plan(docsSpread(spark, dir), latinToks)

  /** The latin corpus tokenizer (`filter(split(lower(text), "[^a-z]+"),
    * len >= 3)`) as the fused codegen expression
    * (graft.functions.LatinTokensExpr) — bit-identical to the HOF spelling
    * (equality pinned in GraftFunctionsSpec), without the regex split or
    * the interpreted filter lambda per row (round-17 optimization).
    */
  private def latinToks: Column =
    graft.functions.GraftFunctions.latinTokensCol(col("text"))

  /** The q113 add-one-smoothed bigram-LM worst-15 scoring over an
    * arbitrary documents frame and token-array expression — ONE definition
    * shared by q113 (latin tokenizer, whole corpus) and q122 (mixed
    * tokenizer, zh slice), so the smoothing arithmetic and micro-lp
    * rounding their oracles depend on cannot drift between them.
    */
  private def lmScoreWorst15(d: DataFrame, arr: Column): DataFrame = {
    val (out, c2) = lmScoreWorst15Plan(d, arr)
    // Materialize the 15-row answer, then RELEASE the cached bigram
    // counts — repeated invocations must not accrete caches.
    val rows = java.util.Arrays.asList(out.collect(): _*)
    c2.unpersist()
    d.sparkSession.createDataFrame(rows, out.schema)
  }

  /** The LAZY q113/q122 scoring plan plus its persisted bigram-count
    * frame — split out (q117Build pattern) so PlanAssertionsSpec can pin
    * the computation's physical plan; the public face collapses to a
    * LocalRelation to release the cache.
    */
  private[graft] def lmScoreWorst15Plan(d: DataFrame, arr: Column)
      : (DataFrame, DataFrame) = {
    // size >= 2 BEFORE sequence: Spark's sequence(1, 0) counts DOWN.
    val inst = d.select(col("doc_id"), arr.as("lst"))
      .filter(size(col("lst")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("lst")) - 1),
          i => struct(element_at(col("lst"), i).as("w1"),
            element_at(col("lst"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
    // The bigram-count table is read THREE ways (c1 rollup, the vocabulary
    // count action, the scoring join) and each read re-ran the corpus
    // tokenize+explode+aggregate behind it — persist the DISTINCT-bigram
    // aggregate (far smaller than the instance table) so the corpus pass
    // runs twice total (once into this cache, once for the scoring join's
    // instance side) instead of four times (round-16 optimization; guide
    // §5 caching: reused and expensive to recompute).
    val c2 = inst.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val v = c2.select(col("w1")).distinct().count()
    val scored = inst.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col("doc_id"),
        floor(log((col("c2") + lit(1.0)) / (col("c1") + lit(v)))
          * lit(1e6) + lit(0.5)).cast("long").as("lp"))
    val perDoc = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("total_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        floor(col("total_lp").cast("double") / col("n_bigrams") + lit(0.5))
          .cast("long").as("avg_lp_micro"))
    val top = perDoc.orderBy(col("avg_lp_micro").asc, col("doc_id")).limit(15)
    val w = Window.orderBy(col("avg_lp_micro").asc, col("doc_id"))
    val out = top.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("rk"), col("doc_id"), col("n_bigrams"), col("avg_lp_micro"))
      .orderBy(col("rk"))
    (out, c2)
  }

  val q113Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |      t -> len(t) >= 3) AS lst
      |  FROM documents),
      |inst AS (
      |  SELECT doc_id, lst[i] AS w1, lst[i+1] AS w2
      |  FROM d, unnest(generate_series(1, len(lst)-1)) AS s(i)
      |  WHERE len(lst) >= 2),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM inst GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
      |v AS (SELECT count(DISTINCT w1) AS v FROM c2),
      |scored AS (
      |  SELECT inst.doc_id, CAST(floor(
      |      ln((c2.c2 + 1.0) / (c1.c1 + v.v)) * 1000000.0 + 0.5)
      |    AS BIGINT) AS lp
      |  FROM inst JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
      |per_doc AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(floor(CAST(sum(lp) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
      |      AS avg_lp_micro
      |  FROM scored GROUP BY doc_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY avg_lp_micro, doc_id) AS rk
      |  FROM per_doc)
      |SELECT CAST(rk AS BIGINT) AS rk, doc_id, n_bigrams, avg_lp_micro
      |FROM ranked WHERE rk <= 15 ORDER BY rk""".stripMargin

  /** Q114 — MULTILINGUAL BM25 over the zh document slice: the q110
    * arithmetic under the CJK-aware tokenizer
    * ([[graft.operators.InvertedIndex.mixedTokens]] — latin words PLUS
    * Han-script character bigrams, runs bigrammed independently so a
    * bigram never crosses a separator). A real training-data pipeline is
    * multilingual before it is anything else; the latin-only `[^a-z]+`
    * tokenizer every other text operator shares sees zero tokens in
    * space-free CJK text.
    *
    * NOTE on the testdata: the synthetic corpus is 100% ASCII — even the
    * lang='zh' documents carry English words — so on THIS input the Han
    * branch contributes zero tokens and the oracle exercises the
    * engine/DuckDB parity of the full mixed expression tree (both spell
    * the Han-run extraction + bigramming and concat). Real CJK behavior
    * (bigrams, run boundaries, isolated chars, mixed-script docs) is
    * pinned against hand-computed expectations in InvertedIndexSpec.
    */
  def q114MultilingualBm25(spark: SparkSession, dir: String): DataFrame = {
    val zh = docs(spark, dir).filter(col("lang") === "zh")
    bm25Brute(zh, graft.operators.InvertedIndex.tokenizeMixed(zh),
      bm25Terms, k = 15)
  }

  val q114Sql: String =
    """WITH zh AS (SELECT * FROM documents WHERE lang = 'zh'),
      |terms AS (
      |  SELECT doc_id, t.term FROM (
      |    SELECT doc_id, flatten([
      |        list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |          t -> len(t) >= 3),
      |        flatten([CASE WHEN length(r) = 1 THEN [r]
      |                 ELSE [substr(r, i, 2)
      |                       for i in generate_series(1, length(r) - 1)] END
      |                 for r in regexp_extract_all(text, '\p{Han}+')])
      |      ]) AS toks FROM zh) s, unnest(s.toks) AS t(term)),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM terms
      |  WHERE term IN ('dup', 'vector', 'merge') GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id),
      |stats AS (SELECT avg(dl) AS avgdl FROM dl),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM zh),
      |contrib AS (
      |  SELECT tf.doc_id, CAST(floor(
      |      ln((n.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |        * (tf.tf * (1.2 + 1.0))
      |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
      |        * 1000000.0 + 0.5) AS BIGINT) AS c
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
      |    CROSS JOIN stats CROSS JOIN n),
      |scored AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |    CAST(sum(c) AS BIGINT) AS score
      |  FROM contrib GROUP BY doc_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
      |  FROM scored)
      |SELECT CAST(rk AS BIGINT) AS rk, doc_id, n_terms, score
      |FROM ranked WHERE rk <= 15 ORDER BY rk""".stripMargin

  /** Q118 — MULTILINGUAL TF-IDF (q78's cleaning arithmetic under the
    * CJK-aware tokenizer, over the zh slice): per document, the single
    * most characteristic term by tf·idf. The round-10 gap this closes: the
    * search family spoke CJK (q114) but every CLEANING operator was still
    * `[^a-z]+`-blind — on real zh text the latin tokenizer sees zero
    * tokens, so quality signals silently evaporate for the slice that
    * needs them most. Same q114 testdata caveat: the synthetic corpus is
    * 100% ASCII, so the oracle pins cross-engine parity of the FULL mixed
    * expression tree (both engines spell the Han-run extraction +
    * bigramming); real-CJK behavior is pinned in PipelineQueriesSpec
    * fixtures.
    *
    * Scale shape (inherited from q78): tokenization explodes map-side; tf
    * and df are hash aggregates; df collapses to one row per distinct term
    * before joining back; the per-doc top-1 is a WindowGroupLimit on the
    * reused doc_id partitioning.
    */
  def q118MultilingualTfidf(spark: SparkSession, dir: String): DataFrame = {
    val zh = docsSpread(spark, dir).filter(col("lang") === "zh")
    val terms = zh.select(col("doc_id"),
      explode(graft.operators.InvertedIndex.mixedTokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // nDocs folds out of the SAME tf aggregate (a 1-row broadcast, deduped
    // against tf's exchange by ReuseExchange) instead of a second driver
    // scan of the corpus slice — the q110 stats-job discipline. Semantics:
    // nDocs counts documents with ≥ 1 surviving token (the docs idf can
    // ever rank); spelled identically in the oracle's `n` CTE.
    val n = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        floor(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0))
          * lit(1000000.0) + lit(0.5)))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"))
  }

  val q118Sql: String =
    s"""WITH zh AS (SELECT * FROM documents WHERE lang = 'zh'),
      |terms AS (
      |  SELECT doc_id, t.term FROM (
      |    SELECT doc_id, $MixedToksSql AS toks FROM zh) s,
      |    unnest(s.toks) AS t(term)),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(floor(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0))
      |      * 1000000.0 + 0.5) AS BIGINT) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY tfidf DESC, term) AS rk FROM scored)
      |SELECT doc_id, term, tf, df, tfidf
      |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin

  /** Q119 — MULTILINGUAL repetition scoring (q95's shape under the mixed
    * tokenizer, zh slice, per-source): token/distinct-token counts and the
    * worst top-bigram share, where "bigram" means consecutive entries of
    * the MIXED token array — on real CJK text those are consecutive
    * character-bigram pairs, exactly the repeated-phrase signal the latin
    * tokenizer can't see. Docs under 2 tokens carry no bigram evidence and
    * are excluded (spelled identically in the oracle).
    *
    * Engine side measures the top run via sorted xxhash64 run-length (the
    * q95 trade: fixed-width longs through the sort instead of strings);
    * the oracle computes the exact max count — identical modulo the
    * documented ~k²/2⁶⁵ within-doc collision odds.
    */
  def q119MultilingualRepetition(spark: SparkSession, dir: String): DataFrame = {
    val ws0 = graft.operators.InvertedIndex.mixedTokens(col("text"))
    val d = docsSpread(spark, dir).filter(col("lang") === "zh")
      .select(col("source"), ws0.as("ws"))
      .filter(size(col("ws")) >= 2)
    val ws = col("ws")
    d.select(col("source"),
        size(ws).cast("long").as("n"),
        size(array_distinct(ws)).cast("long").as("dn"),
        topRunOf(ws).as("tb"),
        (size(ws).cast("long") - lit(1L)).as("bt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n")).as("tokens"),
        sum(col("dn")).as("distinct_tokens"),
        sum(col("bt")).as("bigrams"),
        sum(col("tb")).as("top_bigram_hits"),
        max(expr("(tb * 1000000L) div bt")).as("worst_top_bigram_ppm"))
      .orderBy(col("source"))
  }

  val q119Sql: String =
    s"""WITH zh AS (SELECT * FROM documents WHERE lang = 'zh'),
      |toks AS (
      |  SELECT source, doc_id, $MixedToksSql AS ws FROM zh),
      |tk AS (SELECT * FROM toks WHERE len(ws) >= 2),
      |bgx AS (
      |  SELECT source, doc_id, array_to_string(ws[i:i+1], ' ') AS bg
      |  FROM (SELECT source, doc_id, ws,
      |          unnest(generate_series(1, len(ws) - 1)) AS i FROM tk)),
      |bgc AS (
      |  SELECT source, doc_id, bg, count(*) AS c FROM bgx GROUP BY 1, 2, 3),
      |bgd AS (
      |  SELECT source, doc_id, max(c) AS tb, sum(c) AS bt FROM bgc GROUP BY 1, 2),
      |tkd AS (
      |  SELECT source, doc_id, len(ws) AS n, len(list_distinct(ws)) AS dn FROM tk)
      |SELECT t.source,
      |  CAST(count(*) AS BIGINT) AS docs,
      |  CAST(sum(t.n) AS BIGINT) AS tokens,
      |  CAST(sum(t.dn) AS BIGINT) AS distinct_tokens,
      |  CAST(sum(b.bt) AS BIGINT) AS bigrams,
      |  CAST(sum(b.tb) AS BIGINT) AS top_bigram_hits,
      |  CAST(max((b.tb * 1000000) // b.bt) AS BIGINT) AS worst_top_bigram_ppm
      |FROM tkd t JOIN bgd b USING (source, doc_id)
      |GROUP BY t.source ORDER BY t.source""".stripMargin

  /** Q120 — MULTILINGUAL chunk dedup (q99's keep-one semantics under the
    * mixed tokenizer, zh slice, per-source): 10-token chunks of the MIXED
    * token array, first occurrence kept, repeats counted as removed. On
    * real CJK text a chunk is ~11 consecutive Han characters (10
    * overlapping bigrams) — the duplicated-passage granularity the latin
    * chunker reduces to zero chunks.
    *
    * Improves on q99's shuffle shape per the q108 lesson: BOTH the dedup
    * window and its exchange key on the 8-byte xxhash64 chunk digest, not
    * the chunk text — removed_chars folds each chunk to its length
    * map-side, so a shuffled row carries ~30 bytes. A digest collision
    * would misattribute a first-occurrence (~n²/2⁶⁵ odds — the standard
    * content-digest posture, and the oracle's text-keyed window agrees
    * because no collision occurs on checked inputs).
    */
  def q120MultilingualChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    // r17: mixed_tokens + chunk_digests fused — no chunk string built;
    // posexplode keeps the within-doc chunk position the dedup window
    // orders on.
    val inst = docsSpread(spark, dir).filter(col("lang") === "zh")
      .select(col("source"), col("doc_id"),
        posexplode(chunkDigests10(
          graft.operators.InvertedIndex.mixedTokens(col("text"))))
          .as(Seq("pos", "cd")))
      .select(col("source"), col("doc_id"), col("pos"),
        col("cd.h").as("h"), col("cd.clen").as("clen"))
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
    inst.withColumn("rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("chunks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("removed_chunks"),
        sum(when(col("rn") > 1, col("clen")).otherwise(0L)).as("removed_chars"))
      .orderBy(col("source"))
  }

  val q120Sql: String =
    s"""WITH zh AS (SELECT * FROM documents WHERE lang = 'zh'),
      |toks AS (
      |  SELECT source, doc_id, $MixedToksSql AS ws FROM zh),
      |inst AS (
      |  SELECT source, doc_id, i AS pos,
      |    array_to_string(ws[(i-1)*10+1:(i-1)*10+10], ' ') AS c
      |  FROM (SELECT source, doc_id, ws,
      |          unnest(generate_series(1, len(ws) // 10)) AS i FROM toks)),
      |mk AS (
      |  SELECT source, c,
      |    row_number() OVER (PARTITION BY c ORDER BY doc_id, pos) AS rn
      |  FROM inst)
      |SELECT source, CAST(count(*) AS BIGINT) AS chunks,
      |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS removed_chunks,
      |  CAST(sum(CASE WHEN rn > 1 THEN length(c) ELSE 0 END) AS BIGINT) AS removed_chars
      |FROM mk GROUP BY source ORDER BY source""".stripMargin

  /** Q121 — MULTILINGUAL boilerplate removal (q108's remove-from-EVERY-doc
    * semantics under the mixed tokenizer, zh slice, per-source): 10-token
    * chunks of the mixed array whose document frequency reaches 2 are
    * boilerplate everywhere they appear (threshold 2, not q108's 3 — the
    * per-slice df distribution is thinner than the whole corpus's, and a
    * threshold that fires keeps the oracle comparison meaningful). Same
    * digest-keyed shuffle shape as q108/q120: both the df aggregate and
    * the join back key on the 8-byte chunk digest, removed_chars folds to
    * a length map-side, the chunk text never crosses an exchange.
    */
  def q121MultilingualBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    // Same persist discipline as q108: one tokenize+chunk pass, released
    // after the rollup materializes. r17: mixed_tokens + chunk_digests are
    // both fused codegen expressions — neither tokens' regex passes nor
    // chunk strings are materialized.
    val inst = docsSpread(spark, dir).filter(col("lang") === "zh")
      .select(col("source"), col("doc_id"),
        explode(chunkDigests10(
          graft.operators.InvertedIndex.mixedTokens(col("text")))).as("cd"))
      .select(col("source"), col("doc_id"),
        col("cd.h").as("ch"), col("cd.clen").as("clen"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfc = inst.groupBy(col("ch"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val out = inst.join(dfc.withColumn("boiler", col("df") >= 2).drop("df"), Seq("ch"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("chunks"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("boiler_chunks"),
        sum(when(col("boiler"), col("clen")).otherwise(0L)).as("removed_chars"),
        countDistinct(when(col("boiler"), col("doc_id"))).as("docs_affected"))
      .orderBy(col("source"))
    val rows = java.util.Arrays.asList(out.collect(): _*)
    inst.unpersist()
    spark.createDataFrame(rows, out.schema)
  }

  val q121Sql: String =
    s"""WITH zh AS (SELECT * FROM documents WHERE lang = 'zh'),
      |toks AS (
      |  SELECT source, doc_id, $MixedToksSql AS ws FROM zh),
      |inst AS (
      |  SELECT source, doc_id,
      |    array_to_string(ws[(i-1)*10+1:(i-1)*10+10], ' ') AS c
      |  FROM (SELECT source, doc_id, ws,
      |          unnest(generate_series(1, len(ws) // 10)) AS i FROM toks)),
      |dfc AS (SELECT c, count(DISTINCT doc_id) >= 2 AS boiler
      |        FROM inst GROUP BY c)
      |SELECT source, CAST(count(*) AS BIGINT) AS chunks,
      |  CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS boiler_chunks,
      |  CAST(sum(CASE WHEN boiler THEN length(c) ELSE 0 END) AS BIGINT) AS removed_chars,
      |  CAST(count(DISTINCT CASE WHEN boiler THEN doc_id END) AS BIGINT) AS docs_affected
      |FROM inst JOIN dfc USING (c)
      |GROUP BY source ORDER BY source""".stripMargin

  /** Q122 — MULTILINGUAL LM-perplexity scoring (q113's CCNet filter under
    * the mixed tokenizer, zh slice): the add-one-smoothed bigram LM trains
    * on the slice's own mixed token stream — on real CJK text a "bigram"
    * is a pair of consecutive character-bigrams, the natural CJK LM unit
    * without a segmenter — and the worst 15 docs by average per-bigram
    * log-probability rank out. Same float discipline and map-side bigram
    * construction as q113; the LM tables are slice-reduced aggregates.
    */
  def q122MultilingualLmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreWorst15(docsSpread(spark, dir).filter(col("lang") === "zh"),
      graft.operators.InvertedIndex.mixedTokens(col("text")))

  val q122Sql: String =
    s"""WITH zh AS (SELECT * FROM documents WHERE lang = 'zh'),
      |d AS (SELECT doc_id, $MixedToksSql AS lst FROM zh),
      |inst AS (
      |  SELECT doc_id, lst[i] AS w1, lst[i+1] AS w2
      |  FROM d, unnest(generate_series(1, len(lst)-1)) AS s(i)
      |  WHERE len(lst) >= 2),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM inst GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
      |v AS (SELECT count(DISTINCT w1) AS v FROM c2),
      |scored AS (
      |  SELECT inst.doc_id, CAST(floor(
      |      ln((c2.c2 + 1.0) / (c1.c1 + v.v)) * 1000000.0 + 0.5)
      |    AS BIGINT) AS lp
      |  FROM inst JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
      |per_doc AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(floor(CAST(sum(lp) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
      |      AS avg_lp_micro
      |  FROM scored GROUP BY doc_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY avg_lp_micro, doc_id) AS rk
      |  FROM per_doc)
      |SELECT CAST(rk AS BIGINT) AS rk, doc_id, n_bigrams, avg_lp_micro
      |FROM ranked WHERE rk <= 15 ORDER BY rk""".stripMargin

  /** Q117 — END-TO-END PIPELINE COMPOSITION: the real production sequence
    * a training-data engine exists to run, chained as ONE DataFrame
    * program over the corpus with per-stage accounting rows:
    *
    *   1 input           → raw corpus
    *   2 quality         → q96 verdicts, reasons = 0 survivors
    *   3 exact_dedup     → first doc per md5(text) among (2) (q35's digest)
    *   4 neardup_dedup   → drop non-canonical members of q93's J ≥ 0.8
    *                       clusters, computed among (3)'s survivors
    *   5 decontaminated  → drop docs sharing ≥ 5 distinct 13-grams with
    *                       any q103 eval item (eval side from the FULL
    *                       corpus — benchmarks are external fixed sets)
    *   6 resampled       → q102 mixture weights over (5), emitted instances
    *   7 packed          → q67's 2048-token sequence packing of (6)'s
    *                       stream (docs = sequence count)
    *
    * The registry proves each operator alone; THIS entry proves they
    * compose — survivor-set mismatches, column collisions, and threshold
    * drift between stages are invisible to per-operator checks. Every
    * stage reuses the exact shared definition its standalone query uses
    * ([[verdictReasons]], [[verifiedJaccardEdgesOf]], [[grams13]]/
    * [[evalGrams13]], [[mixtureCopies]], the q67 window), so the
    * composition cannot drift from the parts; the oracle chains the same
    * stages as CTEs.
    *
    * Scale shape: no stage adds an exchange beyond its standalone query's
    * own (plan-pinned) — verdicts are map-side; exact dedup is one window
    * over the content digest; near-dup edges are the capped-candidate +
    * exact-verify join (driver-materialized pair set, bounded by the
    * near-dup rate); contamination joins a BROADCAST eval-gram set;
    * resampling explodes map-side; packing windows by lang. Survivor
    * frames are persisted across their two readers (accounting + next
    * stage) and released before return — at 100 TB these become
    * checkpoint tables between stages; the STRUCTURE is identical.
    */
  def q117PipelineCompose(spark: SparkSession, dir: String): DataFrame = {
    val (out, persisted) = q117Build(spark, dir)
    try {
      // 7 accounting rows — materialize, then release the staged survivors.
      val rows = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(rows, out.schema)
    } finally persisted.foreach(_.unpersist())
  }

  /** The lazy q117 tree plus its persisted stage frames — split out so
    * PlanAssertionsSpec can pin the composition's physical plan before the
    * accounting rows collapse to a LocalRelation. Callers unpersist the
    * returned frames when done.
    */
  private[graft] def q117Build(spark: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) =
    composeBuild(spark, dir,
      d => verdictSignals(d)
        .withColumn("q_pass", verdictReasons === 0)
        .select(col("doc_id"), col("lang"), col("text"), col("n"), col("q_pass")),
      tokens)

  /** Per-document TOKENIZER-ROUTED quality verdicts — q125's stage-2 gate:
    * non-zh documents get EXACTLY the q96 signals+bitmask, zh documents
    * EXACTLY the q124 (mixed-tokenizer) ones, in ONE corpus scan: the
    * routing is per-COLUMN `when(is_zh, …)` over a routed token array, the
    * same shape the DuckDB oracle spells — not a union of two filtered
    * scans, which would read the pipeline's most expensive input twice at
    * the 100 TB posture AND silently drop NULL-lang rows (both
    * `lang =!= "zh"` and `lang === "zh"` are NULL on them, failing both
    * filters; `<=>` routes them down the latin path like the oracle's
    * CASE … ELSE and like q96/q117, which have no lang filter at all —
    * NULL lang is routine lang-ID output). The n/dn/tb/bt formulas are
    * identical in both verdicts, so one spelling over the routed array
    * serves both branches; only wchars and the stop rule route. Emits
    * (doc_id, lang, text, n, q_pass) with n the routed token count — the
    * schema the composed stages consume. private[graft] so the real-CJK
    * survival fixture can drive the gate directly.
    */
  private[graft] def routedVerdicts(d: DataFrame): DataFrame = {
    val isZh = col("lang") <=> lit("zh")
    val withWs = d.select(col("lang"), col("doc_id"), col("text"),
      isZh.as("is_zh"),
      when(isZh, graft.operators.InvertedIndex.mixedTokens(col("text")))
        .otherwise(tokens).as("ws"))
    val ws = col("ws")
    withWs.select(Seq(col("lang"), col("doc_id"), col("text"), col("is_zh")) ++
        signalCols(ws,
          when(col("is_zh"), mixedWcharsOf(ws)).otherwise(latinWchars),
          when(col("is_zh"), mixedStopScore(ws)).otherwise(latinStopsOf(ws))): _*)
      .select(col("doc_id"), col("lang"), col("text"), col("n"),
        when(col("is_zh"), verdictReasonsMixed === 0)
          .otherwise(verdictReasons === 0).as("q_pass"))
  }

  /** Tokens under q125's routing: the mixed (CJK-aware) array for zh
    * documents, the q96 whitespace split for the rest — the production
    * shape, where each language shard flows through its own tokenizer.
    */
  private def routedTokens: Column =
    when(col("lang") === "zh",
      graft.operators.InvertedIndex.mixedTokens(col("text")))
      .otherwise(tokens)

  /** The SHARED seven-stage composition over a pluggable stage-2 verdict
    * and token expression — q117 (latin everywhere) and q125 (per-lang
    * routing) are two instantiations, so the pipeline structure, stage
    * accounting, persist/release discipline, and plan shape cannot drift
    * between them. `toks` feeds the near-dup shingles and the
    * contamination 13-grams; the eval-gram side stays latin in both
    * (eval benchmarks are external fixed sets — [[evalGrams13]]).
    */
  private def composeBuild(spark: SparkSession, dir: String,
      verdictsOf: DataFrame => DataFrame, toks: Column)
      : (DataFrame, Seq[DataFrame]) = {
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { persisted += df.persist(); df }
    // Construction is partially EAGER (the near-dup edge set collects at
    // build time): a mid-build failure must release what it already
    // persisted, or two corpus-sized cached frames outlive the call.
    try {
      val base = keep(verdictsOf(docsSpread(spark, dir)))
      val quality = base.filter(col("q_pass"))
      val exw = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val exKeep = keep(quality.withColumn("rn", row_number().over(exw))
        .filter(col("rn") === 1).drop("rn"))
      // Near-dup clusters among the exact survivors: capped candidates +
      // exact verify (the q93 edge path), components via large-star/
      // small-star. The edge set is driver-materialized and tiny.
      val edges = verifiedJaccardEdgesOf(
          exKeep.select(col("doc_id"), col("lang"), col("text")),
          maxShingleFreq = 1000, wsExpr = toks)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      val losers = graft.operators.ConnectedComponents.run(edges)
        .filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id"))
      val ndKeep = keep(exKeep.join(losers, Seq("doc_id"), "left_anti"))
      val contaminated = ndKeep
        .select(col("doc_id"), explode(tokenGramHashes13(toks)).as("g"))
        .join(broadcast(evalGrams13(spark, dir)), Seq("g"))
        .groupBy(col("doc_id"), col("eval_id"))
        .agg(countDistinct(col("g")).as("shared_grams"))
        .filter(col("shared_grams") >= 5)
        .select(col("doc_id")).distinct()
      val dcKeep = keep(ndKeep.join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("copies", mixtureCopies))
      val emitted = dcKeep.filter(col("copies") > 0)
        .select(col("lang"), col("doc_id"), col("n"),
          explode(sequence(lit(1L), col("copies"))).as("rep"))
      val pw = Window.partitionBy(col("lang")).orderBy(col("doc_id"), col("rep"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val packed = emitted.withColumn("cum", sum(col("n")).over(pw))
        .withColumn("seq_id", floor((col("cum") - col("n")) / 2048).cast("long"))
        .groupBy(col("lang"), col("seq_id"))
        .agg(count(lit(1)).as("nd"), sum(col("n")).as("st"))
      def acct(stage: Long, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("docs"),
            coalesce(sum(col("n")), lit(0L)).as("tokens"))
          .select(lit(stage).as("stage"), lit(name).as("name"),
            col("docs"), col("tokens"))
      val acct7 = packed.agg(count(lit(1)).as("docs"),
          coalesce(sum(col("st")), lit(0L)).as("tokens"))
        .select(lit(7L).as("stage"), lit("packed").as("name"),
          col("docs"), col("tokens"))
      val out = Seq(
          acct(1L, "input", base),
          acct(2L, "quality", quality),
          acct(3L, "exact_dedup", exKeep),
          acct(4L, "neardup_dedup", ndKeep),
          acct(5L, "decontaminated", dcKeep),
          acct(6L, "resampled", emitted))
        .reduce(_ unionByName _)
        .unionByName(acct7)
        .orderBy(col("stage"))
      (out, persisted.toList)
    } catch {
      case e: Throwable =>
        persisted.foreach(df => scala.util.Try(df.unpersist()))
        throw e
    }
  }

  val q117Sql: String = {
    val stopCase = StopwordLists.map { case (l, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      s"WHEN '$l' THEN len(list_filter(ws, x -> x IN ($inList)))"
    }.mkString(" ")
    s"""WITH RECURSIVE
       |d AS (SELECT doc_id, lang, text, string_split(text, ' ') AS ws,
       |        length(replace(text, ' ', '')) AS wchars FROM documents),
       |bgx AS (
       |  SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bg
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, greatest(1, len(ws) - 1))) AS i FROM d)),
       |bgc AS (SELECT doc_id, bg, count(*) AS c FROM bgx GROUP BY 1, 2),
       |bgd AS (SELECT doc_id, max(c) AS tb, sum(c) AS bt FROM bgc GROUP BY 1),
       |base AS (
       |  SELECT d.doc_id, d.lang, d.text, d.ws, len(ws) AS n,
       |    (CASE WHEN len(ws) < 25 THEN 1 ELSE 0 END) +
       |    (CASE WHEN wchars * 1000000 // len(ws) < 4000000
       |       OR wchars * 1000000 // len(ws) > 5000000 THEN 2 ELSE 0 END) +
       |    (CASE WHEN len(list_distinct(ws)) * 1000000 // len(ws) < 350000
       |       THEN 4 ELSE 0 END) +
       |    (CASE WHEN b.tb * 1000000 // b.bt > 80000 THEN 8 ELSE 0 END) +
       |    (CASE WHEN (CASE lang $stopCase ELSE 0 END) = 0 THEN 16 ELSE 0 END)
       |      AS reasons
       |  FROM d JOIN bgd b USING (doc_id)),
       |q AS (SELECT * FROM base WHERE reasons = 0),
       |exk AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY md5(text)
       |      ORDER BY doc_id) AS rn FROM q) WHERE rn = 1),
       |sidx AS (
       |  SELECT doc_id, ws,
       |    unnest(generate_series(1, greatest(1, len(ws) - 4))) AS i FROM exk),
       |dsh AS (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS shingle
       |  FROM sidx),
       |cnt AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
       |pr AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT doc_a, doc_b FROM pr
       |    JOIN cnt ca ON ca.doc_id = doc_a
       |    JOIN cnt cb ON cb.doc_id = doc_b
       |  WHERE shared::DOUBLE / (ca.n + cb.n - shared) >= 0.8),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM jp
       |  UNION SELECT doc_b, doc_a FROM jp),
       |walk(u, lbl) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v),
       |cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY u),
       |ndk AS (SELECT * FROM exk WHERE doc_id NOT IN
       |          (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)),
       |egi AS (SELECT doc_id AS eval_id, ws[6:45] AS sp FROM d
       |        WHERE doc_id % 25 = 3),
       |eg AS (
       |  SELECT DISTINCT eval_id, array_to_string(sp[i:i+12], ' ') AS g
       |  FROM egi, UNNEST(generate_series(1, len(sp) - 12)) AS u(i)),
       |cg AS (
       |  SELECT doc_id, array_to_string(ws[i:i+12], ' ') AS g
       |  FROM ndk, UNNEST(generate_series(1, len(ws) - 12)) AS u(i)),
       |flag AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT c.doc_id, e.eval_id FROM cg c JOIN eg e USING (g)
       |    GROUP BY c.doc_id, e.eval_id HAVING count(DISTINCT c.g) >= 5)),
       |dck AS (
       |  SELECT *,
       |    (CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 2
       |      WHEN 'es' THEN 1 WHEN 'fr' THEN 1 ELSE 3 END)
       |    + (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) <
       |        (CASE lang WHEN 'en' THEN '800000' WHEN 'de' THEN '400000'
       |          WHEN 'es' THEN '800000' ELSE '000000' END)
       |      THEN 1 ELSE 0 END) AS copies
       |  FROM ndk WHERE doc_id NOT IN (SELECT doc_id FROM flag)),
       |em AS (
       |  SELECT lang, doc_id, n, u.rep
       |  FROM dck, UNNEST(generate_series(1, copies)) AS u(rep)
       |  WHERE copies > 0),
       |offs AS (
       |  SELECT lang, doc_id, rep, n,
       |    sum(n) OVER (PARTITION BY lang ORDER BY doc_id, rep
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM em),
       |pk AS (
       |  SELECT lang, CAST(floor((cum - n) / 2048) AS BIGINT) AS seq_id,
       |    count(*) AS nd, sum(n) AS st
       |  FROM offs GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS stage, 'input' AS name,
       |    CAST(count(*) AS BIGINT) AS docs,
       |    CAST(coalesce(sum(n), 0) AS BIGINT) AS tokens FROM base
       |  UNION ALL SELECT CAST(2 AS BIGINT), 'quality', CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM q
       |  UNION ALL SELECT CAST(3 AS BIGINT), 'exact_dedup', CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM exk
       |  UNION ALL SELECT CAST(4 AS BIGINT), 'neardup_dedup', CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM ndk
       |  UNION ALL SELECT CAST(5 AS BIGINT), 'decontaminated', CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM dck
       |  UNION ALL SELECT CAST(6 AS BIGINT), 'resampled', CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM em
       |  UNION ALL SELECT CAST(7 AS BIGINT), 'packed', CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(st), 0) AS BIGINT) FROM pk
       |) ORDER BY stage""".stripMargin
  }

  /** Q125 — the q117 seven-stage pipeline with PER-LANGUAGE TOKENIZER
    * ROUTING (the production multilingual shape): zh documents flow
    * through the mixed (CJK-aware) tokenizer at every token-sensitive
    * stage — the q124 quality verdict, the near-dup shingles, the
    * contamination 13-grams, and the packed token counts — while every
    * other language keeps q117's latin path, via the SAME
    * [[composeBuild]] skeleton (structure, accounting, persist discipline
    * shared; only the stage-2 verdict function and the token expression
    * differ). Under q117's latin-everywhere gate a real zh corpus dies at
    * stage 2 (zero whitespace-ish signals → short-doc + no-stopword bits);
    * here it is scored in its own token space. Eval grams stay latin —
    * eval benchmarks are external fixed sets ([[evalGrams13]], shared with
    * q56/q103/q117).
    *
    * Oracle: the q117 chained CTEs with the routing spelled as CASE
    * lang='zh' branches reusing the q124 spellings; on the all-ASCII
    * corpus this pins the full routed expression tree cross-engine, and a
    * real-CJK document's end-to-end survival (gate → dedup → packing) is
    * pinned in PipelineQueriesSpec on hand-built fixtures.
    */
  def q125MultilingualCompose(spark: SparkSession, dir: String): DataFrame = {
    val (out, persisted) = q125Build(spark, dir)
    try {
      val rows = java.util.Arrays.asList(out.collect(): _*)
      spark.createDataFrame(rows, out.schema)
    } finally persisted.foreach(_.unpersist())
  }

  /** The lazy q125 tree plus its persisted stage frames — the q117Build
    * twin, split out so PlanAssertionsSpec can pin the routed
    * composition's physical plan too.
    */
  private[graft] def q125Build(spark: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) =
    composeBuild(spark, dir, routedVerdicts, routedTokens)

  val q125Sql: String = {
    val stopCase = StopwordLists.map { case (l, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      s"WHEN '$l' THEN len(list_filter(ws, x -> x IN ($inList)))"
    }.mkString(" ")
    s"""WITH RECURSIVE
       |d0 AS (SELECT doc_id, lang, text,
       |        CASE WHEN lang = 'zh' THEN $MixedToksSql
       |             ELSE string_split(text, ' ') END AS ws FROM documents),
       |d AS (SELECT doc_id, lang, text, ws,
       |        CASE WHEN lang = 'zh'
       |          THEN coalesce(list_sum(list_transform(ws, x -> length(x))), 0)
       |          ELSE length(replace(text, ' ', '')) END AS wchars FROM d0),
       |bgx AS (
       |  SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bg
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, greatest(1, len(ws) - 1))) AS i FROM d)),
       |bgc AS (SELECT doc_id, bg, count(*) AS c FROM bgx GROUP BY 1, 2),
       |bgd AS (SELECT doc_id, max(c) AS tb, sum(c) AS bt FROM bgc GROUP BY 1),
       |base AS (
       |  SELECT d.doc_id, d.lang, d.text, d.ws, len(ws) AS n,
       |    (CASE WHEN len(ws) < 25 THEN 1 ELSE 0 END) +
       |    (CASE WHEN lang = 'zh' THEN
       |       (CASE WHEN wchars * 1000000 // greatest(len(ws), 1) < 2000000
       |          OR wchars * 1000000 // greatest(len(ws), 1) > 8000000
       |        THEN 2 ELSE 0 END)
       |     ELSE
       |       (CASE WHEN wchars * 1000000 // len(ws) < 4000000
       |          OR wchars * 1000000 // len(ws) > 5000000 THEN 2 ELSE 0 END)
       |     END) +
       |    (CASE WHEN lang = 'zh' THEN
       |       (CASE WHEN len(list_distinct(ws)) * 1000000 // greatest(len(ws), 1)
       |          < 350000 THEN 4 ELSE 0 END)
       |     ELSE
       |       (CASE WHEN len(list_distinct(ws)) * 1000000 // len(ws) < 350000
       |        THEN 4 ELSE 0 END)
       |     END) +
       |    (CASE WHEN b.tb * 1000000 // b.bt > 80000 THEN 8 ELSE 0 END) +
       |    (CASE WHEN (CASE WHEN lang = 'zh' THEN $MixedStopsSql
       |                ELSE (CASE lang $stopCase ELSE 0 END) END) = 0
       |       THEN 16 ELSE 0 END)
       |      AS reasons
       |  FROM d JOIN bgd b USING (doc_id)),
       |q AS (SELECT * FROM base WHERE reasons = 0),
       |exk AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY md5(text)
       |      ORDER BY doc_id) AS rn FROM q) WHERE rn = 1),
       |sidx AS (
       |  SELECT doc_id, ws,
       |    unnest(generate_series(1, greatest(1, len(ws) - 4))) AS i FROM exk),
       |dsh AS (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS shingle
       |  FROM sidx),
       |cnt AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
       |pr AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT doc_a, doc_b FROM pr
       |    JOIN cnt ca ON ca.doc_id = doc_a
       |    JOIN cnt cb ON cb.doc_id = doc_b
       |  WHERE shared::DOUBLE / (ca.n + cb.n - shared) >= 0.8),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM jp
       |  UNION SELECT doc_b, doc_a FROM jp),
       |walk(u, lbl) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v),
       |cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY u),
       |ndk AS (SELECT * FROM exk WHERE doc_id NOT IN
       |          (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)),
       |egi AS (SELECT doc_id AS eval_id, (string_split(text, ' '))[6:45] AS sp
       |        FROM documents WHERE doc_id % 25 = 3),
       |eg AS (
       |  SELECT DISTINCT eval_id, array_to_string(sp[i:i+12], ' ') AS g
       |  FROM egi, UNNEST(generate_series(1, len(sp) - 12)) AS u(i)),
       |cg AS (
       |  SELECT doc_id, array_to_string(ws[i:i+12], ' ') AS g
       |  FROM ndk, UNNEST(generate_series(1, len(ws) - 12)) AS u(i)),
       |flag AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT c.doc_id, e.eval_id FROM cg c JOIN eg e USING (g)
       |    GROUP BY c.doc_id, e.eval_id HAVING count(DISTINCT c.g) >= 5)),
       |dck AS (
       |  SELECT *,
       |    (CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 2
       |      WHEN 'es' THEN 1 WHEN 'fr' THEN 1 ELSE 3 END)
       |    + (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) <
       |        (CASE lang WHEN 'en' THEN '800000' WHEN 'de' THEN '400000'
       |          WHEN 'es' THEN '800000' ELSE '000000' END)
       |      THEN 1 ELSE 0 END) AS copies
       |  FROM ndk WHERE doc_id NOT IN (SELECT doc_id FROM flag)),
       |em AS (
       |  SELECT lang, doc_id, n, u.rep
       |  FROM dck, UNNEST(generate_series(1, copies)) AS u(rep)
       |  WHERE copies > 0),
       |offs AS (
       |  SELECT lang, doc_id, rep, n,
       |    sum(n) OVER (PARTITION BY lang ORDER BY doc_id, rep
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM em),
       |pk AS (
       |  SELECT lang, CAST(floor((cum - n) / 2048) AS BIGINT) AS seq_id,
       |    count(*) AS nd, sum(n) AS st
       |  FROM offs GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS stage, 'input' AS name,
       |    CAST(count(*) AS BIGINT) AS docs,
       |    CAST(coalesce(sum(n), 0) AS BIGINT) AS tokens FROM base
       |  UNION ALL SELECT CAST(2 AS BIGINT), 'quality', CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM q
       |  UNION ALL SELECT CAST(3 AS BIGINT), 'exact_dedup', CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM exk
       |  UNION ALL SELECT CAST(4 AS BIGINT), 'neardup_dedup', CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM ndk
       |  UNION ALL SELECT CAST(5 AS BIGINT), 'decontaminated', CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM dck
       |  UNION ALL SELECT CAST(6 AS BIGINT), 'resampled', CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM em
       |  UNION ALL SELECT CAST(7 AS BIGINT), 'packed', CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(st), 0) AS BIGINT) FROM pk
       |) ORDER BY stage""".stripMargin
  }

  /** Q116 — VERBATIM duplicated-span accounting (the ExactSubstr-dedup
    * signal of Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better"): every 15-token sliding window that occurs
    * verbatim in ≥ 2 DISTINCT documents marks its token positions as
    * duplicated; per document the query reports window counts and the
    * number of token positions covered by at least one duplicated window
    * (overlapping windows counted once — the "how much of this doc is
    * verbatim-shared text" number a span-removal pass would cut). Top 15
    * docs by coverage.
    *
    * Differs from q99/q108 (disjoint fixed chunks, keep-one vs remove-all)
    * in being OVERLAPPING-window based: a shifted copy of a passage still
    * matches, which is what makes ExactSubstr the strongest verbatim-dedup
    * signal. A true suffix array doesn't distribute; the k-token-window
    * formulation is the standard cluster-scale approximation (it finds
    * every duplicated span of length ≥ k).
    *
    * Shape: windows explode MAP-SIDE; both shuffles key on the 8-byte
    * xxhash64 window digest (the q108 trade — the window TEXT never
    * shuffles); coverage positions explode map-side from matched windows
    * only (≤ dup_windows·k rows); the per-doc rollups reuse one doc_id
    * partitioning. No broadcast of the duplicated set (unbounded at
    * corpus scale), no driver collection.
    */
  def q116SpanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedup15(docsSpread(spark, dir), tokens)

  /** q116's lazy face for the plan pin (caller unpersists the frames). */
  private[graft] def q116Plan(spark: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) =
    spanDedup15Plan(docsSpread(spark, dir), tokens)

  /** The q116 overlapping-window span-dedup accounting over an arbitrary
    * documents frame and token-array expression — ONE definition shared by
    * q116 (whitespace tokens, whole corpus) and q123 (mixed tokenizer, zh
    * slice), so the window geometry and coverage arithmetic their oracles
    * depend on cannot drift between them.
    */
  private def spanDedup15(d: DataFrame, ws: Column): DataFrame = {
    val (out, persisted) = spanDedup15Plan(d, ws)
    val rows = java.util.Arrays.asList(out.collect(): _*)
    persisted.foreach(_.unpersist())
    d.sparkSession.createDataFrame(rows, out.schema)
  }

  /** The LAZY q116/q123 plan plus its persisted frames — split out
    * (q117Build pattern) so PlanAssertionsSpec can pin the computation's
    * physical plan; the public face collapses to a LocalRelation to
    * release the caches.
    */
  private[graft] def spanDedup15Plan(d: DataFrame, ws: Column)
      : (DataFrame, Seq[DataFrame]) = {
    val k = 15
    val nw = size(ws) - lit(k) + 1
    // The hashed-window table feeds BOTH the ≥2-docs digest aggregate and
    // the dup join, and the dup rows feed two rollups (coverage + per-doc
    // window counts): without the persists the corpus-wide window explode
    // ran ~3× and the digest aggregate twice (round-16 optimization;
    // guide §5 caching — MEMORY_AND_DISK so a big corpus spills, and both
    // caches release after the 15-row answer materializes below).
    // r17: the per-position digests come from the fused window_hashes
    // codegen expression — no 15-token window string is ever built (the
    // former transform/struct/concat_ws/slice stack was interpreted HOF
    // evaluation per position); posexplode on the empty short-doc array
    // emits no rows, exactly like the former explode(array()) guard.
    val wnd = d
      .select(col("doc_id"), posexplode(windowHashes15(ws)).as(Seq("p", "h")))
      .select(col("doc_id"), (col("p") + lit(1)).as("start"), col("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ">= 2 distinct docs" == "min(doc_id) != max(doc_id)": two plain
    // min/max partials instead of a distinct expansion on the hot
    // window-digest aggregate (identical predicate, the oracle spells it
    // as count(DISTINCT) — same result by definition).
    val dfc = wnd.groupBy(col("h"))
      .agg((min(col("doc_id")) =!= max(col("doc_id"))).as("multi"))
      .filter(col("multi")).drop("multi")
    val dup = wnd.join(dfc, Seq("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cov = dup
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + lit(k - 1))).as("pos"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("pos")).as("covered_tokens"))
    // n_windows is a per-doc SCALAR (size - k + 1) — computing it from the
    // doc row skips a third full window-explode pass over the corpus.
    val per = d
      .select(col("doc_id"), nw.cast("long").as("n_windows"))
      .filter(col("n_windows") >= 1)
      .join(dup.groupBy(col("doc_id")).agg(count(lit(1)).as("dup_windows")),
        Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
    val top = per.orderBy(col("covered_tokens").desc, col("doc_id")).limit(15)
    val w = Window.orderBy(col("covered_tokens").desc, col("doc_id"))
    val out = top.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("rk"), col("doc_id"), col("n_windows"), col("dup_windows"),
        col("covered_tokens"))
      .orderBy(col("rk"))
    (out, Seq(wnd, dup))
  }

  /** The q116 window/dup/coverage SQL downstream of a `toks(doc_id, ws)`
    * CTE — ONE spelling shared by q116Sql (whitespace tokens, whole
    * corpus) and q123Sql (mixed tokenizer, zh slice), the SQL twin of
    * [[spanDedup15]]: the k=15 geometry can't drift between the oracles.
    */
  private val SpanDedupSqlSuffix: String =
    """wnd AS (
      |  SELECT doc_id, i AS start,
      |    array_to_string(ws[i:i+14], ' ') AS w
      |  FROM (SELECT doc_id, ws,
      |          unnest(generate_series(1, len(ws) - 14)) AS i
      |        FROM toks)),
      |dupw AS (SELECT w FROM wnd GROUP BY w
      |         HAVING count(DISTINCT doc_id) >= 2),
      |dup AS (SELECT wnd.doc_id, wnd.start FROM wnd JOIN dupw USING (w)),
      |cov AS (
      |  SELECT doc_id, count(DISTINCT pos) AS covered_tokens
      |  FROM (SELECT doc_id, unnest(generate_series(start, start + 14)) AS pos
      |        FROM dup) GROUP BY doc_id),
      |per AS (
      |  SELECT w.doc_id,
      |    CAST(count(*) AS BIGINT) AS n_windows,
      |    CAST(coalesce(any_value(d.dup_windows), 0) AS BIGINT) AS dup_windows,
      |    CAST(coalesce(any_value(cov.covered_tokens), 0) AS BIGINT) AS covered_tokens
      |  FROM wnd w
      |    LEFT JOIN (SELECT doc_id, count(*) AS dup_windows
      |               FROM dup GROUP BY doc_id) d ON d.doc_id = w.doc_id
      |    LEFT JOIN cov ON cov.doc_id = w.doc_id
      |  GROUP BY w.doc_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY covered_tokens DESC, doc_id) AS rk
      |  FROM per)
      |SELECT CAST(rk AS BIGINT) AS rk, doc_id, n_windows, dup_windows,
      |  covered_tokens
      |FROM ranked WHERE rk <= 15 ORDER BY rk""".stripMargin

  val q116Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |""".stripMargin + SpanDedupSqlSuffix

  /** Q123 — MULTILINGUAL span dedup (q116's ExactSubstr signal under the
    * mixed tokenizer, zh slice): overlapping 15-token windows of the mixed
    * array occurring verbatim in ≥ 2 docs mark their positions. On real
    * CJK text a window is 15 consecutive character-bigrams ≈ a 16-char
    * verbatim span — the shifted-copy-resistant dedup granularity the
    * latin windower reduces to nothing. Same digest-keyed shuffles and
    * map-side coverage explosion as q116 (shared [[spanDedup15]]).
    */
  def q123MultilingualSpanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedup15(docsSpread(spark, dir).filter(col("lang") === "zh"),
      graft.operators.InvertedIndex.mixedTokens(col("text")))

  val q123Sql: String =
    s"""WITH zh AS (SELECT * FROM documents WHERE lang = 'zh'),
      |toks AS (
      |  SELECT doc_id, $MixedToksSql AS ws FROM zh),
      |""".stripMargin + SpanDedupSqlSuffix

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) of per-query
    * ranked lists: each retriever contributes floor(10⁹ / (60 + rank)) —
    * the standard RRF with k = 60, held in integer NANO-units so the
    * cross-list sum is order-independent int64 addition (the q20/q110
    * float discipline; 10⁹ div is EXACT — no double ever exists). A doc
    * absent from a list contributes 0 from it (the full-outer-join
    * semantics every RRF implementation uses). Both inputs are k-bounded
    * (≤ topN rows per query) by construction, so the fusion joins move
    * query-sized frames — the corpus never reaches this operator.
    */
  private[graft] def rrfFuse(lex: DataFrame, vec: DataFrame, topN: Int): DataFrame = {
    // `div` (not `/`) — long division on longs; `/` would make a double.
    val fused = lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (coalesce(expr("1000000000L div (60L + lrk)"), lit(0L))
          + coalesce(expr("1000000000L div (60L + vrk)"), lit(0L))).as("rrf"),
        coalesce(col("lrk"), lit(0L)).as("lrk"),
        coalesce(col("vrk"), lit(0L)).as("vrk"))
    val fw = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("frk", row_number().over(fw).cast("long"))
      .filter(col("frk") <= topN)
      .select(col("qid"), col("frk"), col("doc_id"), col("rrf"),
        col("lrk"), col("vrk"))
      .orderBy(col("qid"), col("frk"))
  }

  /** Q126 — HYBRID retrieval: reciprocal-rank fusion of the lexical (BM25,
    * served from the PERSISTED inverted index — the q111 path: only the
    * query terms' bucket parts are read) and vector (exact cosine top-k —
    * the q23 path: query side broadcast, corpus streamed) retrievers, the
    * standard RAG/retrieval-stack shape (Cormack et al. 2009's RRF is what
    * production hybrid search ships because it needs no score calibration
    * between BM25 and cosine — only ranks).
    *
    * Query set: the five qid < 5 embedding queries, each fused against its
    * own vector top-20 and its OWN lexical top-20 (per-query term sets —
    * the real fusion shape; a query-independent lexical list would test
    * only the join plumbing). Both lists are k-bounded before fusion, so
    * the fusion cost is |queries| × topN rows REGARDLESS of corpus size:
    * the 100 TB posture is entirely inherited from the two retrievers
    * (bucket-pruned postings scan; broadcast-query vector scan / IVF
    * probe), and the fused join would be a broadcast at any scale. The
    * lexical side runs one bucket-pruned index probe per DISTINCT query
    * term set — right for an interactive query batch; a corpus-sized
    * query log would batch them as one terms⋈postings join instead.
    */
  private[graft] val hybridQueryTerms: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("dup", "vector", "merge"),
    1L -> Seq("join", "hash"),
    2L -> Seq("scan", "filter", "column"),
    3L -> Seq("stream", "window"),
    4L -> Seq("sort", "query", "fast"))

  def q126HybridRrf(spark: SparkSession, dir: String): DataFrame =
    q126On(spark, dir, invIndexOf(spark, dir))

  /** q126 over `idx` (the plan specs pass its distributed view). */
  private[graft] def q126On(spark: SparkSession, dir: String,
      idx: graft.operators.InvertedIndex): DataFrame = {
    // Per-query lexical lists through the BATCHED probe (searchMany): ONE
    // bucket-pruned posting scan over the union of every query's terms,
    // per-qid rankings bit-identical to |queries| sequential search()
    // calls — the terms⋈postings shape a corpus-sized query batch needs.
    val lex = idx.searchMany(hybridQueryTerms, k = 20)
      .select(col("qid"), col("doc_id"), col("rk").as("lrk"))
    val e = embDouble(spark, dir)
    val q = e.select(col("vec_id").as("qid"), col("v").as("qv"))
      .filter(col("qid") < 5)
    val vscored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        r6(cosine(col("qv"), col("v"))).as("sim"))
    val vw = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("doc_id"))
    val vec = vscored.withColumn("vrk", row_number().over(vw).cast("long"))
      .filter(col("vrk") <= 20).select(col("qid"), col("doc_id"), col("vrk"))
    rrfFuse(lex, vec, topN = 10)
  }

  /** The per-qid query-term table, spelled once for the oracle (must match
    * [[hybridQueryTerms]] exactly).
    */
  private def hybridQtSql: String = hybridQueryTerms.flatMap { case (q, ts) =>
    ts.map(t => s"($q, '$t')")
  }.mkString(", ")

  val q126Sql: String =
    s"""WITH terms AS (
       |  SELECT doc_id, t.term FROM documents,
       |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
       |  WHERE len(t.term) >= 3),
       |qt AS (SELECT CAST(q AS BIGINT) AS qid, t AS term
       |       FROM (VALUES $hybridQtSql) v(q, t)),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM terms
       |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id),
       |stats AS (SELECT avg(dl) AS avgdl FROM dl),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |contrib AS (
       |  SELECT tf.doc_id, tf.term, CAST(floor(
       |      ln((n.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
       |        * (tf.tf * (1.2 + 1.0))
       |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
       |        * 1000000.0 + 0.5) AS BIGINT) AS c
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
       |    CROSS JOIN stats CROSS JOIN n),
       |lexscore AS (
       |  SELECT qt.qid, contrib.doc_id, sum(c) AS score
       |  FROM contrib JOIN qt USING (term) GROUP BY qt.qid, contrib.doc_id),
       |lex AS (
       |  SELECT qid, doc_id, CAST(lrk AS BIGINT) AS lrk FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS lrk
       |    FROM lexscore) s WHERE lrk <= 20),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |qv AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
       |vscored AS (
       |  SELECT qid, vec_id AS doc_id,
       |    ${R6Sql.format("list_cosine_similarity(qv, v)")} AS sim
       |  FROM qv, e WHERE vec_id != qid),
       |vec AS (
       |  SELECT qid, doc_id, CAST(vrk AS BIGINT) AS vrk FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, doc_id) AS vrk
       |    FROM vscored) s WHERE vrk <= 20),
       |fused AS (
       |  SELECT coalesce(lex.qid, vec.qid) AS qid,
       |    coalesce(lex.doc_id, vec.doc_id) AS doc_id,
       |    coalesce(1000000000 // (60 + lrk), 0)
       |      + coalesce(1000000000 // (60 + vrk), 0) AS rrf,
       |    coalesce(lrk, 0) AS lrk, coalesce(vrk, 0) AS vrk
       |  FROM lex FULL JOIN vec
       |    ON lex.qid = vec.qid AND lex.doc_id = vec.doc_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS frk
       |  FROM fused)
       |SELECT qid, CAST(frk AS BIGINT) AS frk, doc_id, CAST(rrf AS BIGINT) AS rrf,
       |  CAST(lrk AS BIGINT) AS lrk, CAST(vrk AS BIGINT) AS vrk
       |FROM ranked WHERE frk <= 10 ORDER BY qid, frk""".stripMargin

  /** The DSIR raw→target importance ranking over an arbitrary corpus frame
    * — extracted so specs can drive hand-built corpora through the exact
    * production arithmetic. See [[q127DsirSelect]].
    */
  private[graft] def dsirRank(d: DataFrame, target: String, topN: Int): DataFrame = {
    // latin_tokens is the fused codegen tokenizer (bit-identical term
    // multiset to the regex split + length filter). Its per-document
    // token arrays are PERSISTED: both the lm aggregate and the scoring
    // join explode them, so the corpus is tokenized once per call, not
    // once per reader.
    val docToks = d.select(col("doc_id"), col("lang"), col("source"),
        graft.functions.GraftFunctions.latinTokensCol(col("text")).as("toks"))
      .persist()
    val toks = docToks.select(col("doc_id"), col("lang"), col("source"),
      explode(col("toks")).as("term"))
    // Unigram LM table for BOTH distributions in one corpus-reduced
    // aggregate (cnt_t is a conditional sum — the target slice is never
    // re-scanned). Vocabulary-sized, the frame every later step joins —
    // PERSISTED across its two readers (the stats fold below and the
    // scoring join), so the LM aggregates once; both caches are released
    // in the finally after the tiny result collapses to a LocalRelation
    // (the q117 stage-frame discipline).
    val lm = toks.groupBy("term").agg(
      count(lit(1)).as("cnt_r"),
      sum(when(col("source") === target, 1L).otherwise(0L)).as("cnt_t"))
      .persist()
    try {
      val out = dsirRankOn(toks, lm, target, topN)
      // topN × |langs| rows — collapse eagerly so the caches can be
      // released before returning (callers re-executing the frame must
      // not silently re-tokenize the corpus).
      val rows = out.collect()
      d.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), out.schema)
    } finally { lm.unpersist(); docToks.unpersist() }
  }

  /** The LAZY scoring plan behind [[dsirRank]] — split out so the plan
    * pins (broadcast LM side, WindowGroupLimit top-k) can still read the
    * executed plan; dsirRank itself collapses to a LocalRelation to
    * release the lm persist.
    */
  private[graft] def dsirRankOn(toks: DataFrame, lm: DataFrame,
      target: String, topN: Int): DataFrame = {
    // Totals fold out of the SAME aggregate as driver scalars (the q110
    // stats-job discipline — 3 numbers, never a second corpus aggregate)
    // and inline as literals below.
    val st = lm.agg(sum(col("cnt_r")), sum(col("cnt_t")), count(lit(1))).first()
    val (nr, nt, v) = (st.getLong(0), st.getLong(1), st.getLong(2))
    // Per-TERM add-one-smoothed log-ratio in integer micro-units: rounding
    // happens per term, BEFORE any cross-row summation, so the per-doc
    // fold is order-independent int64 addition (the q113 LM discipline).
    val lp = lm.select(col("term"),
      floor((log((col("cnt_t") + lit(1.0)) / lit((nt + v).toDouble))
        - log((col("cnt_r") + lit(1.0)) / lit((nr + v).toDouble)))
        * lit(1000000.0) + lit(0.5)).cast("long").as("lp"))
    val per = toks.join(lp, "term")
      .groupBy(col("doc_id"))
      .agg(max(col("lang")).as("lang"), max(col("source")).as("source"),
        count(lit(1)).as("n_toks"), sum(col("lp")).as("w"))
    // Selection pool = everything OUTSIDE the target slice (DSIR selects
    // raw docs that look like the target; the target itself is the
    // exemplar, not a candidate). Rank by the per-token average — an
    // exact long-over-long division (both engines truncate toward zero),
    // which removes the length bias a raw sum of negative lps carries.
    val sel = per.filter(col("source") =!= target)
      .withColumn("avg_lp", expr("w div n_toks"))
    val rw = Window.partitionBy(col("lang")).orderBy(col("avg_lp").desc, col("doc_id"))
    sel.withColumn("rk", row_number().over(rw).cast("long"))
      .filter(col("rk") <= topN)
      .select(col("lang"), col("rk"), col("doc_id"), col("source"),
        col("n_toks"), col("w"), col("avg_lp"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Q127 — DSIR-style data selection by importance ranking (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every raw-pool document by how much more likely
    * its tokens are under a TARGET-domain unigram LM than under the raw
    * LM — log w(x) = Σ_tokens [ln p̂_target(tok) − ln p̂_raw(tok)], add-one
    * smoothing over the shared vocabulary — and keep the per-lang top-5
    * lookalikes. The paper samples ∝ w with Gumbel noise; the engine keeps
    * the deterministic top-k variant (rank by per-token average) so the
    * selection is reproducible and oracle-checkable — the ranking is the
    * operator; the noise is a one-line addition a user owns.
    *
    * Target slice: source = 'src0' stands in for the curated exemplar
    * corpus (DSIR's Wikipedia+books); the pool is everything else.
    *
    * Shape at 100 TB: tokens explode map-side; the LM table is a
    * vocabulary-sized corpus-reduced aggregate (both distributions from
    * ONE pass — cnt_t is a conditional sum); totals fold to 3 driver
    * scalars from that same aggregate (q110 stats-job pattern); scoring is
    * the standard tokens⋈LM sort-merge join (AQE broadcasts the LM side
    * when small); per-term lps micro-round before the per-doc sum. The
    * final per-lang top-5 is a WindowGroupLimit, never a full sort.
    */
  def q127DsirSelect(spark: SparkSession, dir: String): DataFrame =
    dsirRank(docsSpread(spark, dir), target = "src0", topN = 5)

  val q127Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, source, t.term FROM documents,
      |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
      |  WHERE len(t.term) >= 3),
      |lm AS (
      |  SELECT term, count(*) AS cnt_r,
      |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS cnt_t
      |  FROM toks GROUP BY term),
      |st AS (SELECT sum(cnt_r) AS nr, sum(cnt_t) AS nt, count(*) AS v FROM lm),
      |lp AS (
      |  SELECT term, CAST(floor(
      |      (ln((cnt_t + 1.0) / (nt + v)) - ln((cnt_r + 1.0) / (nr + v)))
      |        * 1000000.0 + 0.5) AS BIGINT) AS lp
      |  FROM lm CROSS JOIN st),
      |per AS (
      |  SELECT doc_id, max(lang) AS lang, max(source) AS source,
      |    CAST(count(*) AS BIGINT) AS n_toks, CAST(sum(lp) AS BIGINT) AS w
      |  FROM toks JOIN lp USING (term) GROUP BY doc_id),
      |sel AS (
      |  SELECT *, CAST(w // n_toks AS BIGINT) AS avg_lp
      |  FROM per WHERE source != 'src0'),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY avg_lp DESC, doc_id) AS rk
      |  FROM sel)
      |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, source, n_toks, w, avg_lp
      |FROM ranked WHERE rk <= 5 ORDER BY lang, rk""".stripMargin

  /** Overlapping token-window chunking over an arbitrary corpus frame —
    * extracted so specs drive hand-built docs through the exact production
    * arithmetic. See [[q129RagChunks]].
    */
  private[graft] def ragChunks(d: DataFrame, w: Int, o: Int): DataFrame =
    ragChunksText(d, w, o)
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("n_toks"), col("digest"), col("n_chars"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** [[ragChunks]] with the chunk TEXT kept — the frame a chunk-granular
    * index builds from (q134); q129's stats face drops `txt` (column
    * pruning makes the two plans identical up to the projection).
    */
  private[graft] def ragChunksText(d: DataFrame, w: Int, o: Int): DataFrame = {
    require(w > o && o >= 0, s"need window > overlap >= 0, got ($w, $o)")
    val s = w - o
    val t = d.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")).cast("long"))
      // ceil(max(1, n - o) / stride) in pure integer arithmetic — spelled
      // identically in the oracle so chunk counts can't drift.
      .withColumn("n_chunks",
        expr(s"(greatest(1L, n - $o) + ${s - 1}) div $s"))
    t.select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * s)
      .withColumn("txt", concat_ws(" ",
        slice(col("ws"), (col("start_tok") + 1).cast("int"), lit(w))))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        least(lit(w.toLong), col("n") - col("start_tok")).as("n_toks"),
        md5(col("txt")).as("digest"),
        length(col("txt")).cast("long").as("n_chars"),
        col("txt"))
  }

  /** Q129 — RAG chunking (retrieval-ingest document splitting): every doc
    * becomes overlapping token windows of W = 16 tokens with O = 4 tokens
    * of overlap (stride 12) — the standard chunk-for-embedding shape
    * (production deployments use W ≈ 256–512 with the same arithmetic;
    * the knobs are scaled to this corpus's ~55-token docs so multiple
    * chunks and the tail-clamp actually exercise). Each chunk carries its
    * token span (chunk_idx, start_tok, n_toks), its md5 digest (the
    * downstream dedup/embedding-cache key), and its char length; every
    * token lands in ≥ 1 chunk and consecutive chunks share exactly O
    * tokens (spec-pinned on hand-sized fixtures).
    *
    * Shape at 100 TB: chunking is ONE map-side explode off the corpus
    * scan — no join, no aggregate; the only exchange is the output sort.
    * A downstream embedding/dedup stage inherits chunk-level parallelism
    * for free.
    */
  def q129RagChunks(spark: SparkSession, dir: String): DataFrame =
    ragChunks(docs(spark, dir), w = 16, o = 4)

  val q129Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents),
      |c AS (SELECT doc_id, ws, n,
      |    CAST((greatest(1, n - 4) + 11) // 12 AS BIGINT) AS n_chunks FROM t),
      |ch0 AS (
      |  SELECT doc_id, ws, n,
      |    CAST(unnest(generate_series(0, n_chunks - 1)) AS BIGINT) AS chunk_idx
      |  FROM c),
      |ch AS (
      |  SELECT doc_id, ws, n, chunk_idx,
      |    CAST(chunk_idx * 12 AS BIGINT) AS start_tok
      |  FROM ch0),
      |cut AS (
      |  SELECT doc_id, chunk_idx, start_tok, n,
      |    array_to_string(ws[CAST(start_tok + 1 AS INT) :
      |                       CAST(start_tok + 16 AS INT)], ' ') AS txt
      |  FROM ch)
      |SELECT doc_id, chunk_idx, start_tok,
      |  CAST(least(16, n - start_tok) AS BIGINT) AS n_toks,
      |  md5(txt) AS digest, CAST(len(txt) AS BIGINT) AS n_chars
      |FROM cut ORDER BY doc_id, chunk_idx""".stripMargin

  private val bpeCache = scala.collection.concurrent.TrieMap
    .empty[String, graft.operators.BpeTokenizer.Merges]

  /** Q130 — BPE subword tokenization (Sennrich et al. 2016): merge rules
    * TRAINED on this corpus (200 merges over the word-frequency dictionary
    * — the corpus-sized work is one vocabulary-reduced aggregate, the
    * training loop runs driver-side over word counts exactly like the
    * reference implementation), then every document encoded by the native
    * `bpe_encode` codegen expression (greedy lowest-rank-first merges, the
    * rank table a plan literal). Output: per-lang corpus tokenization
    * stats — docs, BPE tokens, distinct subword vocabulary, and payload
    * chars per token in ppm (marker-stripped) — all exact integers.
    *
    * Rows-only by design (like q27/q109: DuckDB cannot apply trained BPE
    * merges); BpeTokenizerSpec pins the canonical hand-training example,
    * expression≡driver-implementation parity, determinism, and the
    * lossless round-trip instead.
    */
  def q130BpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val m = bpeCache.getOrElseUpdate(dir,
      graft.operators.BpeTokenizer.train(docs(spark, dir), numMerges = 200))
    // ONE tokenization pass (the dominant CPU cost): token/vocab/payload
    // stats all fold out of a single exploded (lang, token) aggregate —
    // per-token payload is a property of the TOKEN string, so summing
    // cnt × |token| at the vocabulary level equals the per-doc sum.
    val tokEx = docsSpread(spark, dir).select(col("lang"),
        explode(call_function("bpe_encode", col("text"),
          typedLit(m.encoded))).as("tok"))
    val stats = tokEx.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("lang")).agg(
        count(lit(1)).as("vocab"),
        sum(col("cnt")).as("total_tokens"),
        sum(col("cnt") *
          length(replace(col("tok"), lit("</w>"), lit(""))).cast("long"))
          .as("total_payload"))
    // Doc counts come from a tokenize-free scan (an all-CJK/latin-free
    // slice has zero tokens but still counts its docs).
    val nd = docs(spark, dir).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    nd.join(stats, Seq("lang"), "left_outer")
      .select(col("lang"), col("n_docs"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        coalesce(col("vocab"), lit(0L)).as("vocab"),
        expr("coalesce(total_payload, 0L) * 1000000L " +
          "div greatest(coalesce(total_tokens, 0L), 1L)")
          .as("chars_per_token_ppm"))
      .orderBy(col("lang"))
  }

  /** Trained byte-level merges + their persisted artifact dir, per corpus
    * (steady-state serve economics like bpeCache; the artifact is what a
    * second session opens instead of retraining).
    */
  private val bpeByteCache = scala.collection.concurrent.TrieMap
    .empty[String, (graft.operators.BpeTokenizer.Merges, String)]

  /** Q132 — PERSISTED MULTILINGUAL (byte-level) BPE tokenizer: the GPT-2
    * posture (Radford et al. 2019) — words are UTF-8 byte sequences under
    * the public byte→printable-char bijection, so ONE trained merge list
    * segments every script (the q130 char-level tokenizer is latin-only:
    * a CJK document contributes zero tokens there; here it contributes
    * byte-level subwords). And the trained merges are a reopenable
    * artifact (`_merges.json`, the persisted-index discipline shared with
    * IVF/inverted/MinHash): train once, save; every later session opens
    * and encodes identically without re-reading the corpus.
    *
    * The entry SERVES FROM THE ARTIFACT and self-enforces the persistence
    * contract inline (the q131 discipline): the reopened merge list and a
    * mixed-script sample encoding must equal the in-process ones bit for
    * bit, or the entry fails correctness — not just a spec.
    *
    * Rows-only by design (DuckDB cannot apply trained BPE merges);
    * BpeTokenizerSpec pins byte-table bijectivity, CJK round-trip,
    * save/open bit-equality, and train==retrain determinism.
    *
    * NOTE: on the synthetic corpus this entry's stats EQUAL q130's bit
    * for bit — the testdata text is pure lowercase-ASCII (the lang column
    * is a label), ASCII bytes are fixed points of the GPT-2 byte table,
    * and both word splits agree on ASCII, so the two tokenizers train the
    * same merges and encode identically. That coincidence is an invariant
    * (byte-level is a strict superset that degrades to char-level on
    * ASCII), not a shared code path: the CJK divergence is pinned on
    * real-script fixtures in BpeTokenizerSpec.
    */
  def q132BpePersisted(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.BpeTokenizer
    val (m: BpeTokenizer.Merges, artDir: String) =
      bpeByteCache.getOrElseUpdate(dir, {
        val trained =
          BpeTokenizer.trainByteLevel(docs(spark, dir), numMerges = 200)
        val ad = java.nio.file.Files.createTempDirectory("bpe_bytes_").toString
        BpeTokenizer.save(trained, ad)
        (trained, ad)
      })
    val reopened = BpeTokenizer.open(artDir)
    require(reopened == m,
      "persisted BPE artifact drifted from the trained merges")
    val sample = "Training-data Qualität 中文分词 données 数据 pipeline"
    require(BpeTokenizer.encodeText(sample, reopened).toSeq ==
      BpeTokenizer.encodeText(sample, m).toSeq,
      "encode-after-reopen must match the in-process encode bit for bit")
    require(BpeTokenizer.decodeTokens(
        BpeTokenizer.encodeText(sample, m).toSeq, m) ==
      sample.toLowerCase.split("(?U)[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
        .mkString(" "),
      "byte-level round-trip must restore the normalized word stream")
    // Same one-pass stats shape as q130, tokens now from the REOPENED
    // byte-level merges: every lang — including zh — tokenizes. Payload is
    // BYTES per token (each symbol char is one byte by construction).
    val tokEx = docsSpread(spark, dir).select(col("lang"),
        explode(call_function("bpe_encode", col("text"),
          typedLit(reopened.encoded))).as("tok"))
    val stats = tokEx.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("lang")).agg(
        count(lit(1)).as("vocab"),
        sum(col("cnt")).as("total_tokens"),
        sum(col("cnt") *
          length(replace(col("tok"), lit("</w>"), lit(""))).cast("long"))
          .as("total_payload"))
    val nd = docs(spark, dir).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    nd.join(stats, Seq("lang"), "left_outer")
      .select(col("lang"), col("n_docs"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        coalesce(col("vocab"), lit(0L)).as("vocab"),
        expr("coalesce(total_payload, 0L) * 1000000L " +
          "div greatest(coalesce(total_tokens, 0L), 1L)")
          .as("bytes_per_token_ppm"))
      .orderBy(col("lang"))
  }

  /** Chunk-granular inverted index per corpus dir: the q129 chunk table,
    * indexed with each chunk as its own "document". The chunk key packs
    * (doc_id, chunk_idx) into one long — doc_id · 64 + chunk_idx — so the
    * parent doc and the evidence chunk both unpack from the index's id.
    */
  private val cacheInvChunks =
    scala.collection.concurrent.TrieMap.empty[String, graft.operators.InvertedIndex]

  private[graft] val ChunkKeySpan = 64L

  private[graft] def chunkIndexOf(spark: SparkSession, dir: String)
      : graft.operators.InvertedIndex =
    cacheInvChunks.getOrElseUpdate(dir, {
      val ch = ragChunksText(docs(spark, dir), w = 16, o = 4)
      // The pack needs chunk_idx < span (~5 chunks/doc at these knobs;
      // W=256-class production chunks keep even book-length docs under
      // 64). Checked at build, not assumed.
      val maxIdx = ch.agg(max(col("chunk_idx"))).first().getLong(0)
      require(maxIdx < ChunkKeySpan,
        s"chunk_idx up to $maxIdx overflows the $ChunkKeySpan-chunk key span")
      graft.operators.InvertedIndex.build(spark,
        ch.select((col("doc_id") * ChunkKeySpan + col("chunk_idx")).as("doc_id"),
          col("txt").as("text")),
        java.nio.file.Files.createTempDirectory("inv_chunks_").toString)
    })

  /** Per-query lexical doc list at CHUNK granularity: every matched
    * chunk's BM25 score (searchScores — no pre-fold top-k, a parent's
    * best evidence must never be dropped), folded to the parent doc as
    * MAX-CHUNK score in ONE aggregate via the composite key
    * score·span + chunk_idx (score ≥ 0 in integer micro-units, so the
    * composite orders by score first and breaks ties on the highest
    * chunk index — deterministic, and both halves unpack exactly).
    */
  private[graft] def chunkLexTopDocs(idx: graft.operators.InvertedIndex,
      qid: Long, terms: Seq[String], k: Int): DataFrame = {
    val perDoc = graft.operators.InvertedIndex.foldChunkScores(
      idx.searchScores(terms), ChunkKeySpan)
    val top = perDoc.orderBy(col("score").desc, col("doc_id")).limit(k)
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    top.withColumn("lrk", row_number().over(w).cast("long"))
      .select(lit(qid).as("qid"), col("doc_id"), col("lrk"),
        col("best_chunk"), col("n_chunks_hit"))
  }

  /** Q134 — CHUNK-LEVEL hybrid retrieval (the production RAG serve shape:
    * the retrieval unit is the CHUNK, not the doc — a doc whose evidence
    * lives in its 2nd chunk must be found and must say WHICH chunk): the
    * q129 chunk table indexed in the persisted inverted index (chunk =
    * index document, key = doc_id·64 + chunk_idx), per-query BM25 over
    * chunks folded to per-doc max-chunk scores, RRF-fused (q126
    * arithmetic, exact int64 nano-units) with the doc-level exact-cosine
    * top-20, carrying the evidence chunk (best_chunk) and per-doc chunk
    * hit count through the fusion.
    *
    * Shape at 100 TB: chunking is the q129 map-side explode; the index
    * probe reads only the query terms' bucket parts; the chunk→doc fold
    * is one hash aggregate on the matched postings (never the corpus);
    * both lists are k-bounded before the fusion join.
    */
  def q134ChunkHybrid(spark: SparkSession, dir: String): DataFrame =
    q134On(spark, dir, chunkIndexOf(spark, dir))

  /** q134 over `idx` (the plan specs pass its distributed view). */
  private[graft] def q134On(spark: SparkSession, dir: String,
      idx: graft.operators.InvertedIndex): DataFrame = {
    // Batched lexical side: ONE posting scan for all five queries
    // (searchManyScores — per-qid scores bit-identical to sequential
    // probes), chunk→doc max-chunk fold keyed by (qid, doc), per-qid
    // top-20 through a WindowGroupLimit.
    val perDoc = graft.operators.InvertedIndex.foldChunkScores(
      idx.searchManyScores(hybridQueryTerms), ChunkKeySpan, keys = Seq("qid"))
    val lw = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    val lex = perDoc.withColumn("lrk", row_number().over(lw).cast("long"))
      .filter(col("lrk") <= 20)
      .select(col("qid"), col("doc_id"), col("lrk"),
        col("best_chunk"), col("n_chunks_hit"))
    val e = embDouble(spark, dir)
    val q = e.select(col("vec_id").as("qid"), col("v").as("qv"))
      .filter(col("qid") < 5)
    val vscored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        r6(cosine(col("qv"), col("v"))).as("sim"))
    val vw = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("doc_id"))
    val vec = vscored.withColumn("vrk", row_number().over(vw).cast("long"))
      .filter(col("vrk") <= 20).select(col("qid"), col("doc_id"), col("vrk"))
    // rrfFuse's arithmetic inlined so the chunk-evidence columns ride the
    // SAME full-outer join (a post-fusion join back to the lexical frame
    // would re-run all five index probes as a second plan subtree).
    val fused = lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (coalesce(expr("1000000000L div (60L + lrk)"), lit(0L))
          + coalesce(expr("1000000000L div (60L + vrk)"), lit(0L))).as("rrf"),
        coalesce(col("lrk"), lit(0L)).as("lrk"),
        coalesce(col("vrk"), lit(0L)).as("vrk"),
        coalesce(col("best_chunk"), lit(-1L)).as("best_chunk"),
        coalesce(col("n_chunks_hit"), lit(0L)).as("n_chunks_hit"))
    val fw = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("frk", row_number().over(fw).cast("long"))
      .filter(col("frk") <= 10)
      .select(col("qid"), col("frk"), col("doc_id"), col("rrf"),
        col("lrk"), col("vrk"), col("best_chunk"), col("n_chunks_hit"))
      .orderBy(col("qid"), col("frk"))
  }

  val q134Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |  FROM documents),
       |c AS (SELECT doc_id, ws, n,
       |    CAST((greatest(1, n - 4) + 11) // 12 AS BIGINT) AS n_chunks FROM t),
       |ch0 AS (
       |  SELECT doc_id, ws, n,
       |    CAST(unnest(generate_series(0, n_chunks - 1)) AS BIGINT) AS chunk_idx
       |  FROM c),
       |ch AS (
       |  SELECT doc_id * 64 + chunk_idx AS chunk_id,
       |    array_to_string(ws[CAST(chunk_idx * 12 + 1 AS INT) :
       |                       CAST(chunk_idx * 12 + 16 AS INT)], ' ') AS txt
       |  FROM ch0),
       |cterms AS (
       |  SELECT chunk_id, t.term FROM ch,
       |    unnest(string_split_regex(lower(txt), '[^a-z]+')) AS t(term)
       |  WHERE len(t.term) >= 3),
       |qt AS (SELECT CAST(q AS BIGINT) AS qid, t AS term
       |       FROM (VALUES $hybridQtSql) v(q, t)),
       |tf AS (
       |  SELECT chunk_id, term, count(*) AS tf FROM cterms
       |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY chunk_id, term),
       |dl AS (SELECT chunk_id, count(*) AS dl FROM cterms GROUP BY chunk_id),
       |stats AS (SELECT avg(dl) AS avgdl FROM dl),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(*) AS n_docs FROM ch),
       |contrib AS (
       |  SELECT tf.chunk_id, tf.term, CAST(floor(
       |      ln((n.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
       |        * (tf.tf * (1.2 + 1.0))
       |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
       |        * 1000000.0 + 0.5) AS BIGINT) AS c
       |  FROM tf JOIN df USING (term) JOIN dl USING (chunk_id)
       |    CROSS JOIN stats CROSS JOIN n),
       |cscore AS (
       |  SELECT qt.qid, contrib.chunk_id, sum(c) AS score
       |  FROM contrib JOIN qt USING (term) GROUP BY 1, 2),
       |perdoc AS (
       |  SELECT qid, chunk_id // 64 AS doc_id,
       |    max(score * 64 + chunk_id % 64) AS bk,
       |    CAST(count(*) AS BIGINT) AS n_chunks_hit
       |  FROM cscore GROUP BY 1, 2),
       |lex AS (
       |  SELECT qid, doc_id, CAST(lrk AS BIGINT) AS lrk,
       |    CAST(bk % 64 AS BIGINT) AS best_chunk, n_chunks_hit FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY qid ORDER BY bk // 64 DESC, doc_id) AS lrk
       |    FROM perdoc) s WHERE lrk <= 20),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |qv AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
       |vscored AS (
       |  SELECT qid, vec_id AS doc_id,
       |    ${R6Sql.format("list_cosine_similarity(qv, v)")} AS sim
       |  FROM qv, e WHERE vec_id != qid),
       |vec AS (
       |  SELECT qid, doc_id, CAST(vrk AS BIGINT) AS vrk FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, doc_id) AS vrk
       |    FROM vscored) s WHERE vrk <= 20),
       |fused AS (
       |  SELECT coalesce(lex.qid, vec.qid) AS qid,
       |    coalesce(lex.doc_id, vec.doc_id) AS doc_id,
       |    coalesce(1000000000 // (60 + lrk), 0)
       |      + coalesce(1000000000 // (60 + vrk), 0) AS rrf,
       |    coalesce(lrk, 0) AS lrk, coalesce(vrk, 0) AS vrk,
       |    coalesce(best_chunk, -1) AS best_chunk,
       |    coalesce(n_chunks_hit, 0) AS n_chunks_hit
       |  FROM lex FULL JOIN vec
       |    ON lex.qid = vec.qid AND lex.doc_id = vec.doc_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS frk
       |  FROM fused)
       |SELECT qid, CAST(frk AS BIGINT) AS frk, doc_id, CAST(rrf AS BIGINT) AS rrf,
       |  CAST(lrk AS BIGINT) AS lrk, CAST(vrk AS BIGINT) AS vrk,
       |  CAST(best_chunk AS BIGINT) AS best_chunk,
       |  CAST(n_chunks_hit AS BIGINT) AS n_chunks_hit
       |FROM ranked WHERE frk <= 10 ORDER BY qid, frk""".stripMargin

  /** Chunk embeddings under the q134 key scheme (doc_id·64 + chunk_idx):
    * each q129 chunk carries a vector derived from its parent doc's
    * embedding by a cyclic shift of chunk_idx positions — a deterministic,
    * oracle-reproducible stand-in for a per-chunk embedding model (chunk 0
    * is the doc vector exactly, so a one-chunk corpus degenerates to
    * doc-level ANN — spec-pinned). Production swaps the shift for real
    * chunk embeddings; every downstream shape (index build, probe, fold,
    * fusion) is embedding-agnostic.
    */
  private[graft] def chunkVecs(spark: SparkSession, dir: String): DataFrame =
    chunkVecsFrom(docs(spark, dir), embDouble(spark, dir))

  /** [[chunkVecs]] over explicit frames — specs drive hand-built corpora
    * through the exact production arithmetic. `d`: (doc_id, text);
    * `e`: (vec_id, v array<double>).
    */
  private[graft] def chunkVecsFrom(d: DataFrame, e: DataFrame): DataFrame = {
    val ch = ragChunksText(d, w = 16, o = 4)
      .select(col("doc_id"), col("chunk_idx"))
    ch.join(e.select(col("vec_id").as("doc_id"), col("v")), "doc_id")
      .withColumn("cv", expr(
        "transform(sequence(0, size(v) - 1), " +
          "i -> element_at(v, CAST((i + chunk_idx) % size(v) AS INT) + 1))"))
      .select((col("doc_id") * ChunkKeySpan + col("chunk_idx")).as("key"),
        col("doc_id"), col("chunk_idx"), col("cv"))
  }

  /** Persisted IVF index over the chunk vectors, keyed doc_id·64 +
    * chunk_idx — the vector twin of [[chunkIndexOf]]; built once per
    * corpus dir. Also records the corpus's max chunks/doc (the search-k
    * bound needs it).
    */
  private val cacheChunkIvf = scala.collection.concurrent.TrieMap
    .empty[String, (graft.operators.IvfIndex, Long)]

  private[graft] def chunkIvfOf(spark: SparkSession, dir: String)
      : (graft.operators.IvfIndex, Long) =
    cacheChunkIvf.getOrElseUpdate(dir, {
      val cv = chunkVecs(spark, dir)
      val maxChunks = cv.agg(max(col("chunk_idx"))).first().getLong(0) + 1L
      require(maxChunks <= ChunkKeySpan,
        s"$maxChunks chunks/doc overflows the $ChunkKeySpan-chunk key span")
      val idx = graft.operators.IvfIndex.build(spark,
        cv.select(col("key").as("vec_id"), col("cv").as("v")),
        java.nio.file.Files.createTempDirectory("ivf_chunks_").toString)
      (idx, maxChunks)
    })

  /** Q140 — CHUNK-LEVEL hybrid retrieval with chunk VECTORS (closing
    * q134's asymmetry: its vector side was doc-level, so a doc whose
    * semantic evidence lives only in its 2nd chunk was invisible to ANN):
    * the q129 chunk embeddings live in a persisted IvfIndex under the SAME
    * doc_id·64 + chunk_idx key as the lexical chunk index; per-query
    * chunk-cosine folds to per-doc best-chunk (composite micro-sim·64 +
    * chunk_idx — deterministic, both halves unpack), RRF-fused with
    * chunk-BM25, and BOTH sides attribute their evidence chunk
    * (best_lex_chunk / best_vec_chunk).
    *
    * The entry probes every list (nprobe = nlist), which makes IVF search
    * EXACT — hash-equal to DuckDB's brute-force chunk cosine; the 100 TB
    * serve path (autoNprobe cluster pruning, recall ≥ 0.8, part-pruned
    * scans) is pinned in IvfIndexSpec at chunk granularity. Search k =
    * 21·maxChunks bounds doc-level top-20 exactly: a rank-r doc's best
    * chunk is outranked only by better docs' chunks (≤ (r−1)·maxChunks)
    * plus the excluded query doc's own (≤ maxChunks).
    *
    * SELF-ENFORCED: some fused doc is retrievable ONLY via a non-first
    * chunk's vector (best_vec_chunk ≥ 1 AND absent from doc-level
    * exact-cosine top-20) — the capability q134 lacked.
    */
  def q140ChunkVecHybrid(spark: SparkSession, dir: String): DataFrame = {
    val lexIdx = chunkIndexOf(spark, dir)
    val perDocLex = graft.operators.InvertedIndex.foldChunkScores(
      lexIdx.searchManyScores(hybridQueryTerms), ChunkKeySpan, keys = Seq("qid"))
    val lw = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    val lex = perDocLex.withColumn("lrk", row_number().over(lw).cast("long"))
      .filter(col("lrk") <= 20)
      .select(col("qid"), col("doc_id"), col("lrk"),
        col("best_chunk").as("best_lex_chunk"), col("n_chunks_hit"))
    val (vidx, maxChunks) = chunkIvfOf(spark, dir)
    val e = embDouble(spark, dir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // excludeSelf=false: query ids live in DOC space, hits in chunk-key
    // space — the self-exclusion is the parent-doc filter below.
    val hits = vidx.search(q, k = (21L * maxChunks).toInt,
        nprobe = vidx.nlist, excludeSelf = false)
      .filter(expr(s"vec_id div $ChunkKeySpan") =!= col("qid"))
    val vw = Window.partitionBy(col("qid")).orderBy(col("comp").desc, col("doc_id"))
    val vec = hits
      .select(col("qid"), expr(s"vec_id div $ChunkKeySpan").as("doc_id"),
        ((floor(col("sim") * lit(1000000.0) + lit(0.5)).cast("long")
          + lit(1000000L)) * ChunkKeySpan
          + expr(s"vec_id % $ChunkKeySpan")).as("comp"))
      .groupBy(col("qid"), col("doc_id")).agg(max(col("comp")).as("comp"))
      .withColumn("vrk", row_number().over(vw).cast("long"))
      .filter(col("vrk") <= 20)
      .select(col("qid"), col("doc_id"), col("vrk"),
        expr(s"comp % $ChunkKeySpan").as("best_vec_chunk"))
    chunkVecEnforced.getOrElseUpdate(dir, {
      // Doc-level exact-cosine top-20 (q134's vector side): some chunk-vec
      // hit with evidence chunk ≥ 1 must be invisible to it.
      val dv = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("doc_id"),
          r6(cosine(col("qv"), col("v"))).as("sim"))
      val dw = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("doc_id"))
      val docTop = dv.withColumn("r", row_number().over(dw)).filter(col("r") <= 20)
        .select(col("qid"), col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val fresh = vec.filter(col("best_vec_chunk") >= 1).collect()
        .exists(r => !docTop((r.getLong(0), r.getLong(1))))
      require(fresh, "q140: no doc was retrievable only via a non-first " +
        "chunk's vector — the chunk-ANN side adds nothing over doc-ANN")
      true
    })
    val fused = lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (coalesce(expr("1000000000L div (60L + lrk)"), lit(0L))
          + coalesce(expr("1000000000L div (60L + vrk)"), lit(0L))).as("rrf"),
        coalesce(col("lrk"), lit(0L)).as("lrk"),
        coalesce(col("vrk"), lit(0L)).as("vrk"),
        coalesce(col("best_lex_chunk"), lit(-1L)).as("best_lex_chunk"),
        coalesce(col("n_chunks_hit"), lit(0L)).as("n_chunks_hit"),
        coalesce(col("best_vec_chunk"), lit(-1L)).as("best_vec_chunk"))
    val fw = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("frk", row_number().over(fw).cast("long"))
      .filter(col("frk") <= 10)
      .select(col("qid"), col("frk"), col("doc_id"), col("rrf"),
        col("lrk"), col("vrk"), col("best_lex_chunk"), col("n_chunks_hit"),
        col("best_vec_chunk"))
      .orderBy(col("qid"), col("frk"))
  }

  private val chunkVecEnforced =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  val q140Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |  FROM documents),
       |c AS (SELECT doc_id, ws, n,
       |    CAST((greatest(1, n - 4) + 11) // 12 AS BIGINT) AS n_chunks FROM t),
       |ch0 AS (
       |  SELECT doc_id, ws, n,
       |    CAST(unnest(generate_series(0, n_chunks - 1)) AS BIGINT) AS chunk_idx
       |  FROM c),
       |ch AS (
       |  SELECT doc_id * 64 + chunk_idx AS chunk_id,
       |    array_to_string(ws[CAST(chunk_idx * 12 + 1 AS INT) :
       |                       CAST(chunk_idx * 12 + 16 AS INT)], ' ') AS txt
       |  FROM ch0),
       |cterms AS (
       |  SELECT chunk_id, t.term FROM ch,
       |    unnest(string_split_regex(lower(txt), '[^a-z]+')) AS t(term)
       |  WHERE len(t.term) >= 3),
       |qt AS (SELECT CAST(q AS BIGINT) AS qid, t AS term
       |       FROM (VALUES $hybridQtSql) v(q, t)),
       |tf AS (
       |  SELECT chunk_id, term, count(*) AS tf FROM cterms
       |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY chunk_id, term),
       |dl AS (SELECT chunk_id, count(*) AS dl FROM cterms GROUP BY chunk_id),
       |stats AS (SELECT avg(dl) AS avgdl FROM dl),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(*) AS n_docs FROM ch),
       |contrib AS (
       |  SELECT tf.chunk_id, tf.term, CAST(floor(
       |      ln((n.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
       |        * (tf.tf * (1.2 + 1.0))
       |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
       |        * 1000000.0 + 0.5) AS BIGINT) AS c
       |  FROM tf JOIN df USING (term) JOIN dl USING (chunk_id)
       |    CROSS JOIN stats CROSS JOIN n),
       |cscore AS (
       |  SELECT qt.qid, contrib.chunk_id, sum(c) AS score
       |  FROM contrib JOIN qt USING (term) GROUP BY 1, 2),
       |perdoc AS (
       |  SELECT qid, chunk_id // 64 AS doc_id,
       |    max(score * 64 + chunk_id % 64) AS bk,
       |    CAST(count(*) AS BIGINT) AS n_chunks_hit
       |  FROM cscore GROUP BY 1, 2),
       |lex AS (
       |  SELECT qid, doc_id, CAST(lrk AS BIGINT) AS lrk,
       |    CAST(bk % 64 AS BIGINT) AS best_lex_chunk, n_chunks_hit FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY qid ORDER BY bk // 64 DESC, doc_id) AS lrk
       |    FROM perdoc) s WHERE lrk <= 20),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |qv AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
       |cidx AS (
       |  SELECT doc_id, CAST(unnest(generate_series(0, n_chunks - 1)) AS BIGINT)
       |    AS chunk_idx FROM c),
       |cv AS (
       |  SELECT ci.doc_id, ci.chunk_idx,
       |    list_transform(generate_series(0, len(e.v) - 1),
       |      i -> e.v[((i + ci.chunk_idx) % len(e.v)) + 1]) AS cv
       |  FROM cidx ci JOIN e ON e.vec_id = ci.doc_id),
       |vsc AS (
       |  SELECT qv.qid, cv.doc_id,
       |    (CAST(floor((${R6Sql.format("list_cosine_similarity(qv, cv)")})
       |        * 1000000.0 + 0.5) AS BIGINT) + 1000000) * 64 + cv.chunk_idx
       |      AS comp
       |  FROM qv, cv WHERE cv.doc_id != qv.qid),
       |vperdoc AS (SELECT qid, doc_id, max(comp) AS comp FROM vsc GROUP BY 1, 2),
       |vec AS (
       |  SELECT qid, doc_id, CAST(vrk AS BIGINT) AS vrk,
       |    CAST(comp % 64 AS BIGINT) AS best_vec_chunk FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY qid ORDER BY comp DESC, doc_id) AS vrk
       |    FROM vperdoc) s WHERE vrk <= 20),
       |fused AS (
       |  SELECT coalesce(lex.qid, vec.qid) AS qid,
       |    coalesce(lex.doc_id, vec.doc_id) AS doc_id,
       |    coalesce(1000000000 // (60 + lrk), 0)
       |      + coalesce(1000000000 // (60 + vrk), 0) AS rrf,
       |    coalesce(lrk, 0) AS lrk, coalesce(vrk, 0) AS vrk,
       |    coalesce(best_lex_chunk, -1) AS best_lex_chunk,
       |    coalesce(n_chunks_hit, 0) AS n_chunks_hit,
       |    coalesce(best_vec_chunk, -1) AS best_vec_chunk
       |  FROM lex FULL JOIN vec
       |    ON lex.qid = vec.qid AND lex.doc_id = vec.doc_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS frk
       |  FROM fused)
       |SELECT qid, CAST(frk AS BIGINT) AS frk, doc_id, CAST(rrf AS BIGINT) AS rrf,
       |  CAST(lrk AS BIGINT) AS lrk, CAST(vrk AS BIGINT) AS vrk,
       |  CAST(best_lex_chunk AS BIGINT) AS best_lex_chunk,
       |  CAST(n_chunks_hit AS BIGINT) AS n_chunks_hit,
       |  CAST(best_vec_chunk AS BIGINT) AS best_vec_chunk
       |FROM ranked WHERE frk <= 10 ORDER BY qid, frk""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q23_cosine_topk", q23CosineTopK _, Some(q23Sql)),
    ("q37_cosine_topk_hof", q37CosineTopKHof _, Some(q23Sql)),
    ("q48_ivf_index", q48IvfIndex _, Some(q28Sql)),
    ("q38_udaf_summary", q38UdafSummary _, Some(q38Sql)),
    ("q24_text_stats", q24TextStats _, Some(q24Sql)),
    ("q25_minhash_lsh", q25MinhashLsh _, Some(q25Sql)),
    ("q26_jaccard_exact", q26JaccardExact _, Some(q26Sql)),
    ("q27_simhash", q27Simhash _, None),
    ("q93_dedup_clusters", q93DedupClusters _, Some(q93Sql)),
    ("q28_ivf_ann", q28IvfAnn _, Some(q28Sql)),
    ("q106_semantic_dedup", q106SemanticDedup _, Some(q106Sql)),
    ("q29_langid", q29LangId _, Some(q29Sql)),
    ("q30_quality", q30Quality _, Some(q30Sql)),
    ("q31_token_count", q31TokenCount _, Some(q31Sql)),
    ("q32_fingerprint", q32Fingerprint _, Some(q32Sql)),
    ("q33_multimodal_meta", q33MultimodalMeta _, Some(q33Sql)),
    ("q34_embed_neardup", q34EmbedNearDup _, Some(q34Sql)),
    ("q35_exact_dedup", q35ExactDedup _, Some(q35Sql)),
    ("q56_contamination", q56Contamination _, Some(q56Sql)),
    ("q57_blocklist", q57Blocklist _, Some(q57Sql)),
    ("q94_pii_redaction", q94PiiRedaction _, Some(q94Sql)),
    ("q95_repetition", q95Repetition _, Some(q95Sql)),
    ("q62_stratified_sample", q62StratifiedSample _, Some(q62Sql)),
    ("q63_topk_terms", q63TopkTerms _, Some(q63Sql)),
    ("q67_packing", q67Packing _, Some(q67Sql)),
    ("q85_topk_weighted", q85TopkWeighted _, Some(q85Sql)),
    ("q96_quality_verdicts", q96QualityVerdicts _, Some(q96Sql)),
    ("q98_domain_quota", q98DomainQuota _, Some(q98Sql)),
    ("q99_chunk_dedup", q99ChunkDedup _, Some(q99Sql)),
    ("q101_incremental_dedup", q101IncrementalDedup _, Some(q101Sql)),
    ("q102_mixture_resample", q102MixtureResample _, Some(q102Sql)),
    ("q103_ngram_contamination", q103NgramContamination _, Some(q103Sql)),
    ("q108_boilerplate", q108Boilerplate _, Some(q108Sql)),
    ("q109_pq_ann", q109PqAnn _, None),
    ("q110_bm25", q110Bm25 _, Some(q110Sql)),
    ("q111_bm25_index", q111Bm25Index _, Some(q110Sql)),
    ("q112_phrase_search", q112PhraseSearch _, Some(q112Sql)),
    ("q113_lm_score", q113LmScore _, Some(q113Sql)),
    ("q114_multilingual_bm25", q114MultilingualBm25 _, Some(q114Sql)),
    ("q115_ivfadc", q115IvfAdc _, None),
    ("q116_span_dedup", q116SpanDedup _, Some(q116Sql)),
    ("q117_pipeline_compose", q117PipelineCompose _, Some(q117Sql)),
    ("q118_multilingual_tfidf", q118MultilingualTfidf _, Some(q118Sql)),
    ("q119_multilingual_repetition", q119MultilingualRepetition _, Some(q119Sql)),
    ("q120_multilingual_chunk_dedup", q120MultilingualChunkDedup _, Some(q120Sql)),
    ("q121_multilingual_boilerplate", q121MultilingualBoilerplate _, Some(q121Sql)),
    ("q122_multilingual_lm_score", q122MultilingualLmScore _, Some(q122Sql)),
    ("q123_multilingual_span_dedup", q123MultilingualSpanDedup _, Some(q123Sql)),
    ("q124_multilingual_verdicts", q124MultilingualVerdicts _, Some(q124Sql)),
    ("q125_multilingual_compose", q125MultilingualCompose _, Some(q125Sql)),
    ("q126_hybrid_rrf", q126HybridRrf _, Some(q126Sql)),
    ("q127_dsir_select", q127DsirSelect _, Some(q127Sql)),
    ("q129_rag_chunks", q129RagChunks _, Some(q129Sql)),
    ("q130_bpe_tokenize", q130BpeTokenize _, None),
    ("q132_bpe_persisted", q132BpePersisted _, None),
    ("q134_chunk_hybrid", q134ChunkHybrid _, Some(q134Sql)),
    ("q140_chunkvec_hybrid", q140ChunkVecHybrid _, Some(q140Sql)))
}
