package graft

import graft.mergetree.{ColumnarMergeTree, MergeTreeConfig}
import graft.operators.{InvertedIndex, IvfIndex}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Index searches served on the driver (the `localScanMaxRows` path of
  * ColumnarMergeTree.localRangeScan) against the distributed plans of the
  * same index, reopened with `localScanMaxRows = 0`: every served face
  * must return identical rows, order and types, and a probe the table may
  * not serve locally (pending lightweight mutations, over budget) must
  * take the distributed plan and still match.
  */
class ServedSearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  private def distributed(cfg: MergeTreeConfig) = cfg.copy(localScanMaxRows = 0)

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Served `a` equals distributed `b` in schema and rows; `ordered` faces
    * compare row order too, the rest as sorted multisets (their
    * distributed plans end in an aggregate, which fixes no order).
    */
  private def same(a: DataFrame, b: DataFrame, ordered: Boolean, what: String): Unit = {
    assert(a.schema == b.schema, s"$what: schema ${a.schema} != ${b.schema}")
    def rows(df: DataFrame) = {
      val rs = df.collect().toSeq
      if (ordered) rs else rs.sortBy(_.toString)
    }
    val (ra, rb) = (rows(a), rows(b))
    assert(ra == rb, s"$what: served\n${ra.mkString("\n")}\n!= distributed\n${rb.mkString("\n")}")
  }

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  /** Every BM25 face of `idx` against `dist`, for each query in `qs`. */
  private def checkBm25(idx: InvertedIndex, dist: InvertedIndex,
      qs: Seq[Seq[String]], served: Boolean): Unit = {
    qs.foreach { terms =>
      val s = idx.search(terms, k = 7)
      assert(isLocal(s) == served, s"search($terms) served=$served")
      same(s, dist.search(terms, k = 7), ordered = true, s"search($terms)")
      same(idx.searchScores(terms), dist.searchScores(terms), ordered = false,
        s"searchScores($terms)")
    }
    val many = qs.zipWithIndex.map { case (t, i) => (i.toLong + 10, t) }
    val m = idx.searchMany(many, k = 5)
    assert(isLocal(m) == served, s"searchMany served=$served")
    same(m, dist.searchMany(many, k = 5), ordered = true, "searchMany")
    same(idx.searchManyScores(many), dist.searchManyScores(many), ordered = false,
      "searchManyScores")
  }

  private val queries = Seq(
    Seq("dup", "vector", "merge"),
    Seq("merge"),            // one common term: many score ties, broken by doc_id
    Seq("zzqxv"),            // no posting at all: empty result
    Seq("table", "scan", "table"))

  test("BM25: served faces equal the distributed plans; ties, empty results") {
    val idx = InvertedIndex.build(spark, docs,
      Files.createTempDirectory("served_inv_").toString)
    val dist = idx.withConfig(distributed(idx.table.config))
    checkBm25(idx, dist, queries, served = true)
    assert(idx.search(Seq("zzqxv"), k = 3).collect().isEmpty)
    val ties = idx.searchScores(Seq("merge")).collect().groupBy(_.getLong(2))
    assert(ties.exists(_._2.length > 1), "fixture must carry score ties")
    idx.table.shutdown()
  }

  /** Dataset actions (this session's QueryExecutionListener events) that
    * `f` runs. Events post asynchronously but in order, so a sentinel
    * action run after `f` marks where its events end.
    */
  private def actionsOf(f: => Any): Int = {
    val sentinel = s"served-actions-${java.util.UUID.randomUUID()}"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.analyzed.toString); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
        plans.add(qe.analyzed.toString); ()
      }
    }
    spark.listenerManager.register(listener)
    try {
      f
      spark.range(1).select(lit(sentinel)).collect()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!plans.asScala.exists(_.contains(sentinel)) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(plans.asScala.exists(_.contains(sentinel)), "sentinel action not seen within 10 s")
      plans.asScala.takeWhile(!_.contains(sentinel)).size
    } finally spark.listenerManager.unregister(listener)
  }

  test("served probes plan no Dataset: actions per probe, query hashing and tokenizing") {
    val idx = InvertedIndex.build(spark, docs,
      Files.createTempDirectory("served_inv_act_").toString)
    val terms = Seq("dup", "vector", "merge")
    idx.search(terms, k = 10).collect() // warm
    val bm25 = actionsOf(idx.search(terms, k = 10).collect())
    assert(bm25 == 1, s"served BM25 search(...).collect() ran $bm25 actions (the caller's is 1)")
    assert(actionsOf(InvertedIndex.bucketsOf(spark, terms, idx.nbuckets)) == 0)
    assert(actionsOf(InvertedIndex.queryTerms(spark, "Dup, vector of MERGE", InvertedIndex.Latin)) == 0)
    assert(actionsOf(InvertedIndex.queryTerms(spark, "spark 中文分词", InvertedIndex.Mixed)) == 0)
    val ivf = IvfIndex.build(spark, vectors,
      Files.createTempDirectory("served_ivf_act_").toString, nlist = 8)
    val q = queriesOf(vectors, Seq(0L, 1L))
    for (nprobe <- Seq(3, ivf.nlist)) {
      val s = ivf.search(q, k = 10, nprobe = nprobe, excludeSelf = false)
      assert(isLocal(s))
      val ann = actionsOf(ivf.search(q, k = 10, nprobe = nprobe, excludeSelf = false).collect())
      assert(ann <= 2, s"served IVF search(nprobe=$nprobe).collect() ran $ann actions " +
        "(the query batch's and the caller's are 2)")
    }
    idx.table.shutdown(); ivf.table.shutdown()
  }

  /** `cols` over a one-row local relation: the DataFrame spelling the
    * driver-side query hashing and tokenizing replaced.
    */
  private def frameEval(cols: Column*): Row =
    spark.createDataFrame(java.util.List.of(Row.empty), StructType(Nil)).select(cols: _*).first()

  test("query hashing and tokenizing equal their DataFrame spellings") {
    val inputs = Seq(
      "Dup, vector of MERGE",                 // latin
      "spark 中文分词 and 很好 mixed 中 text", // mixed scripts, a one-char Han run
      "",                                     // empty
      "naïve café — Ünïcödé straße ÀÉÎ",      // non-ASCII latin letters
      "日本語のテキスト 😀 emoji ½ ｆｕｌｌ")  // non-BMP and full-width input
    for (q <- inputs) {
      val latin = InvertedIndex.queryTerms(spark, q, InvertedIndex.Latin)
      assert(latin == frameEval(filter(split(lower(lit(q)), "[^a-z]+"), t => length(t) >= 3))
        .getSeq[String](0), s"latin terms of '$q'")
      val mixed = InvertedIndex.queryTerms(spark, q, InvertedIndex.Mixed)
      assert(mixed == frameEval(InvertedIndex.mixedTokens(lit(q))).getSeq[String](0),
        s"mixed terms of '$q'")
      val terms = (latin ++ mixed :+ q).distinct
      for (nb <- Seq(1, 8, 97)) {
        val frame = frameEval(terms.map(t => pmod(xxhash64(lit(t)), lit(nb.toLong))): _*)
          .toSeq.map(_.asInstanceOf[Long]).distinct.sorted
        assert(InvertedIndex.bucketsOf(spark, terms, nb) == frame, s"buckets of $terms mod $nb")
      }
    }
    assert(InvertedIndex.bucketsOf(spark, Nil, 8).isEmpty)
  }

  test("BM25: searchText on a mixed-tokenizer index; searchMany with shared and unmatched terms") {
    import spark.implicits._
    val extra = Seq(
      (5001L, "中文分词是基础 merge table"),
      (5002L, "我们做分词处理"),
      (5003L, "中文 分词 vector"),
      (5004L, "混合 mixed doc 中文分词 here"),
      (5005L, "naïve café merge")).toDF("doc_id", "text")
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(extra)
    val idx = InvertedIndex.build(spark, corpus,
      Files.createTempDirectory("served_inv_mixed_").toString, tokenizer = InvertedIndex.Mixed)
    val dist = idx.withConfig(distributed(idx.table.config))
    for (text <- Seq("中文分词", "spark 中文分词 merge", "Merge the TABLE scan", "café naïve")) {
      val s = idx.searchText(text, k = 7)
      assert(isLocal(s), s"searchText($text) served")
      same(s, dist.searchText(text, k = 7), ordered = true, s"searchText($text)")
      same(idx.searchScoresText(text), dist.searchScoresText(text), ordered = false,
        s"searchScoresText($text)")
    }
    // "merge" is shared by three queries; "zzqxv" matches nothing, alone
    // and beside matching terms.
    val many = Seq(
      3L -> Seq("merge", "zzqxv"),
      1L -> Seq("merge", "分词", "table"),
      2L -> Seq("zzqxv"),
      7L -> Seq("table", "merge", "merge"))
    val m = idx.searchMany(many, k = 5)
    assert(isLocal(m))
    same(m, dist.searchMany(many, k = 5), ordered = true, "searchMany")
    same(idx.searchManyScores(many), dist.searchManyScores(many), ordered = false,
      "searchManyScores")
    assert(m.collect().map(_.getLong(0)).distinct.sorted.toSeq == Seq(1L, 3L, 7L))
    idx.table.shutdown()
  }

  test("BM25: a pinned snapshot after append serves the pinned parts") {
    val path = Files.createTempDirectory("served_inv_app_").toString
    val idx = InvertedIndex.build(spark, docs.filter(col("doc_id") < 60), path)
    idx.append(docs.filter(col("doc_id") >= 60))
    // A lightweight delete after the append leaves the pinned snapshot
    // (the append's) untagged: the served path keeps reading it.
    idx.table.deleteLightweight(col("doc_id") === 3L)
    val dist = idx.withConfig(distributed(idx.table.config))
    checkBm25(idx, dist, queries, served = true)
    val full = InvertedIndex.build(spark, docs,
      Files.createTempDirectory("served_inv_full_").toString)
    same(idx.search(queries.head, k = 10), full.search(queries.head, k = 10),
      ordered = true, "append equals rebuild")
    idx.table.shutdown(); full.table.shutdown()
  }

  test("BM25: pending lightweight mutations and an over-budget table go distributed") {
    val path = Files.createTempDirectory("served_inv_lw_").toString
    val idx = InvertedIndex.build(spark, docs.filter(col("doc_id") < 60), path)
    idx.table.deleteLightweight(col("doc_id") === 3L)
    // The append pins a snapshot whose parts carry the pending delete.
    idx.append(docs.filter(col("doc_id") >= 60))
    val dist = idx.withConfig(distributed(idx.table.config))
    checkBm25(idx, dist, queries.filterNot(_ == Seq("zzqxv")), served = false)
    assert(!idx.search(Seq("merge"), k = 100).collect().exists(_.getLong(1) == 3L))
    val fresh = InvertedIndex.build(spark, docs,
      Files.createTempDirectory("served_inv_budget_").toString)
    val tight = fresh.withConfig(fresh.table.config.copy(localScanMaxRows = 10))
    checkBm25(tight, fresh.withConfig(distributed(fresh.table.config)),
      queries.take(2), served = false)
    same(tight.search(queries.head, k = 7), fresh.search(queries.head, k = 7),
      ordered = true, "over budget equals served")
    idx.table.shutdown(); fresh.table.shutdown()
  }

  private def vectors = {
    graft.functions.GraftFunctions.register(spark)
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  }

  private def queriesOf(vs: DataFrame, ids: Seq[Long]) = vs.filter(col("vec_id").isin(ids: _*))
    .select(col("vec_id").as("qid"), col("v").as("qv"))

  private def checkIvf(idx: IvfIndex, dist: IvfIndex, q: DataFrame, served: Boolean): Unit =
    for (excludeSelf <- Seq(true, false); nprobe <- Seq(3, idx.nlist)) {
      val s = idx.search(q, k = 10, nprobe = nprobe, excludeSelf = excludeSelf)
      val what = s"ivf search(nprobe=$nprobe, excludeSelf=$excludeSelf)"
      assert(isLocal(s) == served, s"$what served=$served")
      same(s, dist.search(q, k = 10, nprobe = nprobe, excludeSelf = excludeSelf),
        ordered = true, what)
    }

  test("IVF: served search equals the distributed plan; excludeSelf both ways") {
    val idx = IvfIndex.build(spark, vectors,
      Files.createTempDirectory("served_ivf_").toString, nlist = 8)
    val dist = idx.withConfig(distributed(idx.table.config))
    checkIvf(idx, dist, queriesOf(vectors, 0L until 5L), served = true)
    // An empty query batch serves an empty result.
    checkIvf(idx, dist, queriesOf(vectors, Nil), served = true)
    // A qid repeated in the batch takes the distributed plan.
    checkIvf(idx, dist, queriesOf(vectors, Seq(0L)).union(queriesOf(vectors, Seq(0L, 1L))),
      served = false)
    idx.table.shutdown()
  }

  test("IVF: sim ties and parts spanning several lists after optimize") {
    // Duplicated vectors tie on sim (ties break on vec_id); the zero
    // vector's cosine is NaN, which r6 rounds to 0.0 — a query for it ties
    // every candidate.
    val base = vectors.filter(col("vec_id") < 120).collect().toSeq
    val rows = base ++ base.take(30).map(r => Row(r.getLong(0) + 1000, r.get(1))) :+
      Row(5000L, Seq.fill(base.head.getSeq[Double](1).size)(0.0))
    val vs = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("vec_id", LongType), StructField("v", ArrayType(DoubleType)))))
    val src = IvfIndex.build(spark, vs,
      Files.createTempDirectory("served_ivf_src_").toString, nlist = 8)
    // The same index laid out unpartitioned: three batches across every
    // list, compacted into one part that spans all of them.
    val path = Files.createTempDirectory("served_ivf_span_").toString
    val t = ColumnarMergeTree.create(spark, path, src.table.schema, Seq("cid"),
      MergeTreeConfig(maxParts = 2))
    val all = src.table.scan()
    (0 until 3).foreach(i => t.insertBatch(all.filter(col("vec_id") % 3 === i)))
    t.optimize()
    t.refresh()
    assert(t.partCount == 1 && t.parts.head.minKey != t.parts.head.maxKey,
      s"expected one part spanning several cids: ${t.parts}")
    val cdir = Paths.get(src.path, "_centroids")
    Files.walk(cdir).iterator().asScala.toList.foreach { f =>
      Files.copy(f, Paths.get(path, "_centroids").resolve(cdir.relativize(f).toString))
    }
    val idx = IvfIndex.open(spark, path)
    val dist = idx.withConfig(distributed(idx.table.config))
    val q = queriesOf(vs, Seq(0L, 1L, 2L, 1000L, 5000L))
    checkIvf(idx, dist, q, served = true)
    val r = idx.search(q, k = 10, nprobe = idx.nlist, excludeSelf = true).collect()
    assert(r.exists(x => x.getLong(0) == 0L && x.getLong(2) == 1000L),
      "the duplicate of vector 0 ranks for query 0")
    // Over budget: every face of this index goes distributed and matches.
    val tight = idx.withConfig(idx.table.config.copy(localScanMaxRows = 10))
    checkIvf(tight, dist, q, served = false)
    // A pending lightweight delete goes distributed too.
    t.deleteLightweight(col("vec_id") === 7L)
    checkIvf(IvfIndex.open(spark, path), dist, q, served = false)
    src.table.shutdown(); t.shutdown()
  }

  test("IVF: wide vectors count by bytes — an index over the byte bound goes distributed") {
    // Two indexes over the same 200 ids and row counts, one with 4-dim and
    // one with 512-dim vectors. The byte bound (spark.sql.files.
    // openCostInBytes) is set to the narrow index's size: the narrow probe
    // is served, the wide one — far under localScanMaxRows — takes the
    // distributed plan and matches.
    val rnd = new scala.util.Random(11)
    def index(dim: Int) = {
      val rows = (0L until 200L).map(i => Row(i, Seq.fill(dim)(rnd.nextGaussian())))
      IvfIndex.build(spark, spark.createDataFrame(rows.asJava, StructType(Seq(
          StructField("vec_id", LongType), StructField("v", ArrayType(DoubleType))))),
        Files.createTempDirectory(s"served_ivf_w${dim}_").toString, nlist = 4)
    }
    val (narrow, wide) = (index(4), index(512))
    def bytes(i: IvfIndex) = { i.table.refresh(); i.table.parts.map(_.diskSize).sum }
    assert(bytes(wide) > 8 * bytes(narrow))
    val key = "spark.sql.files.openCostInBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, bytes(narrow).toString)
    try {
      // One query probing every list: its budget is the whole index.
      val all = (i: IvfIndex) => i.search(queriesOf(i.table.scan(), Seq(3L)), k = 10,
        nprobe = i.nlist, excludeSelf = false)
      assert(isLocal(all(narrow)), "the narrow index fits the byte bound")
      assert(!isLocal(all(wide)), "the wide index is over the byte bound")
      for (i <- Seq(narrow, wide))
        checkIvf(i, i.withConfig(distributed(i.table.config)),
          queriesOf(i.table.scan(), Seq(3L)), served = i eq narrow)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    narrow.table.shutdown(); wide.table.shutdown()
  }
}
