package graft

import graft.operators.InvertedIndex
import graft.queries.PipelineQueries
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted BM25 inverted index: index-vs-brute-force equivalence on
  * the real testdata (the property q110/q111 sharing one oracle relies
  * on), manifest part pruning at probe time, reopen, and the
  * bucket-auto-sizing rule.
  */
class InvertedIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val sf = "/root/testdata/sf0.001"

  private lazy val idx: InvertedIndex = InvertedIndex.build(
    spark,
    spark.read.parquet(s"$sf/documents.parquet"),
    java.nio.file.Files.createTempDirectory("inv_spec_").toString)

  test("index search reproduces the brute-force BM25 ranking bit for bit") {
    val brute = PipelineQueries.q110Bm25(spark, sf).collect().toSeq
    val served = idx.search(Seq("dup", "vector", "merge"), k = 15).collect().toSeq
    assert(served == brute)
    assert(brute.size == 15)
    // The rare term should dominate: every top-ranked doc matched ≥2 terms
    // and rank 1 carries the highest score.
    assert(brute.head.getLong(3) >= brute.last.getLong(3))
  }

  test("a probe reads only the query terms' buckets (manifest pruning)") {
    val one = idx.search(Seq("dup"), k = 5)
    assert(one.count() == 5)
    val (planned, total) = idx.lastPruning
    assert(total > 1, s"index should hold multiple bucket parts, had $total")
    assert(planned < total,
      s"single-term probe should prune parts: planned $planned of $total")
  }

  test("multi-term ranking is stable for a single common term") {
    // A one-term query is a pure tf/dl ranking; every returned doc matched
    // exactly that term.
    val r = idx.search(Seq("merge"), k = 10).collect()
    assert(r.length == 10)
    assert(r.forall(_.getLong(2) == 1L))
    assert(r.map(_.getLong(0)).toSeq == (1L to 10L))
  }

  test("reopen serves the identical ranking from disk") {
    val reopened = InvertedIndex.open(spark, idx.path)
    val a = idx.search(Seq("dup", "vector", "merge"), k = 15).collect().toSeq
    val b = reopened.search(Seq("dup", "vector", "merge"), k = 15).collect().toSeq
    assert(a == b)
  }

  test("bucket count auto-sizes with the vocabulary (√V rule)") {
    assert(InvertedIndex.autoNbuckets(30) == 8)
    assert(InvertedIndex.autoNbuckets(10000) == 32)
    assert(InvertedIndex.autoNbuckets(100000000) == 4096)
    // The local corpus (~30 terms) lands the floor.
    assert(idx.nbuckets == 8)
  }

  test("phrase search matches positions recomputed from the corpus") {
    for (phrase <- Seq(Seq("fast", "merge"), Seq("batch", "batch"),
        Seq("table", "scan", "merge"))) {
      val toks = InvertedIndex.tokenizeWithPos(
        spark.read.parquet(s"$sf/documents.parquet"))
      def pos(t: String, i: Int) =
        toks.filter(col("term") === t)
          .select(col("doc_id").as(s"d$i"), col("pos").as(s"p$i"))
      val expected = phrase.zipWithIndex.tail.foldLeft(pos(phrase.head, 0)) {
        case (acc, (t, i)) =>
          acc.join(pos(t, i),
            col("d0") === col(s"d$i") && col(s"p$i") === col("p0") + i)
      }.groupBy(col("d0").as("doc_id")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = idx.phraseSearch(phrase, k = 100000).collect()
        .map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(got == expected, s"phrase $phrase")
    }
  }

  test("append == rebuild: searches after append equal a from-scratch index") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val half1 = d.filter(col("doc_id") % 2 === 0)
    val half2 = d.filter(col("doc_id") % 2 === 1)
    val grown = InvertedIndex.build(spark, half1,
      java.nio.file.Files.createTempDirectory("inv_grow_").toString)
    grown.append(half2)
    val full = InvertedIndex.build(spark, d,
      java.nio.file.Files.createTempDirectory("inv_full_").toString)
    val q = Seq("dup", "vector", "merge")
    assert(grown.search(q, k = 15).collect().toSeq ==
      full.search(q, k = 15).collect().toSeq)
    assert(grown.phraseSearch(Seq("table", "scan", "merge"), k = 15)
        .collect().toSeq ==
      full.phraseSearch(Seq("table", "scan", "merge"), k = 15)
        .collect().toSeq)
    // The appended buckets landed as ADDITIONAL parts of the same table.
    assert(grown.table.scan().count() == full.table.scan().count())
  }

  test("SQL table functions bm25_search / phrase_search serve the persisted index") {
    val viaSql = spark.sql(
      s"SELECT * FROM bm25_search('${idx.path}', 'dup vector merge', 15)")
      .collect().toSeq
    val viaApi = idx.searchText("dup vector merge", 15).collect().toSeq
    assert(viaSql.map(_.toSeq) == viaApi.map(_.toSeq) && viaSql.size == 15)
    val pSql = spark.sql(
      s"SELECT doc_id FROM phrase_search('${idx.path}', 'table scan merge', 15)")
      .collect().map(_.getLong(0)).toSet
    val pApi = idx.phraseSearchText("table scan merge", 15)
      .collect().map(_.getLong(1)).toSet
    assert(pSql == pApi && pSql.nonEmpty)
    // the SQL face composes like any relation
    assert(spark.sql(s"SELECT count(*) FROM bm25_search('${idx.path}', 'dup', 5) " +
      "WHERE score > 0").collect().head.getLong(0) == 5)
    // bad arguments fail loudly at analysis — including foldable NULLs,
    // which must not NPE or resolve the identifier "null"
    intercept[Exception](spark.sql(
      s"SELECT * FROM bm25_search('${idx.path}', 'dup', 0)").collect())
    intercept[Exception](spark.sql(
      s"SELECT * FROM bm25_search('${idx.path}', '', 5)").collect())
    intercept[Exception](spark.sql(
      s"SELECT * FROM bm25_search('${idx.path}', 'dup', CAST(NULL AS INT))").collect())
    intercept[Exception](spark.sql(
      "SELECT * FROM bm25_search(CAST(NULL AS STRING), 'dup', 5)").collect())
  }

  test("snapshot-pinned search: postings landing without a stats bump stay invisible") {
    import spark.implicits._
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val t = InvertedIndex.build(spark, d,
      java.nio.file.Files.createTempDirectory("inv_pin_").toString)
    val q = Seq("dup", "vector", "merge")
    val before = t.search(q, k = 15).collect().toSeq
    // Simulate the crash window of an append: parts published, stats not
    // yet bumped — craft a heavy 'dup' posting in its correct bucket and
    // land it directly in the index table.
    val bucket = spark.range(1)
      .select(pmod(xxhash64(lit("dup")), lit(t.nbuckets.toLong)))
      .first().getLong(0)
    val row = Seq((bucket, "dup", 999999L, 50L, 50L, (1L to 50L)))
      .toDF("bucket", "term", "doc_id", "tf", "dl", "positions")
      .withColumn("positions",
        col("positions").cast(t.table.schema("positions").dataType))
    t.table.insertBatch(row)
    // The orphan posting IS in the live table...
    assert(t.table.scan().filter(col("doc_id") === 999999L).count() == 1)
    // ...but searches stay pinned to the snapshot the stats name: a racing
    // reader sees the WHOLLY-OLD state, never new postings + old totals.
    val after = t.search(q, k = 15).collect().toSeq
    assert(after == before, "search must not see postings newer than its stats")
    assert(!after.exists(_.getLong(1) == 999999L))
  }

  test("concurrent appends: both totals land; search == rebuild (multi-writer index)") {
    val dir1 = java.nio.file.Files.createTempDirectory("inv_mw_").toString
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val grown = InvertedIndex.build(spark, d.filter(col("doc_id") % 3 === 0), dir1)
    // Two appenders race on the same index: the per-index append lock
    // serializes parts-publish + totals-RMW, so neither bump is lost.
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(1, 2).map { m =>
      new Thread(() =>
        try grown.append(d.filter(col("doc_id") % 3 === m))
        catch { case e: Throwable => errs.add(e) })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent appends must both succeed: ${errs.peek()}")
    val full = InvertedIndex.build(spark, d,
      java.nio.file.Files.createTempDirectory("inv_mw_full_").toString)
    // Exact totals equality with a from-scratch rebuild — a lost bump
    // would shift n_docs/total_dl and every idf/avgdl with it.
    val a = InvertedIndex.readStats(dir1)
    val b = InvertedIndex.readStats(full.path)
    assert((a.n_docs, a.n_dl_docs, a.total_dl) ==
      ((b.n_docs, b.n_dl_docs, b.total_dl)),
      s"totals after racing appends must equal the rebuild: $a vs $b")
    // and the seq the stats pin is the index's latest snapshot
    assert(a.seq.contains(grown.table.snapshots.last))
    val q = Seq("dup", "vector", "merge")
    assert(grown.search(q, k = 15).collect().toSeq ==
      full.search(q, k = 15).collect().toSeq)
  }

  test("compaction of append-grown parts leaves every query unchanged") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val t = InvertedIndex.build(spark, d.filter(col("doc_id") % 2 === 0),
      java.nio.file.Files.createTempDirectory("inv_opt_").toString)
    t.append(d.filter(col("doc_id") % 2 === 1))
    val q = Seq("dup", "vector", "merge")
    val before = t.search(q, k = 15).collect().toSeq
    val beforePhrase = t.phraseSearch(Seq("table", "scan", "merge"), k = 15)
      .collect().toSeq
    val partsBefore = t.table.partCount
    t.table.optimizeFinal()
    // Merges are bucket-local (PARTITION BY bucket): compaction re-bins
    // append-grown parts of the SAME bucket, so probe bounds never widen
    // across buckets — and results must be identical.
    assert(t.table.partCount < partsBefore)
    assert(t.search(q, k = 15).collect().toSeq == before)
    assert(t.phraseSearch(Seq("table", "scan", "merge"), k = 15)
      .collect().toSeq == beforePhrase)
  }

  test("randomized corpora: index search == brute-force q110 arithmetic") {
    // Synthetic corpora with a seeded vocabulary — the index must agree
    // with an independent brute-force scoring for query terms spanning
    // rare/common/absent, on shapes the real testdata doesn't cover
    // (single-token docs, empty-after-filter docs, absent query terms).
    import spark.implicits._
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "rarissimus")
    val rnd = new scala.util.Random(20260814)
    for (trial <- 1 to 3) {
      val docs = (0L until 60L).map { id =>
        val n = rnd.nextInt(12) // 0-token docs included on purpose
        val ws = Seq.fill(n)(vocab(
          if (rnd.nextInt(20) == 0) 7 else rnd.nextInt(7)))
        (id, (ws ++ (if (rnd.nextBoolean()) Seq("xy") else Nil)) // short token: filtered
          .mkString(" "))
      }.toDF("doc_id", "text")
      val idx = InvertedIndex.build(spark, docs,
        java.nio.file.Files.createTempDirectory(s"inv_rand$trial").toString)
      val q = Seq("rarissimus", "alpha", "absentterm")
      val got = idx.search(q, k = 60).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet

      // Independent brute force straight from the corpus (the q110 shape).
      val toks = InvertedIndex.tokenize(docs)
      val tf = toks.filter(col("term").isin(q: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val nDocs = docs.count()
      val dlRows = dl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val avgdl = dlRows.values.sum.toDouble / dlRows.size.toDouble
      val dfm = tf.groupBy("term").agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = tf.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .groupBy(_._1).map { case (doc, rows) =>
          val score = rows.map { case (_, t, f) =>
            val df = dfm(t); val d = dlRows(doc)
            val idf = math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
            math.floor(idf * (f * (1.2 + 1.0)) /
              (f + 1.2 * (1.0 - 0.75 + 0.75 * d / avgdl)) * 1e6 + 0.5).toLong
          }.sum
          (doc, rows.length.toLong, score)
        }.toSet
      assert(got == expected, s"trial $trial: index diverged from brute force")
    }
  }

  test("build and append issue O(1) Spark jobs, not one per bucket") {
    // 64 explicit buckets over a ~900-term vocabulary: the per-bucket
    // insertBatch loop this pins against would launch ≥ 64 driver-
    // sequenced jobs; the partitioned-ingest build lands every bucket
    // part in ONE write job (plus a handful of stats/sampling jobs).
    import spark.implicits._
    // letter-only tokens (digits split under [^a-z]+): base-26-ish suffix
    def word(n: Long): String = {
      val a = ('a' + n % 26).toChar; val b = ('a' + (n / 26) % 26).toChar
      val c = ('a' + (n / 676) % 26).toChar
      s"tok$a$b$c"
    }
    def corpus(lo: Long, hi: Long) = (lo until hi).map(id =>
      (id, (0 until 30).map(j => word((id * 31 + j * 7) % 900))
        .mkString(" "))).toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val idx = InvertedIndex.build(spark, corpus(0, 300),
        java.nio.file.Files.createTempDirectory("inv_jobs_").toString,
        nbuckets = 64)
      Thread.sleep(500) // listener events post asynchronously
      val buildJobs = jobs.get()
      assert(idx.table.partCount > 32,
        s"expected ~64 occupied bucket parts, got ${idx.table.partCount}")
      assert(buildJobs <= 20,
        s"build must be O(1) jobs (got $buildJobs for 64 buckets)")
      jobs.set(0)
      idx.append(corpus(300, 400))
      Thread.sleep(500)
      val appendJobs = jobs.get()
      assert(appendJobs <= 20,
        s"append must be O(1) jobs (got $appendJobs for 64 buckets)")
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  /** Spark jobs started while `f` runs on this thread (its job group). */
  private def jobsOf(f: => Any): Int = {
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try f finally spark.sparkContext.clearJobGroup()
      Thread.sleep(500) // listener events post asynchronously
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("index probes run at most 3 Spark jobs; query hashing and tokenizing run none") {
    import spark.implicits._
    val terms = Seq("dup", "vector", "merge")
    val nb = idx.nbuckets
    // Query-sized inputs are evaluated on the driver: the same Catalyst
    // expressions the build used, resolved once and evaluated directly.
    var buckets = Seq.empty[Long]
    assert(jobsOf { buckets = InvertedIndex.bucketsOf(spark, terms, nb) } == 0)
    val hashed = terms.map(t => Seq(t).toDF("t")
      .select(pmod(xxhash64(col("t")), lit(nb.toLong))).first().getLong(0))
    assert(buckets == hashed.distinct.sorted)
    var latin = Seq.empty[String]
    assert(jobsOf { latin = InvertedIndex.queryTerms(
      spark, "Dup, vector of MERGE", InvertedIndex.Latin) } == 0)
    assert(latin == Seq("dup", "vector", "merge"))
    var mixed = Seq.empty[String]
    assert(jobsOf { mixed = InvertedIndex.queryTerms(
      spark, "spark 中文分词", InvertedIndex.Mixed) } == 0)
    assert(mixed == Seq("spark", "中文", "文分", "分词"))
    // Probes within the table's localScanMaxRows are served on the driver
    // and run none; the distributed plans (local path off) stay at ≤ 3.
    val distributed = (c: graft.mergetree.MergeTreeConfig) => c.copy(localScanMaxRows = 0)
    val bm25 = jobsOf(idx.search(terms, k = 10).collect())
    assert(bm25 == 0, s"served BM25 search ran $bm25 jobs")
    val bm25Dist = jobsOf(idx.withConfig(distributed(idx.table.config))
      .search(terms, k = 10).collect())
    assert(bm25Dist <= 3, s"distributed BM25 search ran $bm25Dist jobs")
    // IVF: the quantizer lives in the instance and a local query batch is
    // ranked on the driver, so only the probed-list scoring of the
    // distributed plan runs jobs.
    graft.functions.GraftFunctions.register(spark)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val ivf = graft.operators.IvfIndex.build(spark, vecs,
      java.nio.file.Files.createTempDirectory("ivf_jobs_").toString, nlist = 8)
    val qv = vecs.filter(col("vec_id") === 0).first().getSeq[Double](1)
    val q = Seq((0L, qv)).toDF("qid", "qv")
    val ann = jobsOf(ivf.search(q, k = 10, nprobe = 3, excludeSelf = false).collect())
    assert(ann == 0, s"served IVF search ran $ann jobs")
    val annDist = jobsOf(ivf.withConfig(distributed(ivf.table.config))
      .search(q, k = 10, nprobe = 3, excludeSelf = false).collect())
    assert(annDist <= 3, s"distributed IVF search ran $annDist jobs")
    ivf.table.shutdown()
  }

  test("multilingual tokenizer: Han bigrams per run, isolated chars, mixed script") {
    import spark.implicits._
    // REAL CJK fixtures (the parquet testdata is 100% ASCII — even its
    // lang='zh' rows — so the CJK behavior must pin here, not there).
    val docs = Seq(
      (1L, "中文分词 很好"),                   // two Han runs: 4-char + 2-char
      (2L, "spark 任务 runs on 集群 fast"),    // mixed latin + two 2-char runs
      (3L, "孤"),                              // isolated single Han char
      (4L, "no cjk here at all"),              // latin only
      (5L, "")).toDF("doc_id", "text")
    val got = InvertedIndex.tokenizeMixed(docs).collect()
      .map(r => (r.getLong(0), r.getString(1))).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSeq.sorted }
    // bigrams stay inside their run: no 词很 crossing the space
    assert(got(1L) == Seq("中文", "文分", "分词", "很好").sorted)
    assert(got(2L) == Seq("spark", "runs", "fast", "任务", "集群").sorted)
    // a single-char run emits itself (else the char is unsearchable)
    assert(got(3L) == Seq("孤"))
    assert(got(4L) == Seq("cjk", "here", "all").sorted) // len>=3 filter holds
    assert(!got.contains(5L))
  }

  test("mixed-tokenizer index: CJK BM25, phrase run-boundaries, tokenizer persists") {
    import spark.implicits._
    val docs = Seq(
      (1L, "中文分词是基础"),            // one 6-char run containing 中文分词
      (2L, "我们做分词处理"),            // has 分词, not the phrase 中文分词
      (3L, "中文 分词"),                 // TWO runs: phrase must not cross the space
      (4L, "irrelevant latin text only"),
      (5L, "混合 mixed doc 中文分词 here")).toDF("doc_id", "text")
    val idx = InvertedIndex.build(spark, docs,
      java.nio.file.Files.createTempDirectory("inv_cjk_").toString,
      tokenizer = InvertedIndex.Mixed)
    assert(idx.tokenizer == InvertedIndex.Mixed)
    // BM25 via a raw CJK query string: 中文分词 → bigrams [中文, 文分, 分词]
    val byDoc = idx.searchText("中文分词", k = 10).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(byDoc(1L) == 3 && byDoc(5L) == 3, s"full-phrase docs match all bigrams: $byDoc")
    assert(byDoc(2L) == 1, s"分词-only doc matches one bigram: $byDoc")
    assert(byDoc(3L) == 2, s"no 文分 bigram across the space: $byDoc")
    assert(!byDoc.contains(4L))
    // CJK phrase search: exact consecutive bigrams WITHIN one run only
    val ph = idx.phraseSearchText("中文分词", k = 10).collect()
      .map(_.getLong(1)).toSet
    assert(ph == Set(1L, 5L), s"phrase must respect run boundaries: $ph")
    // latin phrase semantics are unchanged on a mixed index
    val lat = idx.phraseSearchText("mixed doc", k = 10).collect()
      .map(_.getLong(1)).toSet
    assert(lat == Set(5L), s"latin phrase on mixed index: $lat")
    // phrases the tokenizer would SILENTLY alter are rejected loudly:
    // cross-script, dropped short latin words, multi-run CJK
    intercept[IllegalArgumentException](idx.phraseSearchText("mixed 中文", 5))
    intercept[IllegalArgumentException](idx.phraseSearchText("mixed a doc", 5))
    intercept[IllegalArgumentException](idx.phraseSearchText("中文 分词", 5))
    // append tokenizes with the persisted tokenizer
    idx.append(Seq((6L, "再来一个分词")).toDF("doc_id", "text"))
    assert(idx.searchText("分词", k = 10).collect()
      .map(_.getLong(1)).toSet.contains(6L))
  }

  test("q114 ranks only zh-slice documents and matches its own arithmetic") {
    val out = PipelineQueries.q114MultilingualBm25(spark, sf).collect()
    assert(out.nonEmpty, "q114 must return rows (zh docs tokenize)")
    val zhIds = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("lang") === "zh")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.forall(r => zhIds(r.getLong(1))),
      "every ranked doc must come from the zh slice")
  }

  test("searchMany: one batched probe == per-query search() bit for bit") {
    val sets = Seq(
      0L -> Seq("dup", "vector", "merge"),
      1L -> Seq("join", "hash"),
      2L -> Seq("scan", "filter", "column"))
    val batched = idx.searchMany(sets, k = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val sequential = sets.flatMap { case (q, ts) =>
      idx.search(ts, k = 12).collect().map(r =>
        (q, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    }
    assert(batched == sequential,
      s"batched probe drifted from per-query search:\n$batched\nvs\n$sequential")
    // Degenerate and invalid query sets fail loudly.
    intercept[IllegalArgumentException](idx.searchMany(Nil, 5))
    intercept[IllegalArgumentException](
      idx.searchMany(Seq(0L -> Seq("dup"), 0L -> Seq("join")), 5))
    intercept[IllegalArgumentException](
      idx.searchMany(Seq(0L -> Seq.empty[String]), 5))
  }

  test("postings carry the denormalized document length") {
    val p = idx.table.scan()
      .filter(col("term") === "dup")
      .select(col("doc_id"), col("dl"))
    val dl = InvertedIndex.tokenize(
        spark.read.parquet(s"$sf/documents.parquet"))
      .groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val joined = p.as("p").join(dl.as("d"), "doc_id")
      .filter(col("p.dl") =!= col("d.dl"))
    assert(joined.count() == 0)
  }
}
