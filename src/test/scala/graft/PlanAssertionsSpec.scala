package graft

import graft.queries.{AnalyticQueries, PipelineQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the declared queries must compile to the plans
  * a 1000-executor deployment needs — filters reaching the parquet scan,
  * column-pruned ReadSchema, broadcast joins for small sides, top-k without
  * a global sort, no cartesian products anywhere, and whole-stage codegen
  * on the hot paths. This pins the scale posture the scaladocs claim, so a
  * regression in Catalyst planning (or in our query shapes) fails CI, not a
  * production run.
  */
class PlanAssertionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("mt scans: (key,ts) dedup + global order in ONE range exchange") {
    // The dedup-sort shape: the custom bounded range exchange (split keys
    // from persisted part key samples — NO sampling job, see
    // BoundedRangeRepartition) satisfies the aggregate's clustering
    // requirement, so groupBy plans no further exchange and the
    // partition-local sort restores global order. A stock Exchange of ANY
    // kind appearing here means either the sampling pass came back or the
    // aggregate re-shuffled.
    import graft.mergetree.{KVRow, MergeTreeConfig, MergeTreeTable}
    import spark.implicits._
    val tdir = java.nio.file.Files.createTempDirectory("mt_plan_").toString
    val t = MergeTreeTable.create(spark, tdir,
      MergeTreeConfig(memtableFlushThreshold = 1000000, localScanMaxRows = 0))
    // 300k rows -> ~3 range partitions from the ~128k/task sizing (a
    // smaller table sizes to 1 and the exchange degenerates to
    // SinglePartition — legal, but then the shape under test isn't
    // exercised).
    val rows = (0 until 300000).map(i => KVRow(f"key_${i % 2000}%05d", s"v$i", i.toLong))
    t.insertBatch(spark.createDataset(rows), partitions = 2)
    for (df <- Seq(t.query("key_00100", "key_01000").toDF(), t.fullScan().toDF())) {
      val p = plan(df)
      assert("BoundedRangeRepartition".r.findAllIn(p).size == 1,
        s"exactly one bounded range exchange on key:\n$p")
      assert("Exchange ".r.findAllIn(p).size == 0,
        s"no stock exchange of any kind in the dedup path:\n$p")
    }
    t.shutdown()
  }

  test("q10: filter and projection are pushed into the parquet scan") {
    val p = plan(AnalyticQueries.q10FilterProject(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"shipdate range must reach the scan:\n$p")
    assert(p.contains("ReadSchema") &&
      p.contains("l_orderkey:bigint,l_linenumber:int,l_quantity:double"),
      s"scan must read only the 4 needed columns:\n$p")
  }

  test("q12: filtered dimension side is broadcast, not shuffled") {
    val p = plan(AnalyticQueries.q12Join3(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"customer side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q14: top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan(AnalyticQueries.q14TopK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"limit+order must fuse:\n$p")
  }

  test("q59: exploded term top-k plans TakeOrderedAndProject over a partial agg") {
    val p = plan(AnalyticQueries.q59ArrayJoin(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"top-100 must fuse, not global-sort:\n$p")
    assert(p.contains("Generate"), s"explode must appear as Generate:\n$p")
  }

  test("q61: LIMIT BY plans WindowGroupLimit, never a full per-group ranking") {
    val p = plan(AnalyticQueries.q61LimitBy(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k filter must push the limit into the per-group sort:\n$p")
  }

  test("q98: domain quota pushes rk<=10 into the per-group sort") {
    val p = plan(PipelineQueries.q98DomainQuota(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"quota filter must plan WindowGroupLimit, not a full per-source sort:\n$p")
  }

  test("q23: query set is broadcast against the embedding scan") {
    val p = plan(PipelineQueries.q23CosineTopK(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query vectors must broadcast:\n$p")
    assert(p.contains("cosine_similarity"), s"native expression must appear:\n$p")
  }

  test("q26: near-dup pairs come from an equi-join on shingle, never all-pairs") {
    val p = plan(PipelineQueries.q26JaccardExact(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"exhaustive Jaccard must stay an equi-join:\n$p")
  }

  test("hot aggregates run inside whole-stage codegen with map-side partials") {
    val df = AnalyticQueries.q9Agg(spark, dir)
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(codegen.contains("WholeStageCodegen"), s"q9 must codegen:\n${codegen.take(500)}")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("partial_sum"),
      s"q9 must hash-aggregate with map-side partials:\n$formatted")
  }

  test("q39: as-of merges both sides through ONE user exchange — no join") {
    // The r16 merge formulation: union the tagged sides, one hash
    // exchange on the key, carry the latest order forward with a
    // per-user ordered window. No join ⇒ no event×orders row
    // multiplication; rows shuffled ∝ events + orders.
    val df = AnalyticQueries.q39AsofJoin(spark, dir)
    val p = plan(df)
    assert(!p.contains("Join"), s"as-of must not multiply rows through a join:\n$p")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"the window must be the only hash exchange:\n$p")
    assert(p.contains("Window"), s"the carry-forward window must plan:\n$p")
  }

  test("q44: key range and column pruning reach the generic connector scan") {
    val p = plan(graft.queries.StorageQueries.q44GenericTable(spark, dir))
    assert(p.contains("mergetree-generic") && p.contains("l_orderkey=[400, 1200]"),
      s"range must be pushed into the connector for part + row-group pruning:\n$p")
    assert(p.contains("cols=l_orderkey,l_quantity,l_returnflag"),
      s"scan must read only the 3 needed columns:\n$p")
  }

  test("q49: EXISTS/NOT EXISTS decorrelate to semi + anti joins") {
    val p = plan(AnalyticQueries.q49ExistsSubquery(spark, dir))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"correlated subqueries must decorrelate to joins:\n$p")
  }

  test("q56: contamination prefilter equi-joins corpus bigrams vs BROADCAST anchors") {
    val p = plan(PipelineQueries.q56Contamination(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"anchor prefilter must be a broadcast equi-join (corpus never shuffled):\n$p")
    assert(!p.contains("CartesianProduct"))
    // The O(corpus x evalSet) nested-loop scan is only legal on the
    // short-snippet fallback, which this eval set never takes.
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"full corpus must not take the nested-loop path:\n$p")
  }

  test("q56: direct (no-prefilter) form streams the corpus against a BROADCAST eval set") {
    val p = plan(PipelineQueries.contamination(spark, dir, prefilter = false))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"eval set must broadcast (corpus scanned once, never shuffled):\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q68: funnel DP is two windows over ONE user shuffle — no self-joins") {
    val p = plan(AnalyticQueries.q68Funnel(spark, dir))
    assert(!p.contains("Join"), s"funnel must not self-join the event stream:\n$p")
    assert("(?<!WindowGroupLimit)\\bWindow\\b".r.findAllIn(p).size == 2,
      s"funnel is exactly two window passes:\n$p")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"both windows and the per-user aggregate must reuse one user shuffle:\n$p")
  }

  test("q71: dictGet plans a codegen map probe, not a join and not a UDF") {
    val p = plan(AnalyticQueries.q71DictGet(spark, dir))
    assert(!p.contains("Join"), s"dictGet must not plan a join:\n$p")
    assert(p.contains("static_invoke"),
      s"dictGet must compile to the StaticInvoke map probe:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"),
      s"dictGet must not route through a Scala UDF:\n$p")
  }

  test("q74: calendar spine joins broadcast, fact side aggregates first") {
    val p = plan(AnalyticQueries.q74WithFill(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"day-spine join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join over the spine:\n$p")
  }

  test("q75: sequenceCount is one lag window, no state machine or join") {
    val p = plan(AnalyticQueries.q75SequenceCount(spark, dir))
    assert(!p.contains("Join"), s"sequenceCount must not self-join:\n$p")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"window + per-user aggregate share one user shuffle:\n$p")
  }

  test("q81: gap window and per-user aggregate share ONE user shuffle") {
    val p = plan(AnalyticQueries.q81EventGaps(spark, dir))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"lag window + aggregate must reuse the same user partitioning:\n$p")
  }

  test("q86: grouping sets is one Expand + aggregate pass, one scan") {
    val p = plan(AnalyticQueries.q86GroupingSets(spark, dir))
    assert(p.contains("Expand"), s"grouping sets must plan Expand:\n$p")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"three aggregation levels must share ONE scan:\n$p")
  }

  test("q87: all three ranking functions share one segment shuffle") {
    val p = plan(AnalyticQueries.q87RankingFamily(spark, dir))
    assert("Exchange hashpartitioning\\(c_mktsegment".r.findAllIn(p).size == 1,
      s"ntile/percent_rank/cume_dist must share the window partitioning:\n$p")
  }

  test("q95/q96: repetition signals are map-side — one shuffle, the rollup's") {
    for ((name, df) <- Seq(
        "q95" -> PipelineQueries.q95Repetition(spark, dir),
        "q96" -> PipelineQueries.q96QualityVerdicts(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("Generate"),
        s"$name: per-bigram explode must not exist (topBigramRun is map-side):\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$name: only the final per-lang/verdict rollup may shuffle:\n$p")
    }
  }

  test("q102: mixture replication is map-side; only the audit rollup shuffles") {
    val p = plan(PipelineQueries.q102MixtureResample(spark, dir))
    assert(p.contains("Generate"), s"copy replication must plan a Generate:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the docs_in/emitted join is on a 5-row aggregate — never a shuffle join:\n$p")
  }

  test("q103: eval 13-grams broadcast; the corpus is never shuffle-joined") {
    val p = plan(PipelineQueries.q103NgramContamination(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"corpus grams must meet the eval grams via broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side must not shuffle for the join:\n$p")
  }

  test("q108: shuffles key on the chunk digest, never the chunk text") {
    // Pinned on the LAZY builder face (the public entry collapses to a
    // LocalRelation after its single-pass materialization, r16).
    val (out, inst) = PipelineQueries.q108Plan(spark, dir)
    try {
      val p = plan(out)
      // Both the df aggregate and the join back shuffle on xxhash64(c);
      // the chunk text itself is dropped map-side (only its length
      // survives), so no exchange carries the ~60-char chunk string.
      assert("Exchange hashpartitioning\\(ch".r.findAllIn(p).nonEmpty,
        s"df aggregate and join must exchange on the 8-byte digest:\n$p")
      assert(!"Exchange hashpartitioning\\(c[#,]".r.findAllIn(p).hasNext,
        s"no exchange may key on the raw chunk text:\n$p")
    } finally inst.unpersist()
  }

  test("q116: shuffles key on the window digest, never the window text") {
    val (out, persisted) = PipelineQueries.q116Plan(spark, dir)
    try {
      val p = plan(out)
      assert("Exchange hashpartitioning\\(h".r.findAllIn(p).nonEmpty,
        s"window df and join-back must exchange on the 8-byte digest:\n$p")
      assert(!"Exchange hashpartitioning\\(w[#,]".r.findAllIn(p).hasNext,
        s"no exchange may key on the raw 15-token window text:\n$p")
    } finally persisted.foreach(_.unpersist())
  }

  test("q110: BM25 scoring reuses the per-doc partitioning; df is literal") {
    val (out, perDoc) = PipelineQueries.q110Plan(spark, dir)
    try {
      val p = plan(out)
      // Every hash exchange keys on doc_id — the per-doc tf/dl aggregate
      // (its cached-build plan renders once more inside the
      // InMemoryTableScan node, hence counting by KEY, not occurrences);
      // the melt and the per-document score sum preserve that
      // partitioning, and df arrives as driver-folded literals, not a
      // join.
      val total = "Exchange hashpartitioning".r.findAllIn(p).size
      val onDoc = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
      assert(total == onDoc && onDoc >= 1,
        s"score sum must reuse the doc_id partitioning ($onDoc/$total):\n$p")
      assert(!p.contains("Join"), s"df must be literals, never a join:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"top-15 must plan TakeOrderedAndProject, not a global sort:\n$p")
    } finally perDoc.unpersist()
  }

  /** `idx` reopened with the driver-local serve off: the plan pins below
    * read the distributed search plans, which probes over the table's
    * localScanMaxRows take (ServedSearchSpec pins local = distributed).
    */
  private def distributedView(idx: graft.operators.InvertedIndex) =
    idx.withConfig(idx.table.config.copy(localScanMaxRows = 0))

  test("q111: term filter pushes into the postings scan; df is a window, no join") {
    val served = plan(PipelineQueries.q111Bm25Index(spark, dir))
    assert(served.startsWith("LocalTableScan [rk#"),
      s"q111 within the budget is served as a LocalTableScan:\n$served")
    val p = plan(distributedView(PipelineQueries.invIndexOf(spark, dir))
      .search(PipelineQueries.bm25Terms, k = 15))
    assert(p.contains("In(term"),
      s"the term IN filter must reach the postings parquet scan:\n$p")
    // r16: per-term df is a whole-partition window count over the SAME
    // posting rows — the old groupBy+broadcast join read the postings
    // twice. No join of any kind remains in the probe.
    assert(!p.contains("Join"),
      s"df must ride the posting rows as a window, never a join:\n$p")
    assert(p.contains("Window"), s"the df window must plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-15 must plan TakeOrderedAndProject, not a global sort:\n$p")
  }

  test("q113: bigram instances are map-side; LM tables broadcast at this scale") {
    val (out, c2) = PipelineQueries.q113Plan(spark, dir)
    try {
      val p = plan(out)
      assert(p.contains("Generate"),
        s"bigram construction must be a map-side explode, not a position join:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"the vocab-bounded LM count tables must broadcast onto instances:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"worst-15 must plan TakeOrderedAndProject, not a global sort:\n$p")
    } finally c2.unpersist()
  }

  test("q48/q115: probed corpus rows meet the query-batch probe via broadcast") {
    // The probe set is |queries|·nprobe rows; the probed vectors scale
    // with the corpus. A sort-merge join here would shuffle corpus rows.
    // Centroids are ranked on the driver, so the broadcast probe is a
    // local (qid, qv, cid) relation and no query × centroid cross join is
    // planned. q48's probe fits the index's localScanMaxRows, so the
    // entry is served on the driver; its distributed plan is pinned on
    // the same index reopened with the local path off.
    val idx = PipelineQueries.q48Index(spark, dir)
    val served = plan(SparkEntry.queries("q48_ivf_index")(spark, dir))
    assert("""^LocalTableScan \[qid#\d+L?, rnk#\d+, vec_id#\d+L?, sim#""".r
        .findFirstIn(served).isDefined,
      s"q48: the served search must be a LocalTableScan:\n$served")
    val q48Dist = PipelineQueries.q48Search(spark, dir,
      idx.withConfig(idx.table.config.copy(localScanMaxRows = 0)))
    for ((name, df) <- Seq("q48_ivf_index" -> q48Dist,
        "q115_ivfadc" -> SparkEntry.queries("q115_ivfadc")(spark, dir))) {
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"),
        s"$name: probe side must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$name: corpus side must never shuffle for the probe join:\n$p")
      assert("""BroadcastExchange .*\n[ :|]*\+- LocalTableScan \[qid#\d+L?, qv#\d+, cid#""".r
          .findFirstIn(p).isDefined,
        s"$name: the broadcast probe must be a LocalTableScan:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name: no probe cross join:\n$p")
    }
  }

  test("q117/q125: the compositions plan like their components end to end") {
    // The composed pipelines must not introduce shapes their standalone
    // stages don't have: the eval-gram side broadcasts (q103's pin), no
    // cartesian/nested-loop join anywhere, no exchange keys on raw
    // document text (dedup windows key on the md5 digest, packing on
    // lang), and no unpartitioned global window. q125 (per-lang tokenizer
    // routing) shares the composeBuild skeleton — pin both builds so the
    // routed token expressions can't regress the plan shape.
    for (build <- Seq(PipelineQueries.q117Build _, PipelineQueries.q125Build _)) {
      val (out, persisted) = build(spark, dir)
      try {
        val p = plan(out)
        assert(p.contains("BroadcastHashJoin"),
          s"the eval-gram side must broadcast onto the survivor grams:\n$p")
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
          s"composition must not plan a cartesian/nested-loop join:\n$p")
        assert(!"Exchange hashpartitioning\\(text".r.findAllIn(p).hasNext,
          s"raw document text must never key an exchange:\n$p")
        // Every window carries a partition spec (the md5 digest or lang):
        // an unpartitioned window spec would start with its ORDER column.
        assert(!"windowspecdefinition\\((?!_w|lang)".r.findAllIn(p).hasNext,
          s"windows must partition on the digest or lang, never global:\n$p")
      } finally persisted.foreach(_.unpersist())
    }
  }

  test("q126: lexical side reads only pruned index buckets; fusion is WindowGroupLimit") {
    // The entry as it runs: the lexical side fits the index's
    // localScanMaxRows and is served as a local relation; the vector side
    // and the fusion stay distributed.
    val p = plan(PipelineQueries.q126HybridRrf(spark, dir))
    assert("""LocalTableScan \[qid#\d+L, doc_id#\d+L, lrk#""".r.findFirstIn(p).isDefined,
      s"the served lexical side must be a LocalTableScan:\n$p")
    // Top-10-per-query fuses through WindowGroupLimit, never a full sort.
    assert(p.contains("WindowGroupLimit"), s"fusion top-k must group-limit:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast cartesian:\n$p")
    // Over the budget, the BM25 list is served from the persisted index:
    // term IN (...) pushed into the posting scan, each scanned file a
    // bucket part.
    val d = plan(PipelineQueries.q126On(spark, dir,
      distributedView(PipelineQueries.invIndexOf(spark, dir))))
    assert(d.contains("In(term"), s"query terms must reach the posting scan:\n$d")
    assert(d.contains("inv_idx_"), s"lexical side must read the persisted index:\n$d")
    assert(d.contains("WindowGroupLimit"), s"fusion top-k must group-limit:\n$d")
    assert(!d.contains("CartesianProduct"), s"no unbroadcast cartesian:\n$d")
  }

  test("q134: chunk-lexical side reads only pruned chunk-index buckets; " +
    "chunk→doc fold is one hash aggregate; fusion group-limits") {
    // The entry as it runs: the chunk-lexical side is served as a local
    // relation (see q126); the fusion pins hold on it.
    val p = plan(PipelineQueries.q134ChunkHybrid(spark, dir))
    assert("""LocalTableScan \[qid#\d+L, doc_id#\d+L, sk#""".r.findFirstIn(p).isDefined,
      s"the served chunk-lexical side must be a LocalTableScan:\n$p")
    // Per-query top-10 through WindowGroupLimit, never a full sort.
    assert(p.contains("WindowGroupLimit"), s"fusion top-k must group-limit:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast cartesian:\n$p")
    // The chunk→doc max-chunk fold and the fusion never shuffle on text.
    assert(!"hashpartitioning\\(te?xt".r.findAllIn(p).hasNext,
      s"no text-keyed exchange:\n$p")
    val d = plan(PipelineQueries.q134On(spark, dir,
      distributedView(PipelineQueries.chunkIndexOf(spark, dir))))
    assert(d.contains("In(term"), s"query terms must reach the posting scan:\n$d")
    assert(d.contains("inv_chunks_"),
      s"lexical side must read the persisted CHUNK index:\n$d")
    assert(d.contains("WindowGroupLimit"), s"fusion top-k must group-limit:\n$d")
    assert(!d.contains("CartesianProduct"), s"no unbroadcast cartesian:\n$d")
    assert(!"hashpartitioning\\(te?xt".r.findAllIn(d).hasNext,
      s"no text-keyed exchange:\n$d")
  }

  test("q127: LM table broadcasts into the token join; per-lang top-k group-limits") {
    // The entry collapses its topN×|langs| result to a LocalRelation (so
    // the lm persist can be released) — the plan pins read the LAZY
    // scoring frame the entry executes internally.
    import org.apache.spark.sql.functions.{col, count, explode, length,
      lit, lower, split, sum, when}
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val toks = d.select(col("doc_id"), col("lang"), col("source"),
        explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(length(col("term")) >= 3)
    val lm = toks.groupBy("term").agg(
      count(lit(1)).as("cnt_r"),
      sum(when(col("source") === "src0", 1L).otherwise(0L)).as("cnt_t"))
    val p = plan(PipelineQueries.dsirRankOn(toks, lm, "src0", 5))
    // The vocabulary-sized LM side must broadcast (AQE does at this SF; at
    // 100 TB it legitimately grows into a sort-merge join — the pin is
    // that the CORPUS side is never the built/broadcast side).
    assert(p.contains("BroadcastHashJoin"), s"LM side must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"per-lang top-5 must group-limit:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
    // No exchange may be keyed on the raw text column (tokens explode
    // map-side; only doc_id/term/lang key shuffles).
    assert(!"hashpartitioning\\(text".r.findAllIn(p).hasNext,
      s"no text-keyed exchange:\n$p")
  }

  test("no declared query plans a cartesian product") {
    // IVF/top-k queries intentionally broadcast tiny sides (nested-loop with
    // a broadcast side is fine); an unbroadcast CartesianProduct is not.
    SparkEntry.queries.foreach { case (name, fn) =>
      val p = try plan(fn(spark, dir)) catch { case _: Throwable => "" }
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }
}
