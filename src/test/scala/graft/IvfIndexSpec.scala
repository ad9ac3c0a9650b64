package graft

import graft.operators.IvfIndex
import graft.queries.PipelineQueries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The persisted IVF index: inverted lists stored as cluster-keyed
  * MergeTree parts, probes served by manifest part pruning.
  */
class IvfIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private def vectors = {
    graft.functions.GraftFunctions.register(spark)
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  }

  private def queries = vectors.filter(col("vec_id") < 5)
    .select(col("vec_id").as("qid"), col("v").as("qv"))

  test("quantizer auto-sizing: ~sqrt(n), power-of-two, floored at 8") {
    // testdata scales reproduce the pinned 8-centroid/3-probe quantizer
    assert(IvfIndex.autoNlist(500) == 8)
    assert(IvfIndex.autoNlist(0) == 8)
    assert(IvfIndex.autoNprobe(8) == 3)
    // growth: within a factor of 2 of sqrt(n)/4, always a power of two
    for (n <- Seq(1L << 16, 1L << 20, 1L << 26, 1L << 30, 1L << 40)) {
      val nl = IvfIndex.autoNlist(n)
      val target = math.sqrt(n.toDouble) / 4.0
      assert(nl >= target && nl < 2 * target,
        s"autoNlist($n)=$nl outside [sqrt(n)/4, sqrt(n)/2)")
      assert(Integer.bitCount(nl) == 1, s"autoNlist($n)=$nl not a power of two")
    }
    // monotone in n; probe fraction stays 3/8
    assert(IvfIndex.autoNlist(1L << 30) <= IvfIndex.autoNlist(1L << 34))
    assert(IvfIndex.autoNprobe(IvfIndex.autoNlist(1L << 30)) ==
      3 * IvfIndex.autoNlist(1L << 30) / 8)
    // auto build at the local scale picks 8 (same as the explicit builds below)
    val path = Files.createTempDirectory("ivf_auto_").toString
    val idx = IvfIndex.build(spark, vectors, path)
    assert(idx.nlist == 8, s"auto build at 500 vectors must pick 8, got ${idx.nlist}")
    idx.table.shutdown()
  }

  test("built index clusters land as one part each and probes prune to them") {
    val path = Files.createTempDirectory("ivf_").toString
    val idx = IvfIndex.build(spark, vectors, path, nlist = 8)
    val parts = idx.table.partCount
    assert(parts >= 2 && parts <= 8, s"expected one part per live cluster, got $parts")
    // probing one cluster reads one part
    idx.table.rangeScan(idx.table.parts.head.minKey.toLong,
      idx.table.parts.head.minKey.toLong).count()
    val (planned, total) = idx.table.lastPruning
    assert(total == parts && planned == 1, s"probe must prune: $planned/$total")
    idx.table.shutdown()
  }

  test("incremental append: new vectors join their clusters and become searchable") {
    val path = Files.createTempDirectory("ivf3_").toString
    // build over the first 400 vectors, append the rest as two micro-batches
    val base = vectors.filter(col("vec_id") < 400)
    val idx = IvfIndex.build(spark, base, path, nlist = 8)
    val partsAfterBuild = idx.table.partCount
    idx.append(vectors.filter(col("vec_id") >= 400 && col("vec_id") < 450))
    idx.append(vectors.filter(col("vec_id") >= 450))
    idx.table.refresh()
    assert(idx.table.totalRows == vectors.count())
    assert(idx.table.partCount > partsAfterBuild) // appended cluster parts
    // appended vectors are found: search for a query that IS an appended
    // vector — its own cluster must contain it, so its top hits include
    // high-sim neighbours from the full corpus (result set non-empty and
    // every returned sim is a real cosine from the corpus)
    val q = vectors.filter(col("vec_id") === 470)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val res = idx.search(q, k = 5, nprobe = 3).collect()
    assert(res.length == 5)
    assert(res.forall(_.getLong(2) != 470)) // self excluded
    // compaction keeps the index healthy: optimize re-bins cluster parts
    idx.table.optimize()
    idx.table.refresh()
    val resAfter = idx.search(q, k = 5, nprobe = 3).collect()
    assert(res.map(_.getLong(2)).toSeq == resAfter.map(_.getLong(2)).toSeq,
      "compaction must not change search results")
    idx.table.shutdown()
  }

  test("IVFADC: recall >= 0.8@10 vs exact; probe prunes; rerank bound holds") {
    val path = Files.createTempDirectory("ivfadc_").toString
    val idx = IvfIndex.buildAdc(spark, vectors, path, nlist = 8)
    val n = vectors.count().toInt
    val shortlist = math.max(50, n / 5)
    val got = idx.searchAdc(queries, k = 10, nprobe = 3, shortlist).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (q, vs) => q -> vs.map(_._2).toSet }
    // exact brute force = search with every cluster probed (exact re-rank)
    val exact = idx.search(queries, k = 10, nprobe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (q, vs) => q -> vs.map(_._2).toSet }
    val recalls = exact.map { case (q, e) =>
      got.getOrElse(q, Set.empty).intersect(e).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"IVFADC recall@10 $mean < 0.8 (per-query: $recalls)")
    // part pruning: a BOUNDED probe plans a strict subset of the parts.
    // Measured on a single-query nprobe=3 probe: the exact nprobe=8 search
    // above now legitimately plans every part in ONE coalesced range scan
    // (probed cid runs merge, round-16), where the old per-cid union left
    // lastPruning showing the final 1-cluster scan regardless of how many
    // clusters the batch actually read.
    idx.searchAdc(queries.limit(1), k = 10, nprobe = 3, shortlist).collect()
    val (planned, total) = idx.lastPruning
    assert(planned < total, s"ADC probe must prune parts: $planned/$total")
    // the exact re-rank input is capped at |queries|·shortlist rows —
    // searchAdc computes true cosines on adcShortlist's output ONLY
    // (structural: same DataFrame), so this bound IS the rerank bound.
    val shortRows = idx.adcShortlist(queries, nprobe = 3, shortlist = 20).count()
    assert(shortRows == 5L * 20,
      s"shortlist must cap the exact-rerank input, got $shortRows")
    idx.table.shutdown()
  }

  test("IVFADC degenerate case (full probe, full shortlist) equals exact search") {
    val path = Files.createTempDirectory("ivfadc_deg_").toString
    val idx = IvfIndex.buildAdc(spark, vectors, path, nlist = 8)
    val n = vectors.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toList
    // probing all lists + a corpus-sized shortlist re-ranks everything
    // exactly — ADC ordering can't drop a true neighbour from a full list
    val adc = rows(idx.searchAdc(queries, k = 10, nprobe = 8, shortlist = n))
    val exact = rows(idx.search(queries, k = 10, nprobe = 8))
    assert(adc == exact, "full-probe/full-shortlist IVFADC must equal exact")
    idx.table.shutdown()
  }

  test("IVFADC append encodes against the fixed codebooks and stays searchable") {
    val path = Files.createTempDirectory("ivfadc_app_").toString
    val idx = IvfIndex.buildAdc(spark, vectors.filter(col("vec_id") < 400),
      path, nlist = 8)
    idx.append(vectors.filter(col("vec_id") >= 400))
    idx.table.refresh()
    assert(idx.table.totalRows == vectors.count())
    // appended rows carry codes (schema-complete) and rank via ADC
    val res = idx.searchAdc(queries, k = 10, nprobe = 8,
      shortlist = vectors.count().toInt).collect()
    assert(res.length == 50)
    assert(res.map(_.getLong(2)).exists(_ >= 400),
      "appended vectors must be reachable through the ADC path")
    idx.table.shutdown()
  }

  test("concurrent ADC appends: both batches land; search == rebuild (multi-writer index)") {
    // The InvertedIndex twin spec: two appenders race on one index. The
    // IVF index has NO stats sidecar to read-modify-write — everything
    // derived lives in the rows and the manifest — so the manifest CAS
    // alone must make both batches land (a lost batch would shrink
    // totalRows and drop vectors from every later search).
    val path = Files.createTempDirectory("ivf_mw_").toString
    val idx = IvfIndex.buildAdc(spark, vectors.filter(col("vec_id") % 3 === 0),
      path, nlist = 8)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(1, 2).map { m =>
      new Thread(() =>
        try idx.append(vectors.filter(col("vec_id") % 3 === m))
        catch { case e: Throwable => errs.add(e) })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent appends must both succeed: ${errs.peek()}")
    idx.table.refresh()
    val n = vectors.count()
    assert(idx.table.totalRows == n,
      s"both racing batches must land: ${idx.table.totalRows} of $n rows")

    // Search equality with a from-scratch rebuild: nprobe = nlist makes
    // the IVF path exact brute-force, and a corpus-sized shortlist makes
    // the ADC re-rank total — quantizer/codebook drift between the two
    // builds cannot move either answer.
    val rebuilt = IvfIndex.buildAdc(spark, vectors,
      Files.createTempDirectory("ivf_mw_full_").toString, nlist = 8)
    val a = idx.search(queries, k = 5, nprobe = 8).collect().toSeq
    val b = rebuilt.search(queries, k = 5, nprobe = 8).collect().toSeq
    assert(a == b, s"post-race IVF search must equal rebuild:\n$a\nvs\n$b")
    val aa = idx.searchAdc(queries, k = 5, nprobe = 8, shortlist = n.toInt)
      .collect().toSeq
    val bb = rebuilt.searchAdc(queries, k = 5, nprobe = 8, shortlist = n.toInt)
      .collect().toSeq
    assert(aa == bb, s"post-race ADC search must equal rebuild:\n$aa\nvs\n$bb")
    idx.table.shutdown(); rebuilt.table.shutdown()
  }

  /** The crossJoin + row_number spelling search() replaced, kept as the
    * reference: centroids read from the sidecar and ranked per query by a
    * window over the query × centroid cross join, the probed lists
    * scored, and the top-k globally sorted.
    */
  private def referenceSearch(idx: IvfIndex, q: DataFrame, k: Int,
      nprobe: Int, excludeSelf: Boolean): DataFrame = {
    def cosine(a: Column, b: Column) = call_function("cosine_similarity", a, b)
    def r6(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("double") / 1e6
    val c = spark.read.parquet(s"${idx.path}/_centroids")
    val pw = Window.partitionBy(col("qid")).orderBy(col("psim").desc, col("cid"))
    val probe = q.crossJoin(broadcast(c))
      .select(col("qid"), col("qv"), col("cid"),
        r6(cosine(col("qv"), col("cv"))).as("psim"))
      .withColumn("rn", row_number().over(pw)).filter(col("rn") <= nprobe)
      .select(col("qid"), col("qv"), col("cid"))
    val scored = idx.table.scan().join(broadcast(probe), Seq("cid"))
      .filter(if (excludeSelf) col("vec_id") =!= col("qid") else lit(true))
      .select(col("qid"), col("vec_id"), r6(cosine(col("qv"), col("v"))).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vec_id"), col("sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  test("driver-side probe == the crossJoin + row_number reference, ties included") {
    def same(idx: IvfIndex, q: DataFrame, nprobe: Int, ex: Boolean): Unit = {
      val got = idx.search(q, k = 10, nprobe, ex).collect().toSeq
      val want = referenceSearch(idx, q, 10, nprobe, ex).collect().toSeq
      assert(got.nonEmpty && got == want,
        s"nprobe=$nprobe excludeSelf=$ex:\n$got\nvs\n$want")
    }
    // The 5-query parquet-backed batch on the testdata index, ranked,
    // partial and exact (every list) probes.
    val idx = IvfIndex.build(spark, vectors,
      Files.createTempDirectory("ivf_ref_").toString, nlist = 8)
    for (nprobe <- Seq(1, 3, 8, 20); ex <- Seq(true, false))
      same(idx, queries, nprobe, ex)
    idx.table.shutdown()
    // Centroid ties: with no Lloyd step the centroids are vectors 0-3, the
    // unit axes x, y, z and -x. Query 100 sits exactly between x and y,
    // query 101 between x, y and z, so nprobe = 1 must take cid 0 and
    // nprobe = 2 cids 0 and 1. Queries 4 and 9 are corpus rows, which
    // excludeSelf drops from their own results.
    import spark.implicits._
    val axes = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0),
      Seq(-1.0, 0.0, 0.0))
    val corpus = axes.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (4 until 40).map { i =>
        val a = axes(i % 4); val j = 0.05 * (i / 4)
        (i.toLong, Seq(a(0) + j, a(1) + j / 2, a(2) + j / 3))
      }
    val tie = IvfIndex.build(spark, corpus.toDF("vec_id", "v"),
      Files.createTempDirectory("ivf_tie_").toString, nlist = 4, lloydIters = 0)
    val tq = (Seq((100L, Seq(1.0, 1.0, 0.0)), (101L, Seq(1.0, 1.0, 1.0))) ++
      Seq(4, 9).map(i => corpus(i))).toDF("qid", "qv")
    for (nprobe <- Seq(1, 2, 3); ex <- Seq(true, false)) same(tie, tq, nprobe, ex)
    val cidOf = tie.table.scan().select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hit = tie.search(tq.filter(col("qid") === 100L), k = 40, nprobe = 1,
      excludeSelf = false).collect().map(r => cidOf(r.getLong(2))).toSet
    assert(hit == Set(0L), s"a tied probe must take the lower cid, got $hit")
    tie.table.shutdown()
  }

  test("index search equals q28 (same quantizer) and survives reopen") {
    val path = Files.createTempDirectory("ivf2_").toString
    val idx = IvfIndex.build(spark, vectors, path, nlist = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toList
    // identical init (vec_id < 8), train sample (mod 4), and 2 Lloyd steps
    // as q28IvfAnn -> identical centroids, assignment, probes, results
    val viaIndex = rows(idx.search(queries, k = 10, nprobe = 3))
    val viaQ28 = rows(PipelineQueries.q28IvfAnn(spark, dir))
    assert(viaIndex == viaQ28, "persisted index must reproduce q28 exactly")
    idx.table.shutdown()
    val reopened = IvfIndex.open(spark, path)
    assert(rows(reopened.search(queries, k = 10, nprobe = 3)) == viaQ28)
    // The build-time merge budget (maxParts = 2·nlist) must survive reopen
    // — a default-config reopen would let a later OPTIMIZE bin-pack far
    // below the cluster count (the InvertedIndex.open discipline).
    assert(reopened.table.config.maxParts == 16,
      s"reopened ADC/IVF index lost its merge budget: ${reopened.table.config.maxParts}")
    // The SQL face serves the same index: a literal query vector (vec 0's
    // own embedding) must return vec 0 at rank 1 with sim 1.0 (self-match:
    // the SQL face never self-excludes — a literal lives in its own id
    // space) followed by its API neighbours shifted one rank.
    val qv = vectors.filter(col("vec_id") === 0).collect()(0)
      .getSeq[Double](1)
    val lit = qv.map(d => s"${d}D").mkString("array(", ", ", ")")
    val viaSql = spark.sql(
      s"SELECT * FROM ann_search('$path', $lit, 4)").collect()
    assert(viaSql.head.getInt(0) == 1 && viaSql.head.getLong(1) == 0L &&
      viaSql.head.getDouble(2) == 1.0, s"rank 1 must be the vector itself")
    assert(viaSql.map(_.getLong(1)).drop(1).toSeq == viaQ28.take(3).map(_._3),
      "SQL neighbours must match the API ranking")
    intercept[Exception](spark.sql(
      s"SELECT * FROM ann_search('$path', $lit, 0)").collect())
    // ad-hoc SQL vectors don't get the embedding pipeline's guarantees:
    // wrong dimension, zero vector, and a BIGINT k that would wrap to a
    // small int must all fail loudly, never return plausible garbage
    intercept[Exception](spark.sql(
      s"SELECT * FROM ann_search('$path', array(1.0D, 2.0D), 3)").collect())
    intercept[Exception](spark.sql(
      s"SELECT * FROM ann_search('$path', array(${qv.map(_ => "0.0D").mkString(", ")}), 3)").collect())
    intercept[Exception](spark.sql(
      s"SELECT * FROM ann_search('$path', $lit, 4294967301)").collect())
  }

  test("SQL hybrid_search fuses the two index faces with exact RRF") {
    import graft.operators.InvertedIndex
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val invPath = Files.createTempDirectory("hyb_inv_").toString
    InvertedIndex.build(spark, docs, invPath, nbuckets = 8)
    val ivfPath = Files.createTempDirectory("hyb_ivf_").toString
    IvfIndex.build(spark, vectors, ivfPath, nlist = 8)
    val qv = vectors.filter(col("vec_id") === 0).collect()(0).getSeq[Double](1)
    val lit = qv.map(d => s"${d}D").mkString("array(", ", ", ")")
    val (k, nCand) = (10, 20)

    // Hand-fuse the two standalone faces with the q126 RRF arithmetic —
    // hybrid_search must reproduce it exactly (same candidate depths).
    val lex = spark.sql(
      s"SELECT rk, doc_id FROM bm25_search('$invPath', 'dup vector merge', $nCand)")
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    val vr = spark.sql(
      s"SELECT rnk, vec_id FROM ann_search('$ivfPath', $lit, $nCand)")
      .collect().map(r => r.getLong(1) -> r.getInt(0).toLong).toMap
    assert(lex.nonEmpty && vr.nonEmpty)
    def part(o: Option[Long]) = o.fold(0L)(r => 1000000000L / (60L + r))
    val expect = (lex.keySet ++ vr.keySet).toSeq
      .map(id => (id, part(lex.get(id)) + part(vr.get(id)),
        lex.getOrElse(id, 0L), vr.getOrElse(id, 0L)))
      .sortBy { case (id, s, _, _) => (-s, id) }.take(k)

    val got = spark.sql(s"SELECT * FROM hybrid_search('$invPath', '$ivfPath', " +
      s"'dup vector merge', $lit, $k)").collect()
    assert(got.map(_.getLong(0)).toSeq == (1L to k).toSeq, "frk contiguous")
    assert(got.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      == expect, s"hybrid fusion must equal the hand-fused faces")
    // At least one doc must carry evidence from BOTH retrievers, or the
    // fusion is vacuous on this corpus.
    assert(got.exists(r => r.getLong(3) > 0 && r.getLong(4) > 0))

    // Bad arguments fail loudly at analysis.
    intercept[Exception](spark.sql(s"SELECT * FROM hybrid_search('$invPath', " +
      s"'$ivfPath', 'dup', array(1.0D, 2.0D), 3)").collect()) // wrong dim
    intercept[Exception](spark.sql(s"SELECT * FROM hybrid_search('$invPath', " +
      s"'$ivfPath', 'dup', $lit, 0)").collect())
  }

  test("SQL chunk_hybrid_search serves at chunk granularity with the " +
    "evidence chunk attributed") {
    import graft.operators.InvertedIndex
    import graft.queries.PipelineQueries
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val span = PipelineQueries.ChunkKeySpan
    val chunks = PipelineQueries.ragChunksText(docs, 16, 4)
      .select((col("doc_id") * span + col("chunk_idx")).as("doc_id"),
        col("txt").as("text"))
    val invPath = Files.createTempDirectory("chyb_inv_").toString
    val cidx = InvertedIndex.build(spark, chunks, invPath, nbuckets = 8)
    val ivfPath = Files.createTempDirectory("chyb_ivf_").toString
    IvfIndex.build(spark, vectors, ivfPath, nlist = 8)
    val qv = vectors.filter(col("vec_id") === 0).collect()(0).getSeq[Double](1)
    val lit = qv.map(d => s"${d}D").mkString("array(", ", ", ")")
    val (k, nCand) = (10, 20)

    // Hand-fuse: the q134 chunk→doc fold (shared chunkLexTopDocs) against
    // the ANN face — the SQL function must reproduce it exactly.
    val lexRows = PipelineQueries.chunkLexTopDocs(
        cidx, 0L, Seq("dup", "vector", "merge"), nCand).collect()
    val lex = lexRows.map(r =>
      r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val vr = spark.sql(
      s"SELECT rnk, vec_id FROM ann_search('$ivfPath', $lit, $nCand)")
      .collect().map(r => r.getLong(1) -> r.getInt(0).toLong).toMap
    assert(lex.nonEmpty && vr.nonEmpty)
    def part(o: Option[Long]) = o.fold(0L)(r => 1000000000L / (60L + r))
    val expect = (lex.keySet ++ vr.keySet).toSeq
      .map { id =>
        val (lr, bc, nh) = lex.getOrElse(id, (0L, -1L, 0L))
        (id, part(lex.get(id).map(_._1)) + part(vr.get(id)),
          lr, vr.getOrElse(id, 0L), bc, nh)
      }
      .sortBy { case (id, s, _, _, _, _) => (-s, id) }.take(k)

    val got = spark.sql(s"SELECT * FROM chunk_hybrid_search('$invPath', " +
      s"'$ivfPath', 'dup vector merge', $lit, $k)").collect()
    assert(got.map(_.getLong(0)).toSeq == (1L to k).toSeq, "frk contiguous")
    assert(got.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq == expect,
      "chunk hybrid fusion must equal the hand-fused q134 fold + ANN face")
    // Evidence contract: best_chunk attributed exactly when the lexical
    // retriever contributed; a vector-only doc carries -1/0.
    got.foreach { r =>
      assert((r.getLong(3) > 0) == (r.getLong(5) >= 0), s"bad evidence row: $r")
      assert((r.getLong(3) > 0) == (r.getLong(6) > 0), s"bad hit count: $r")
    }
    intercept[Exception](spark.sql(s"SELECT * FROM chunk_hybrid_search(" +
      s"'$invPath', '$ivfPath', 'dup', $lit, 0)").collect())
    cidx.table.shutdown()
  }
}
