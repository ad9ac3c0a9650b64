package graft.sources

import graft.mergetree.ColumnarMergeTree

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable,
  InsertIntoStatement, LogicalPlan, MergeIntoTable, Project, UpdateTable,
  V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Session extensions for the graft engine (SURVEY §7 Phase 3): registered
  * via `spark.sql.extensions=graft.sources.GraftExtensions` by GraftSession
  * and the test session.
  *
  * Its injections: the FINAL-applying SQL read (MergeTreeFinalRule), the
  * ClickHouse maintenance-verb parser (GraftSqlParser — OPTIMIZE TABLE,
  * DETACH/ATTACH/DROP/REPLACE PARTITION, MATERIALIZE TTL), the one-split
  * planning of small scans (graft.plans.SingleSplitScanStrategy), the
  * driver-run execution of queries over such scans
  * (graft.plans.DriverLocalStrategy), and the table functions (the
  * `uniq_meta` metadata family, the search faces, `mergetree_final` and
  * `query_log` below).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectResolutionRule { session =>
      // Piggyback on rule construction (once per session) to hook the
      // query-log listener — extensions get no direct session callback.
      QueryLog.install(session)
      new MergeTreeFinalRule(session)
    }
    e.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
    e.injectPlannerStrategy(graft.plans.SingleSplitScanStrategy(_))
    e.injectPlannerStrategy(graft.plans.DriverLocalStrategy(_))
    GraftExtensions.MetaFunctions.foreach { case (kind, fname) =>
      e.injectTableFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(fname),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          GraftExtensions.getClass.getCanonicalName, fname),
        (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          GraftExtensions.metaRelation(kind, fname, args)))
    }
    GraftExtensions.SearchFunctions.foreach { fname =>
      e.injectTableFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(fname),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          GraftExtensions.getClass.getCanonicalName, fname),
        (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          GraftExtensions.searchRelation(fname, args)))
    }
    e.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("ann_search"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        GraftExtensions.getClass.getCanonicalName, "ann_search"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GraftExtensions.annRelation(args)))
    e.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("hybrid_search"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        GraftExtensions.getClass.getCanonicalName, "hybrid_search"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GraftExtensions.hybridRelation(args)))
    e.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("chunk_hybrid_search"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        GraftExtensions.getClass.getCanonicalName, "chunk_hybrid_search"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GraftExtensions.chunkHybridRelation(args)))
    e.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("mergetree_final"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        GraftExtensions.getClass.getCanonicalName, "mergetree_final"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GraftExtensions.finalRelation(args)))
    e.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("query_log"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        GraftExtensions.getClass.getCanonicalName, "query_log"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GraftExtensions.queryLogRelation(args)))
  }
}

/** SQL table-function faces over the part-sidecar sketch folds: a pure-SQL
  * user gets the O(manifest), zero-data-I/O answers without the Scala API —
  *
  * {{{
  *   SELECT * FROM uniq_meta('graft.ns.tbl')       -- approxDistinct per hllColumn
  *   SELECT * FROM topk_meta('/data/tbl')          -- heavy hitters per topKColumn
  *   SELECT * FROM quantiles_meta('graft.ns.tbl')  -- p50/p90/p99 per quantileColumn
  *   SELECT * FROM parts_meta('…') / snapshots_meta('…')
  * }}}
  *
  * The argument is the same dual addressing the maintenance verbs accept: a
  * catalog identifier (`graft.ns.tbl`) or a table directory path. Rows come
  * from the shared MergeTreeSystemTable folds (one implementation with the
  * `system '<kind>'` relations) and materialize as a LocalRelation at
  * ANALYSIS time — metadata-as-of-planning, the LocalScan discipline.
  */
object GraftExtensions {

  private val MetaFunctions = Seq(
    "uniq" -> "uniq_meta", "topk" -> "topk_meta",
    "quantiles" -> "quantiles_meta", "parts" -> "parts_meta",
    "snapshots" -> "snapshots_meta", "columns" -> "columns_meta",
    "mutations" -> "mutations_meta", "create" -> "show_create")

  private def metaRelation(
      kind: String, fname: String,
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    require(args.length == 1 && args.head.foldable &&
      args.head.dataType == org.apache.spark.sql.types.StringType,
      s"$fname(table) takes exactly one string argument " +
        "(catalog identifier or table directory)")
    val spark = SparkSession.active
    val dir = resolveTarget(spark, fname, args.head.eval())
    val attrs = MergeTreeSystemTable.schemaFor(kind).fields.toIndexedSeq
      .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    LocalRelation(attrs,
      MergeTreeSystemTable.rowsFor(dir, kind).toIndexedSeq, isStreaming = false)
  }

  /** `SELECT * FROM mergetree_final('graft.ns.tbl' | '<table dir>')` — the
    * FINAL-collapsed read as a table function. Exists so the parser's
    * `FROM t FINAL` rewrite can target it TEXTUALLY: the rewrite then has
    * no parse-time side effects (no temp view, no catalog mutation, no
    * storage I/O) — the read resolves HERE, at analysis time, like any
    * other relation, and MergeTreeFinalRule collapses it in the same
    * fixpoint exactly as the `option("final", "true")` form. The provider
    * resolution (and its metadata I/O) happens when the analyzer invokes
    * this builder — analysis time, never parse time. Also directly
    * callable by users.
    */
  private def finalRelation(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : LogicalPlan = {
    import org.apache.spark.sql.types.StringType
    require(args.length == 1 && args.head.foldable &&
      args.head.dataType == StringType,
      "mergetree_final(table) takes exactly one string argument " +
        "(catalog identifier or table directory)")
    val spark = SparkSession.active
    val dir = resolveTarget(spark, "mergetree_final", args.head.eval())
    spark.read.format("mergetree").option("final", "true").load(dir)
      .queryExecution.logical
  }

  /** `SELECT * FROM query_log()` — the session's query-execution ring as a
    * relation (see [[QueryLog]]). Materializes at analysis time like the
    * metaRelation family; the snapshot is the log at the moment the query
    * was planned (the query reading the log never sees itself).
    */
  private def queryLogRelation(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): LogicalPlan = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    require(args.isEmpty, "query_log() takes no arguments")
    def utf8(s: String): UTF8String =
      if (s == null) null else UTF8String.fromString(s)
    val attrs = QueryLogSink.schema.fields.toIndexedSeq
      .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val rows = QueryLog.entries.map { e =>
      new GenericInternalRow(Array[Any](e.seq, e.eventMs, utf8(e.session),
        utf8(e.func), e.durationMs, utf8(e.status), utf8(e.error.orNull),
        e.outputRows.getOrElse(null), utf8(e.planDigest), utf8(e.plan))): InternalRow
    }.toIndexedSeq
    LocalRelation(attrs, rows, isStreaming = false)
  }

  /** SQL table-function faces over the PERSISTED inverted index — a
    * pure-SQL user gets snapshot-pinned, bucket-pruned full-text search
    * without the Scala API:
    *
    * {{{
    *   SELECT * FROM bm25_search('/data/inv_idx', 'dup vector merge', 10)
    *   SELECT * FROM phrase_search('graft.ns.idx', 'table scan merge', 10)
    * }}}
    *
    * The first argument takes the maintenance verbs' dual addressing
    * (catalog identifier or table directory); the query string tokenizes
    * with the index's own persisted tokenizer (CJK queries work against a
    * mixed-tokenizer index). The k-row result materializes as a
    * LocalRelation at analysis time — the metaRelation discipline; the
    * search itself is the k-bounded index probe, which reads only the
    * query terms' buckets.
    */
  private val SearchFunctions = Seq("bm25_search", "phrase_search")

  /** The dual addressing every graft table function accepts — ONE
    * implementation (a path-vs-identifier heuristic fixed here applies to
    * the meta AND search families alike). Rejects NULL loudly: a null
    * would otherwise stringify to the literal identifier "null" and fail
    * with a misleading table-not-found.
    */
  private def resolveTarget(spark: SparkSession, fname: String,
      evaled: Any): String = {
    require(evaled != null, s"$fname: the table argument must not be NULL")
    val target = String.valueOf(evaled)
    val t =
      if (target.contains('/')) GraftSqlParser.PathTarget(target)
      else GraftSqlParser.IdentTarget(
        spark.sessionState.sqlParser.parseMultipartIdentifier(target))
    GraftSqlParser.resolveDir(spark, t)
  }

  private def searchRelation(fname: String,
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : LogicalPlan = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
    require(args.length == 3 && args.forall(_.foldable) &&
      args(0).dataType == StringType && args(1).dataType == StringType &&
      (args(2).dataType == IntegerType || args(2).dataType == LongType),
      s"$fname(index, query, k) takes (string, string, int) literals " +
        "(index = catalog identifier or table directory)")
    val qEval = args(1).eval()
    val kEval = args(2).eval()
    require(qEval != null && kEval != null,
      s"$fname: the query and k arguments must not be NULL")
    val query = String.valueOf(qEval)
    // Range-check BEFORE truncating: Number.intValue silently wraps a
    // BIGINT k (2^32+5 would run as k=5).
    val kLong = kEval.asInstanceOf[Number].longValue()
    require(kLong > 0 && kLong <= Int.MaxValue,
      s"$fname: k must be in [1, ${Int.MaxValue}], got $kLong")
    val k = kLong.toInt
    val spark = SparkSession.active
    val dir = resolveTarget(spark, fname, args(0).eval())
    val idx = graft.operators.InvertedIndex.open(spark, dir)
    val df = if (fname == "bm25_search") idx.searchText(query, k)
      else idx.phraseSearchText(query, k)
    val schema = if (fname == "bm25_search")
      StructType.fromDDL("rk BIGINT, doc_id BIGINT, n_terms BIGINT, score BIGINT")
    else StructType.fromDDL("rk BIGINT, doc_id BIGINT, n_occ BIGINT")
    val rows = df.collect().map(r =>
      new GenericInternalRow(
        (0 until schema.length).map(i => r.getLong(i): Any).toArray): InternalRow)
    val attrs = schema.fields.toIndexedSeq
      .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    LocalRelation(attrs, rows.toIndexedSeq, isStreaming = false)
  }

  /** SQL face over the PERSISTED IVF/IVFADC ANN index:
    *
    * {{{
    *   SELECT * FROM ann_search('/data/ivf_idx', array(0.1D, 0.3D, …), 10)
    * }}}
    *
    * → (rnk, vec_id, sim) of the top-k neighbours of the literal query
    * vector, probing autoNprobe(nlist) clusters. An ADC-built index
    * (`_pq.json` present) serves through searchAdc (table-lookup scoring
    * over the probed lists, exact re-rank on the shortlist); a plain IVF
    * index through exact-cosine search. Self-exclusion is off — a SQL
    * literal query lives in its own id space.
    */
  /** Decode + validate a foldable SQL query-vector literal — shared by
    * ann_search and hybrid_search so the two faces cannot drift (a SQL
    * literal doesn't get the embedding pipeline's implicit guarantees:
    * no NULL elements, finite values, non-zero norm).
    */
  private def evalVector(fname: String,
      arg: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Double] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, Decimal}
    val vEval = arg.eval()
    require(vEval != null, s"$fname: the vector argument must not be NULL")
    val elemType = arg.dataType.asInstanceOf[ArrayType].elementType
    val vec = vEval.asInstanceOf[ArrayData].toObjectArray(elemType)
      .map {
        case null => throw new IllegalArgumentException(
          s"$fname: query vector must not contain NULLs")
        case d: java.math.BigDecimal => d.doubleValue()
        case d: Decimal => d.toDouble
        case n: Number => n.doubleValue()
      }.toSeq
    require(vec.forall(java.lang.Double.isFinite),
      s"$fname: query vector must contain only finite values")
    require(vec.exists(_ != 0.0),
      s"$fname: query vector must not be all-zero (cosine undefined)")
    vec
  }

  /** Range-check a foldable k literal BEFORE truncating (Number.intValue
    * silently wraps a BIGINT k — 2^32+5 would run as k=5). Shared by every
    * search face.
    */
  private def evalK(fname: String,
      arg: org.apache.spark.sql.catalyst.expressions.Expression,
      max: Long = Int.MaxValue): Int = {
    val kEval = arg.eval()
    require(kEval != null, s"$fname: the k argument must not be NULL")
    val kLong = kEval.asInstanceOf[Number].longValue()
    require(kLong > 0 && kLong <= max,
      s"$fname: k must be in [1, $max], got $kLong")
    kLong.toInt
  }

  /** ADC re-rank shortlist for a candidate depth — overflow-safe (4×nCand
    * wraps Int for the large k the require range permits).
    */
  private def adcShortlist(nCand: Int): Int =
    math.min(Int.MaxValue.toLong, math.max(50L, 4L * nCand)).toInt

  private def annRelation(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : LogicalPlan = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types._
    require(args.length == 3 && args.forall(_.foldable) &&
      args(0).dataType == StringType &&
      args(1).dataType.isInstanceOf[ArrayType] &&
      args(1).dataType.asInstanceOf[ArrayType].elementType.isInstanceOf[NumericType] &&
      (args(2).dataType == IntegerType || args(2).dataType == LongType),
      "ann_search(index, query_vector, k) takes (string, array<numeric>, int) " +
        "literals (index = catalog identifier or table directory)")
    // Validate the literal vector (dimension checked against the index
    // below — the cosine expression scores the common PREFIX of unequal
    // arrays, silently wrong neighbours) and k (shared helpers).
    val vec = evalVector("ann_search", args(1))
    val k = evalK("ann_search", args(2))
    val spark = SparkSession.active
    val dir = resolveTarget(spark, "ann_search", args(0).eval())
    val idx = graft.operators.IvfIndex.open(spark, dir)
    require(vec.length == idx.dim,
      s"ann_search: query vector has ${vec.length} dims, index was built on ${idx.dim}")
    val nprobe = graft.operators.IvfIndex.autoNprobe(idx.nlist)
    // The q109/q115 shortlist floor (never below 50), overflow-safe.
    val shortlist = adcShortlist(k)
    import org.apache.spark.sql.functions.col
    val queries = spark.createDataFrame(Seq((0L, vec)))
      .select(col("_1").as("qid"), col("_2").as("qv"))
    val df = (if (idx.pqCodebooks.isDefined)
        idx.searchAdc(queries, k, nprobe, shortlist, excludeSelf = false)
      else idx.search(queries, k, nprobe, excludeSelf = false))
      .select(col("rnk"), col("vec_id"), col("sim"))
    val schema = StructType.fromDDL("rnk INT, vec_id BIGINT, sim DOUBLE")
    val rows = df.collect().map(r => new GenericInternalRow(
      Array[Any](r.getInt(0), r.getLong(1), r.getDouble(2))): InternalRow)
    val attrs = schema.fields.toIndexedSeq
      .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    LocalRelation(attrs, rows.toIndexedSeq, isStreaming = false)
  }

  /** SQL face over HYBRID retrieval — the q126 reciprocal-rank fusion of
    * both persisted indexes for pure-SQL users:
    *
    * {{{
    *   SELECT * FROM hybrid_search('/data/inv_idx', '/data/ivf_idx',
    *                               'dup vector merge', array(0.1D, …), 10)
    * }}}
    *
    * → (frk, doc_id, rrf, lrk, vrk): the top-k documents by RRF (k = 60,
    * exact integer nano-units — floor(10⁹ div (60 + rank)), summed over
    * the retrievers that returned the doc) of the BM25 top-max(20, 2k)
    * (bucket-pruned posting probe, the index's own tokenizer) against the
    * ANN top-max(20, 2k) (IVF probe; ADC-scored when the index carries PQ
    * codes) for the literal query vector. CONTRACT: the two indexes must
    * share one document id space (an inverted index and an ANN index built
    * over the same corpus — doc_id == vec_id), which is what a RAG stack
    * maintains anyway. Both candidate lists are k-bounded, so the fusion
    * is a driver-side merge of ≤ 2·max(20, 2k) rows — never a Spark job.
    */
  private def hybridRelation(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : LogicalPlan = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    require(args.length == 5 && args.forall(_.foldable) &&
      args(0).dataType == StringType && args(1).dataType == StringType &&
      args(2).dataType == StringType &&
      args(3).dataType.isInstanceOf[ArrayType] &&
      args(3).dataType.asInstanceOf[ArrayType].elementType.isInstanceOf[NumericType] &&
      (args(4).dataType == IntegerType || args(4).dataType == LongType),
      "hybrid_search(text_index, ann_index, query, query_vector, k) takes " +
        "(string, string, string, array<numeric>, int) literals")
    val qEval = args(2).eval()
    require(qEval != null, "hybrid_search: the query argument must not be NULL")
    val query = String.valueOf(qEval)
    val vec = evalVector("hybrid_search", args(3))
    // k capped at IntMax/2 so nCand = 2k below cannot overflow.
    val k = evalK("hybrid_search", args(4), max = Int.MaxValue / 2)
    val nCand = math.max(20, 2 * k)
    val spark = SparkSession.active
    val invDir = resolveTarget(spark, "hybrid_search", args(0).eval())
    val ivfDir = resolveTarget(spark, "hybrid_search", args(1).eval())
    // Lexical candidates: doc_id -> BM25 rank (the index's own tokenizer).
    val inv = graft.operators.InvertedIndex.open(spark, invDir)
    val lex: Map[Long, Long] = inv.searchText(query, nCand).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    // Vector candidates: vec_id -> ANN rank (ADC when PQ codes exist).
    val ivf = graft.operators.IvfIndex.open(spark, ivfDir)
    require(vec.length == ivf.dim,
      s"hybrid_search: query vector has ${vec.length} dims, " +
        s"ann index was built on ${ivf.dim}")
    val nprobe = graft.operators.IvfIndex.autoNprobe(ivf.nlist)
    val shortlist = adcShortlist(nCand)
    import org.apache.spark.sql.functions.col
    val queries = spark.createDataFrame(Seq((0L, vec)))
      .select(col("_1").as("qid"), col("_2").as("qv"))
    val vdf = (if (ivf.pqCodebooks.isDefined)
        ivf.searchAdc(queries, nCand, nprobe, shortlist, excludeSelf = false)
      else ivf.search(queries, nCand, nprobe, excludeSelf = false))
      .select(col("rnk"), col("vec_id"))
    val vrk: Map[Long, Long] = vdf.collect()
      .map(r => r.getLong(1) -> r.getInt(0).toLong).toMap
    // Driver-side RRF over two k-bounded lists (the q126 arithmetic —
    // exact int64, missing source contributes 0, ties broken by doc_id).
    def part(rank: Option[Long]): Long = rank.fold(0L)(r => 1000000000L / (60L + r))
    val fused = (lex.keySet ++ vrk.keySet).toSeq
      .map(id => (id, part(lex.get(id)) + part(vrk.get(id)),
        lex.getOrElse(id, 0L), vrk.getOrElse(id, 0L)))
      .sortBy { case (id, s, _, _) => (-s, id) }
      .take(k)
    val rows = fused.zipWithIndex.map { case ((id, s, l, v), i) =>
      new GenericInternalRow(Array[Any](i + 1L, id, s, l, v)): InternalRow
    }
    val schema = StructType.fromDDL(
      "frk BIGINT, doc_id BIGINT, rrf BIGINT, lrk BIGINT, vrk BIGINT")
    val attrs = schema.fields.toIndexedSeq
      .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    LocalRelation(attrs, rows.toIndexedSeq, isStreaming = false)
  }

  /** [[hybridRelation]]'s CHUNK-granular twin — the SQL face of q134's
    * RAG serve shape, where the text index holds CHUNKS (ids packed as
    * doc_id·64 + chunk_idx, the q134/ragCorpusIngest key) and the ANN
    * index holds doc-level vectors:
    *
    * {{{
    *   SELECT * FROM chunk_hybrid_search('/data/inv_chunks', '/data/ivf_idx',
    *                                     'dup vector merge', array(0.1D, …), 10)
    * }}}
    *
    * → (frk, doc_id, rrf, lrk, vrk, best_chunk, n_chunks_hit): chunk BM25
    * scores fold to per-doc max-chunk (InvertedIndex.foldChunkScores —
    * the one fold the q134 entry uses, distributed, on the matched
    * postings only), the doc list fuses with the ANN list by the same
    * exact-integer RRF, and each lexical hit carries its EVIDENCE chunk
    * (best_chunk; −1 when only the vector retriever found the doc) and
    * chunk hit count — the row a RAG stack needs to fetch the right span.
    */
  private def chunkHybridRelation(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : LogicalPlan = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types._
    require(args.length == 5 && args.forall(_.foldable) &&
      args(0).dataType == StringType && args(1).dataType == StringType &&
      args(2).dataType == StringType &&
      args(3).dataType.isInstanceOf[ArrayType] &&
      args(3).dataType.asInstanceOf[ArrayType].elementType.isInstanceOf[NumericType] &&
      (args(4).dataType == IntegerType || args(4).dataType == LongType),
      "chunk_hybrid_search(chunk_text_index, ann_index, query, query_vector, k) " +
        "takes (string, string, string, array<numeric>, int) literals")
    val qEval = args(2).eval()
    require(qEval != null, "chunk_hybrid_search: the query argument must not be NULL")
    val query = String.valueOf(qEval)
    val vec = evalVector("chunk_hybrid_search", args(3))
    val k = evalK("chunk_hybrid_search", args(4), max = Int.MaxValue / 2)
    val nCand = math.max(20, 2 * k)
    val spark = SparkSession.active
    val invDir = resolveTarget(spark, "chunk_hybrid_search", args(0).eval())
    val ivfDir = resolveTarget(spark, "chunk_hybrid_search", args(1).eval())
    import org.apache.spark.sql.functions.col
    // Lexical candidates at chunk granularity, folded to parent docs by
    // max-chunk IN SPARK (the matched-postings frame can be corpus-scale
    // for a common term — only the nCand-bounded doc list is collected).
    val inv = graft.operators.InvertedIndex.open(spark, invDir)
    val span = graft.queries.PipelineQueries.ChunkKeySpan
    val perDoc = graft.operators.InvertedIndex.foldChunkScores(
      inv.searchScoresText(query), span)
    val lexRows = perDoc.orderBy(col("score").desc, col("doc_id"))
      .limit(nCand).collect()
    // doc -> (rank, best_chunk, n_chunks_hit)
    val lex: Map[Long, (Long, Long, Long)] = lexRows.zipWithIndex.map {
      case (r, i) => r.getLong(0) -> ((i + 1L, r.getLong(2), r.getLong(3)))
    }.toMap
    // Vector candidates: doc-level ANN ranks (ADC when PQ codes exist).
    val ivf = graft.operators.IvfIndex.open(spark, ivfDir)
    require(vec.length == ivf.dim,
      s"chunk_hybrid_search: query vector has ${vec.length} dims, " +
        s"ann index was built on ${ivf.dim}")
    val nprobe = graft.operators.IvfIndex.autoNprobe(ivf.nlist)
    val queries = spark.createDataFrame(Seq((0L, vec)))
      .select(col("_1").as("qid"), col("_2").as("qv"))
    val vdf = (if (ivf.pqCodebooks.isDefined)
        ivf.searchAdc(queries, nCand, nprobe, adcShortlist(nCand), excludeSelf = false)
      else ivf.search(queries, nCand, nprobe, excludeSelf = false))
      .select(col("rnk"), col("vec_id"))
    val vrk: Map[Long, Long] = vdf.collect()
      .map(r => r.getLong(1) -> r.getInt(0).toLong).toMap
    def part(rank: Option[Long]): Long = rank.fold(0L)(r => 1000000000L / (60L + r))
    val fused = (lex.keySet ++ vrk.keySet).toSeq
      .map { id =>
        val (lr, bc, nh) = lex.get(id).map(t => (t._1, t._2, t._3))
          .getOrElse((0L, -1L, 0L))
        (id, part(lex.get(id).map(_._1)) + part(vrk.get(id)),
          lr, vrk.getOrElse(id, 0L), bc, nh)
      }
      .sortBy { case (id, s, _, _, _, _) => (-s, id) }
      .take(k)
    val rows = fused.zipWithIndex.map { case ((id, s, l, v, bc, nh), i) =>
      new GenericInternalRow(Array[Any](i + 1L, id, s, l, v, bc, nh)): InternalRow
    }
    val schema = StructType.fromDDL(
      "frk BIGINT, doc_id BIGINT, rrf BIGINT, lrk BIGINT, vrk BIGINT, " +
        "best_chunk BIGINT, n_chunks_hit BIGINT")
    val attrs = schema.fields.toIndexedSeq
      .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    LocalRelation(attrs, rows.toIndexedSeq, isStreaming = false)
  }
}

/** ClickHouse `SELECT … FROM t FINAL` / `SELECT … SAMPLE n/d` for the SQL
  * face: a relation over a mergetree table carrying `final 'true'` and/or
  * `sample 'n/d'` (read options or CREATE TABLE options — both reach the
  * provider's getTable) is rewritten during analysis into the merge-mode-
  * collapsed and/or hash-sampled plan over the same storage.
  *
  * The rewrite re-reads the table WITHOUT those flags (so the inner
  * relation keeps the connector's vectorized scan + part pruning) and applies
  * exactly what `ColumnarMergeTree.scan()`/`sampleScan()` apply —
  * `ColumnarMergeTree.applyMode` and `samplePredicate` are the single shared
  * implementations, so the SQL view and the Scala API can never diverge.
  * SAMPLE applies AFTER the FINAL collapse (a sample of the collapsed rows,
  * matching sampleScan; sampling raw parts would double-count unmerged
  * versions). Output attributes are re-bound to the original relation's
  * exprIds (with a cast where an aggregate widened a type, e.g. Summing an
  * int column) so references in the enclosing plan stay valid.
  *
  * Plain-mode tables with no sample are left untouched — FINAL is the
  * identity there, and skipping the rewrite keeps their plans scan-only.
  */
class MergeTreeFinalRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // FINAL/SAMPLE rewrite READS only. A relation in write position
    // (INSERT target, DELETE/UPDATE/MERGE target) must keep its writable
    // relation identity — this rule runs in the same resolution fixpoint
    // as insert resolution, and replacing the target with a Project over a
    // fresh read would fail the write's resolution. Targets are collected
    // by node identity before the transform (relations are leaves, so they
    // are still the original instances when visited bottom-up).
    val writeTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    // Protect every relation UNDER the target, not just the target node:
    // the analyzer may leave the relation wrapped (SubqueryAlias) and the
    // identity check on the wrapper alone would let the rewrite replace
    // the inner relation — physical planning then fails on a DELETE whose
    // "table" is a filtered read.
    def protect(target: LogicalPlan): Unit = target.foreach {
      case r: DataSourceV2Relation => writeTargets.add(r)
      case _                       => ()
    }
    plan.foreach {
      case i: InsertIntoStatement => protect(i.table)
      case w: V2WriteCommand      => protect(w.table)
      case d: DeleteFromTable     => protect(d.table)
      // RewriteDeleteFromTable turns a SupportsDelete DELETE into this
      // form in a later fixpoint iteration — just as much a write target.
      case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTableWithFilters =>
        protect(d.table)
      case u: UpdateTable         => protect(u.table)
      case m: MergeIntoTable      => protect(m.targetTable)
      case _                      => ()
    }
    plan.resolveOperatorsUp {
      case rel: DataSourceV2Relation
          if !writeTargets.contains(rel) && needsRewrite(rel) => rewrite(rel)
    }
  }

  /** Effective (final, sample, snapshot) for a relation: the table's own
    * flags (path-face read options consumed by getTable, or the catalog's
    * persisted `final` property) merged with PER-READ options on the
    * relation itself — `spark.read.option("final", "true").table("g.ns.t")`
    * reaches here as rel.options, giving catalog-name reads the same
    * option surface as path reads. orElse keeps a path-face option that
    * appears in BOTH places from double-applying.
    */
  private def effective(rel: DataSourceV2Relation, t: GenericMergeTreeV2Table)
      : (Boolean, Option[(Long, Long)], Option[Long]) = {
    val o = rel.options
    val fin = t.finalRead || o.getBoolean("final", false)
    val snap = t.snapshotSeq.orElse(Option(o.get("snapshot")).map(_.toLong))
    val samp = t.sampleFrac.orElse(Option(o.get("sample"))
      .map(MergeTreeTableProvider.parseSampleOption(_, t.path)))
    (fin, samp, snap)
  }

  private def needsRewrite(rel: DataSourceV2Relation): Boolean = rel.table match {
    case t: GenericMergeTreeV2Table =>
      val (fin, samp, _) = effective(rel, t)
      // Pending lightweight mutations need NO rewrite: the connector's
      // scan applies them itself from the manifest it plans against
      // (MutProgram), so standalone format("mergetree") sessions, snapshot
      // time travel, and detach/attach round trips are all mut-correct
      // without this rule — and part pruning survives pending deletes.
      (fin && hasCollapse(t.path)) || samp.exists(f => f._1 != f._2)
    case _ => false
  }

  private def hasCollapse(path: String): Boolean =
    ColumnarMergeTree.TableDef.load(path)
      .exists(d => ColumnarMergeTree.TableDef.decodeMode(d.mode) !=
        graft.mergetree.MergeMode.Plain)

  private def rewrite(rel: DataSourceV2Relation): LogicalPlan = {
    val table = rel.table.asInstanceOf[GenericMergeTreeV2Table]
    val (fin, sampleFrac, snapshotSeq) = effective(rel, table)
    val defn = ColumnarMergeTree.TableDef.load(table.path).getOrElse(
      throw new IllegalStateException(s"no table definition at ${table.path}"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(defn.schemaDdl)
    // Inner read has NO final/sample option → resolves to a raw-parts
    // relation and this rule does not fire on it again (analysis stays a
    // fixpoint). A snapshot pin is propagated: FINAL/SAMPLE over a
    // time-travel read applies to the parts of THAT snapshot, matching
    // scanAt.
    val reader = session.read.format("mergetree")
    // The inner relation is mut-correct by itself (the connector scan
    // applies pending lightweight mutations); FINAL/SAMPLE compose on top.
    val raw = snapshotSeq
      .fold(reader)(s => reader.option("snapshot", s.toString))
      .load(table.path)
    val collapsed =
      if (fin && hasCollapse(table.path))
        ColumnarMergeTree.applyMode(
          raw, schema, ColumnarMergeTree.TableDef.decodeMode(defn.mode), defn.partitionBy)
      else raw
    val sampled = sampleFrac.filter(f => f._1 != f._2) match {
      case Some((num, den)) =>
        require(num >= 0 && den > 0 && num <= den, s"bad sample fraction $num/$den")
        collapsed.filter(ColumnarMergeTree.samplePredicate(defn.orderBy, num, den))
      case None => collapsed
    }
    val inner = sampled.queryExecution.analyzed
    val rebind: Seq[NamedExpression] = rel.output.map { old =>
      val neu = inner.output.find(_.name == old.name).getOrElse(
        throw new IllegalStateException(
          s"FINAL rewrite lost column ${old.name} of ${table.path}"))
      val expr = if (neu.dataType == old.dataType) neu
        else Cast(neu, old.dataType)
      Alias(expr, old.name)(exprId = old.exprId)
    }
    Project(rebind, inner)
  }
}
