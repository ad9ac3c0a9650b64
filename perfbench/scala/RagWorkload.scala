package perfbench

import graft.operators.{InvertedIndex, IvfIndex, MinHashStore}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** `rag_serve`: a seeded corpus (Zipf vocabulary, planted near-duplicates,
  * clustered 64-dim vectors) behind an `InvertedIndex`, an `IvfIndex` and
  * a `MinHashStore`, all built in set-up. Each probe is one BM25 search
  * plus one ANN search, fused by reciprocal rank in the benchmark. After
  * every few probes an incoming batch is deduplicated against the store
  * and its survivors are appended to all three, up to `TimedBatches`
  * batches; later rounds only probe, so the corpus a run ends with does not
  * depend on the program's speed. Every call runs several small Spark jobs,
  * so fixed per-job costs dominate.
  */
object RagWorkload {
  val Docs = 1500
  val Vocab = 3000
  /** Few buckets and lists for a small corpus: each probe and append then
    * touches fewer parts, so a run holds more probes. With 3 of 8 lists
    * probed, ANN recall@10 stays at 1.0.
    */
  val Buckets = 8
  val Nlist = 8
  val Dim = 64
  val Clusters = 16
  val PlantedShare = 0.04
  val BatchDocs = 100
  val BatchDups = 10
  /** Probes before each batch. The batch's own time does not count
    * against the phase: the phase holds `--seconds` of probes (about ten
    * at ~1.2 s each in a 12 s phase) plus the batch.
    */
  val ProbesPerBatch = 4
  /** Batches ingested in the timed phase; `space_amp` and `heap_live_mb`
    * are taken after the last, over a fixed amount of ingested work.
    */
  val TimedBatches = 1
  val TopK = 10
  /** Before set-up, the three structures are built once over a throwaway
    * corpus of `WarmupDocs` documents: a fresh JVM is still loading and
    * compiling Spark's and the engine's paths, and without a warm-up the
    * timed phase runs on code still being compiled. `WarmupProbes` untimed
    * probes on the real indexes follow set-up.
    */
  val WarmupDocs = 500
  val WarmupProbes = 2
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val DupJaccard = 0.8

  final case class Doc(id: Long, words: Array[String], vec: Array[Double], dupOf: Long) {
    def text: String = words.mkString(" ")
    lazy val shingles: Set[Long] =
      words.sliding(3).map(w => shingleHash(w.mkString(" "))).toSet
    lazy val tf: Map[String, Int] = words.groupBy(identity).map { case (w, a) => w -> a.length }
  }

  def shingleHash(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x1234567)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x7654321)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  /** Seeded corpus source. */
  final class Gen(seed: Long) {
    private val rng = new SplittableRandom(seed)
    val vocab: Array[String] = {
      val seen = mutable.LinkedHashSet[String]()
      while (seen.size < Vocab)
        seen += Iterator.fill(4 + rng.nextInt(5))(('a' + rng.nextInt(26)).toChar).mkString
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = (1 to Vocab).map(r => 1.0 / math.pow(r, 1.1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail.toArray
    }
    private val centers = Array.fill(Clusters)(Array.fill(Dim)(rng.nextGaussian()))
    private var nextId = 0L

    private def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      vocab(math.min(Vocab - 1, if (i >= 0) i else -i - 1))
    }
    private def vecNear(v: Array[Double], noise: Double): Array[Double] =
      v.map(x => x + noise * rng.nextGaussian())

    def fresh(): Doc = {
      val id = nextId; nextId += 1
      Doc(id, Array.fill(30 + rng.nextInt(31))(word()),
        vecNear(centers(rng.nextInt(Clusters)), 0.6), -1L)
    }
    /** A near-duplicate of `src`: its last word replaced (Jaccard > 0.9 on
      * word 3-gram shingles), its vector slightly moved.
      */
    def nearDup(src: Doc): Doc = {
      val id = nextId; nextId += 1
      val w = src.words.clone()
      w(w.length - 1) = word()
      Doc(id, w, vecNear(src.vec, 0.01), src.id)
    }
    def corpus(docs: Int = Docs): Seq[Doc] = {
      val out = ArrayBuffer[Doc]()
      while (out.size < docs) {
        if (out.nonEmpty && rng.nextDouble() < PlantedShare) out += nearDup(out(rng.nextInt(out.size)))
        else out += fresh()
      }
      out.toSeq
    }
    def batch(existing: IndexedSeq[Doc]): Seq[Doc] =
      (0 until BatchDocs).map(i =>
        if (i < BatchDups) nearDup(existing(rng.nextInt(existing.size))) else fresh())
    private val rank: Map[String, Int] = vocab.zipWithIndex.toMap
    /** Query terms come from one document, skipping the 50 most frequent
      * words when it has enough others: posting-list sizes then vary less
      * from probe to probe and seed to seed.
      */
    def probe(existing: IndexedSeq[Doc]): (Seq[String], Array[Double]) = {
      val d = existing(rng.nextInt(existing.size))
      val all = d.words.distinct
      val mid = all.filter(rank(_) >= 50)
      val ws = if (mid.length >= 3) mid else all
      val terms = Iterator.continually(ws(rng.nextInt(ws.length))).distinct
        .take(math.min(3, ws.length)).toSeq
      (terms, vecNear(d.vec, 0.3))
    }
  }

  /** In-benchmark reference: brute-force BM25 (the index's micro-unit
    * formula) and exact cosine over every document indexed so far.
    */
  final class Model {
    val docs = ArrayBuffer[Doc]()
    private val postings = mutable.Map.empty[String, ArrayBuffer[Doc]]
    var totalDl = 0L
    def add(d: Doc): Unit = {
      docs += d
      totalDl += d.words.length
      d.tf.keys.foreach(t => postings.getOrElseUpdate(t, ArrayBuffer()) += d)
    }
    def bm25Top(terms: Seq[String], k: Int): Seq[(Long, Long)] = {
      val n = docs.size.toLong
      val avgdl = totalDl.toDouble / docs.size.toDouble
      val score = mutable.Map.empty[Long, Long].withDefaultValue(0L)
      terms.distinct.foreach { t =>
        val ps = postings.getOrElse(t, ArrayBuffer())
        val df = ps.size.toLong
        val idf = StrictMath.log((n - df + 0.5) / (df + 0.5) + 1.0)
        ps.foreach { d =>
          val tf = d.tf(t).toDouble
          val denom = tf + Bm25K1 * (1.0 - Bm25B + Bm25B * d.words.length / avgdl)
          score(d.id) += math.floor(idf * (tf * (Bm25K1 + 1.0)) / denom * 1e6 + 0.5).toLong
        }
      }
      score.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
    }
    def cosineTop(q: Array[Double], k: Int): Set[Long] = {
      val qn = math.sqrt(q.map(x => x * x).sum)
      docs.map { d =>
        var dot = 0.0; var nn = 0.0; var i = 0
        while (i < Dim) { dot += q(i) * d.vec(i); nn += d.vec(i) * d.vec(i); i += 1 }
        (d.id, dot / (qn * math.sqrt(nn)))
      }.sortBy(-_._2).take(k).map(_._1).toSet
    }
  }

  def jaccard(a: Set[Long], b: Set[Long]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size

  def run(h: Harness): Unit = {
    val spark = h.spark
    h.info("session_s") = h.sessionSeconds()
    val root = h.scratchDir("rag")
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = false))))
    val shSchema = StructType(Seq(StructField("doc_id", LongType), StructField("h", LongType)))
    def df(rows: Seq[Row], s: StructType): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), s)
    def docsDf(ds: Seq[Doc]) = df(ds.map(d => Row(d.id, d.text)), docSchema)
    def vecsDf(ds: Seq[Doc]) = df(ds.map(d => Row(d.id, d.vec.toSeq)), vecSchema)
    def shDf(ds: Seq[Doc]) = df(ds.flatMap(d => d.shingles.toSeq.map(x => Row(d.id, x))), shSchema)

    // Warm-up (see `WarmupDocs`), then set-up.
    def build(corpus: Seq[Doc], name: String): (InvertedIndex, IvfIndex, MinHashStore, Seq[java.nio.file.Path]) = {
      val dirs = Seq("inv", "ivf", "minhash").map(n => root.resolve(s"$name-$n"))
      (InvertedIndex.build(spark, docsDf(corpus), dirs(0).toString, nbuckets = Buckets),
        IvfIndex.build(spark, vecsDf(corpus), dirs(1).toString, nlist = Nlist),
        MinHashStore.create(spark, dirs(2).toString, shDf(corpus)), dirs)
    }
    build(new Gen(h.args.seed).corpus(WarmupDocs), "warmup")
    val gen = new Gen(h.args.seed)
    val corpus = gen.corpus()
    val (inv, ivf, store, dirs) = build(corpus, "index")
    val nprobe = IvfIndex.autoNprobe(ivf.nlist)

    val model = new Model
    corpus.foreach(model.add)
    var logicalBytes = corpus.map(d => d.text.getBytes(StandardCharsets.UTF_8).length + 8L * Dim + 8).sum
    val watcher = new PartWatcher(
      () => Seq(inv.table, ivf.table).zipWithIndex.flatMap { case (t, i) =>
        t.refresh(); t.parts.map(p => (i * 1000000000L + p.partId, p.rowCount, p.diskSize)) },
      () => inv.table.gcPending.size + ivf.table.gcPending.size)

    val probeMs = ArrayBuffer[Double](); val bm25Ms = ArrayBuffer[Double](); val annMs = ArrayBuffer[Double]()
    val appendMs = ArrayBuffer[Double](); val ingestMs = ArrayBuffer[Double](); val traced = ArrayBuffer[Double](); val untraced = ArrayBuffer[Double]()
    val recalls = ArrayBuffer[Double](); val invPrune = ArrayBuffer[Double](); val annPrune = ArrayBuffer[Double]()
    var writeNs = 0L; var batchDocs = 0L; var candidates = 0L; var verified = 0L
    var spaceAmp = 0.0; var heapMb = 0.0
    var ops = 0L; var round = 0L; var rowsOut = 0L
    def pruneOf(p: (Int, Int)): Option[Double] =
      if (p._2 > 0) Some(1.0 - p._1.toDouble / p._2) else None

    def probe(): Unit = {
      val (terms, qv) = gen.probe(model.docs.toIndexedSeq)
      val qdf = df(Seq(Row(0L, qv.toSeq)), StructType(Seq(StructField("qid", LongType),
        StructField("qv", ArrayType(DoubleType, containsNull = false)))))
      val t0 = System.nanoTime()
      val bm = h.tracer.call("operators", "bm25.search")(inv.search(terms, TopK).collect())
      val t1 = System.nanoTime()
      pruneOf(inv.lastPruning).foreach(invPrune += _)
      val ann = h.tracer.call("operators", "ivf.search")(
        ivf.search(qdf, TopK, nprobe, excludeSelf = false).collect())
      val t2 = System.nanoTime()
      pruneOf(ivf.lastPruning).foreach(annPrune += _)
      val fused = h.tracer.call("bench", "rrf") {
        val s = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
        bm.foreach(r => s(r.getAs[Long]("doc_id")) += 1.0 / (60 + r.getAs[Long]("rk")))
        ann.foreach(r => s(r.getAs[Long]("vec_id")) += 1.0 / (60 + r.getAs[Int]("rnk")))
        s.toSeq.sortBy { case (id, v) => (-v, id) }.take(TopK)
      }
      val t3 = System.nanoTime()
      bm25Ms += (t1 - t0) / 1e6; annMs += (t2 - t1) / 1e6
      val ms = (t3 - t0) / 1e6
      probeMs += ms
      (if (h.tracer.active) traced else untraced) += ms
      rowsOut += fused.size
      // Checks, outside the timed span.
      val got = bm.toSeq.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score")))
      val want = model.bm25Top(terms, TopK)
      if (got != want) h.fail(s"bm25 ${terms.mkString(" ")}: got $got, expected $want")
      val exact = model.cosineTop(qv, TopK)
      recalls += ann.count(r => exact.contains(r.getAs[Long]("vec_id"))).toDouble / TopK
    }

    def ingest(): Unit = {
      val batch = gen.batch(model.docs.toIndexedSeq)
      val bsh = shDf(batch)
      val t0 = System.nanoTime()
      val pairs = h.tracer.call("operators", "minhash.candidatePairs")(
        store.candidatePairs(MinHashStore.bandSignatures(bsh)).collect())
      val byId = model.docs.iterator.map(d => d.id -> d).toMap
      val batchById = batch.map(d => d.id -> d).toMap
      val dups = h.tracer.call("bench", "verify") {
        pairs.filter(r => jaccard(byId(r.getAs[Long]("store_id")).shingles,
          batchById(r.getAs[Long]("batch_id")).shingles) >= DupJaccard)
          .map(_.getAs[Long]("batch_id")).toSet
      }
      val survivors = batch.filterNot(d => dups(d.id))
      val a0 = System.nanoTime()
      h.tracer.call("operators", "inverted.append")(inv.append(docsDf(survivors)))
      h.tracer.call("operators", "ivf.append")(ivf.append(vecsDf(survivors)))
      h.tracer.call("operators", "minhash.append")(store.append(shDf(survivors)))
      val t1 = System.nanoTime()
      appendMs += (t1 - a0) / 1e6
      writeNs += t1 - t0
      ingestMs += (t1 - t0) / 1e6
      batchDocs += batch.size
      candidates += pairs.length
      verified += dups.size
      survivors.foreach(model.add)
      logicalBytes += survivors.map(d => d.text.getBytes(StandardCharsets.UTF_8).length + 8L * Dim + 8).sum
      // Every planted duplicate must be caught (Jaccard > 0.9, far above the
      // LSH S-curve midpoint); no fresh document may be dropped.
      val planted = batch.filter(_.dupOf >= 0).map(_.id).toSet
      if (planted != dups)
        h.fail(s"dedup: planted ${planted.toSeq.sorted}, dropped ${dups.toSeq.sorted}")
    }

    // Untimed probes warm the query path (the builds already ran the append
    // paths' plans); they are set-up work, so they count in setup_s.
    val w0 = System.nanoTime()
    (0 until WarmupProbes).foreach(_ => probe())
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = h.sinceJvmStart()
    Seq(probeMs, bm25Ms, annMs, appendMs, ingestMs, traced, untraced, recalls, invPrune, annPrune)
      .foreach(_.clear())
    writeNs = 0L; batchDocs = 0L; candidates = 0L; verified = 0L; rowsOut = 0L

    val gc0 = h.gcMillis()
    val t0 = System.nanoTime()
    var deadline = t0 + h.args.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      (0 until ProbesPerBatch).foreach { _ =>
        if (System.nanoTime() < deadline) {
          h.beginOp(round)
          try h.tracer.call("bench", "probe")(probe())
          catch { case e: Exception => h.fail(s"probe: $e") }
          h.endOp(); ops += 1
          watcher.poll(afterWrite = false)
        }
      }
      // The capped batches run even past the deadline, so every run ingests
      // the same amount and the write metrics exist; the deadline moves by
      // the batch's time, so it does not shorten the probing.
      if (round < TimedBatches) {
        val b0 = System.nanoTime()
        h.beginOp(round)
        try h.tracer.call("bench", "ingest")(ingest())
        catch { case e: Exception => h.fail(s"ingest: $e") }
        h.endOp(); ops += 1
        watcher.poll(afterWrite = true)
        // Space and heap after the fixed ingested work. The heap includes
        // the benchmark's reference model of the corpus, fixed by that work.
        if (round == TimedBatches - 1) {
          spaceAmp = dirs.map(Dirs.dirSize).sum / logicalBytes.toDouble
          heapMb = h.heapLiveMb()
        }
        deadline += System.nanoTime() - b0
      }
      round += 1
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val gcMs = h.gcMillis() - gc0

    h.e2e("setup_s") = setupS
    h.e2e("ops_per_s") = Harness.mixRate(Map("probe" -> ProbesPerBatch, "ingest" -> 1),
      Map("probe" -> probeMs, "ingest" -> ingestMs))
    h.layer("write.rows_per_s") = batchDocs / math.max(1e-9, writeNs / 1e9)
    h.e2e("read_p50_ms") = Stats.pct(probeMs.toSeq, 50)
    h.layer("read.p90_ms") = Stats.pct(probeMs.toSeq, 90)
    h.e2e("answer_recall") = Stats.mean(recalls)
    h.e2e("space_amp") = spaceAmp
    h.e2e("heap_live_mb") = heapMb
    h.info("warmup_s") = warmS
    h.info("ops_completed_per_s") = ops / elapsed
    h.info("probes") = probeMs.size
    h.info("batches") = appendMs.size
    h.info("docs_at_end") = model.docs.size
    h.info("nlist") = ivf.nlist
    h.info("nprobe") = nprobe

    if (h.args.trace) {
      h.layer("lat.search_p50_ms") = Stats.pct(probeMs.toSeq, 50)
      h.layer("lat.search_p90_ms") = Stats.pct(probeMs.toSeq, 90)
      h.layer("ops.bm25.p50_ms") = Stats.pct(bm25Ms.toSeq, 50)
      h.layer("ops.ann.p50_ms") = Stats.pct(annMs.toSeq, 50)
      h.layer("ops.ann.recall_at_10") = Stats.mean(recalls)
      h.layer("ops.inv.prune_ratio") = Stats.mean(invPrune)
      h.layer("ops.ann.prune_ratio") = Stats.mean(annPrune)
      h.layer("ops.append.p50_ms") = Stats.pct(appendMs.toSeq, 50)
      h.layer("ops.dedup.candidates") = candidates.toDouble / math.max(1, appendMs.size)
      h.layer("ops.dedup.verified_ratio") = verified.toDouble / math.max(1L, candidates)
      h.layer("mt.flush.parts") = watcher.writeParts.toDouble
      h.layer("mt.write_amp") = (watcher.writeBytes + watcher.mergeBytes) / math.max(1L, logicalBytes).toDouble
      h.layer("mt.merge.rounds") = watcher.mergeRounds.toDouble
      h.layer("mt.merge.bytes_rewritten") = watcher.mergeBytes.toDouble
      h.layer("mt.parts_live.mean") = Stats.mean(watcher.liveSamples.map(_.toDouble))
      h.layer("mt.parts_live.max") = (watcher.liveSamples :+ 0).max.toDouble
      h.layer("mt.gc_pending.max") = watcher.gcPendingMax.toDouble
      h.layer("jvm.gc_ms") = gcMs.toDouble
      h.layer("jvm.heap_peak_mb") = h.heapPeakMb()
      h.layer("trace.overhead_ms") = Stats.pct(traced.toSeq, 50) - Stats.pct(untraced.toSeq, 50)
      h.sparkLayer(ops, rowsOut)
      h.selfTimeLayer()
    }
  }
}
