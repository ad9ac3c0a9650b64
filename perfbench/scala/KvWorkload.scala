package perfbench

import graft.mergetree.{KVRow, MergeTreeConfig, MergeTreeTable}

import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer

/** `kv_ingest_lookup`: the reference demo's table (flush every 1000 rows,
  * maxParts 10, a background merge round every 5 s) fed by one writer.
  * Each round inserts 100 rows, then looks up one key; every tenth round
  * also reads a 100-key range. Unmerged 1000-row parts pile up faster than
  * the merge policy removes them, so the run crosses the driver-local
  * short-circuit budget (`localScanMaxRows`, 256k rows) and its lookups
  * fall to the distributed path: the cliff this workload exists to show.
  * About 300k rows stay well inside the 1M-row part-row cache.
  */
object KvWorkload {
  val Config = MergeTreeConfig(memtableFlushThreshold = 1000, maxParts = 10,
    enableBackgroundMerge = true, mergeIntervalSeconds = 5)
  val RowsPerRound = 100
  val RangeEvery = 10
  val RangeKeys = 100
  val KeySpace = 50000
  /** Before set-up, a throwaway table runs the timed loop's own calls:
    * `WarmupPreload` rows, then `WarmupRounds` rounds of inserts, point and
    * range reads and their checks. A fresh JVM is still compiling these
    * paths: without it, the first rounds run slower by an amount that
    * differs from run to run.
    */
  val WarmupPreload = 20000
  val WarmupRounds = 1000
  /** Rows bulk-inserted in set-up. Few, so that most of the rows before the
    * cliff are inserted in the timed phase: the cliff falls when the table
    * passes `localScanMaxRows` (262,144 rows), 2,522 rounds into the phase.
    */
  val PreloadRows = 10000
  /** The fixed work the end-to-end metrics are taken over: the first 2,400
    * rounds (240k rows), which end about 120 rounds before the cliff
    * whatever the program's speed, since the cliff falls at a fixed table
    * size. A faster program finishes them sooner. The phase then runs on
    * past the cliff for the per-layer `mt.lookup.*` metrics: until the
    * deadline, and in any case until the table has passed the cliff, so a
    * slow host or a traced run does not end the phase before it.
    */
  val WindowRounds = 2400

  def key(n: Int): String = f"key_$n%06d"
  def value(ts: Long, n: Int): String = s"value_${ts}_$n"

  /** The reference semantics the results are checked against: every
    * (key, ts) version of a key, deduplicated keeping max(value), sorted
    * by (key, ts). Timestamps here are unique, so dedup never fires. Each
    * version is packed into one long (ts * 1000 + value suffix) and the
    * versions of a key are appended in ts order, so the model stays a few
    * MB of primitive arrays.
    */
  final class Model {
    private val versions = new Array[Array[Long]](KeySpace)
    private val counts = new Array[Int](KeySpace)
    var rows = 0L
    var logicalBytes = 0L
    def add(k: Int, ts: Long, n: Int): Unit = {
      val a = versions(k)
      val c = counts(k)
      if (a == null || c == a.length) {
        val b = new Array[Long](if (a == null) 4 else a.length * 2)
        if (a != null) System.arraycopy(a, 0, b, 0, c)
        versions(k) = b
      }
      versions(k)(c) = ts * 1000 + n
      counts(k) = c + 1
      rows += 1
      logicalBytes += key(k).getBytes(StandardCharsets.UTF_8).length +
        value(ts, n).getBytes(StandardCharsets.UTF_8).length + 8
    }
    /** Rows of keys `lo` to `hi`, inclusive. */
    def range(lo: Int, hi: Int): Seq[KVRow] = {
      val out = new ArrayBuffer[KVRow]()
      (lo to hi).foreach { k =>
        var i = 0
        while (i < counts(k)) {
          val v = versions(k)(i)
          out += KVRow(key(k), value(v / 1000, (v % 1000).toInt), v / 1000)
          i += 1
        }
      }
      out.toSeq
    }
    /** Shallow heap bytes of the model's arrays (compressed oops). */
    def heapBytes: Long =
      2L * (16 + 4L * KeySpace) + versions.iterator.filter(_ != null).map(16 + 8L * _.length).sum
  }

  def run(h: Harness): Unit = {
    val spark = h.spark
    h.info("session_s") = h.sessionSeconds()
    val rng = new java.util.SplittableRandom(h.args.seed ^ 0x9E3779B97F4A7C15L)
    val root = h.scratchDir("kv")

    if (h.args.trace) spark.sparkContext.setJobGroup("bg", "background merges", false)
    def load(t: MergeTreeTable, model: Model, rows: Long): Unit = {
      val load = new java.util.SplittableRandom(h.args.seed)
      var ts = model.rows
      while (ts < rows) {
        val k = load.nextInt(KeySpace); val n = load.nextInt(1000)
        t.insert(KVRow(key(k), value(ts, n), ts))
        model.add(k, ts, n)
        ts += 1
      }
    }

    // Warm-up (see `WarmupRounds`), in its own method so that nothing of it
    // stays reachable for `heap_live_mb`. The table's directory stays until
    // the run's scratch root is removed: shutdown does not wait for a merge
    // in flight, which may still be writing parts into it.
    def warmUp(): Unit = {
      val warm = MergeTreeTable.create(spark, root.resolve("warmup").toString, Config)
      val warmModel = new Model
      load(warm, warmModel, WarmupPreload)
      val warmRng = new java.util.SplittableRandom(h.args.seed ^ 0x3C6EF372FE94F82BL)
      (0 until WarmupRounds).foreach { r =>
        (0 until RowsPerRound).foreach { _ =>
          val k = warmRng.nextInt(KeySpace); val n = warmRng.nextInt(1000); val ts = warmModel.rows
          warm.insert(KVRow(key(k), value(ts, n), ts))
          warmModel.add(k, ts, n)
        }
        val lo = warmRng.nextInt(KeySpace - RangeKeys)
        val hi = if (r % RangeEvery == RangeEvery / 2) lo + RangeKeys - 1 else lo
        // Checked like a timed read, and counted as attempted if wrong.
        if (warm.queryRows(key(lo), key(hi)) != warmModel.range(lo, hi)) {
          h.attempted += 1
          h.fail(s"warm-up read [${key(lo)}, ${key(hi)}] returned a wrong answer")
        }
      }
      warm.shutdown()
    }
    warmUp()

    // Set-up: a fresh table bulk-loaded through the same row-at-a-time
    // insert path.
    val dir = root.resolve("table")
    val table = MergeTreeTable.create(spark, dir.toString, Config)
    val model = new Model
    load(table, model, PreloadRows)
    var ts = model.rows
    if (h.args.trace) spark.sparkContext.clearJobGroup()
    val setupS = h.sinceJvmStart()
    val preloadBytes = model.logicalBytes

    val t = table
    val watcher = new PartWatcher(
      () => t.parts.map(p => (p.partId, p.rowCount, p.diskSize)), () => t.gcPending.size)
    val pointMs = ArrayBuffer[Double](); val rangeMs = ArrayBuffer[Double]()
    val pointTraced = ArrayBuffer[Double](); val pointUntraced = ArrayBuffer[Double]()
    val flushMs = ArrayBuffer[Double]()
    var insertNs = 0L; var insertCalls = 0L
    var reads = 0L; var readsOk = 0L; var local = 0L; var lookups = 0L
    var overlapSum = 0L; var rowsOut = 0L
    var firstDistributedRows = 0L; var firstDistributedAt = 0L; var distributedLookups = 0L
    var rounds = 0L
    // Time spent in the engine's insert and queryRows calls, without the
    // benchmark's own checks and part-list polls.
    var opNs = 0L
    var windowS = 0.0; var windowOpS = 0.0; var windowPointP50 = 0.0; var windowRangeP50 = 0.0
    var spaceAmp = 0.0; var heapMb = 0.0

    /** The end-to-end figures, taken once the fixed window's work is done. */
    def closeWindow(elapsedS: Double): Unit = {
      windowS = elapsedS
      windowOpS = opNs / 1e9
      windowPointP50 = Stats.pct(pointMs.toSeq, 50)
      windowRangeP50 = Stats.pct(rangeMs.toSeq, 50)
      spaceAmp = Dirs.dirSize(dir) / math.max(1L, model.logicalBytes).toDouble
      heapMb = h.heapLiveMb() - model.heapBytes / 1048576.0
    }

    val gc0 = h.gcMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + h.args.seconds * 1000000000L
    while (System.nanoTime() < deadline || model.rows <= Config.localScanMaxRows) {
      h.beginOp(rounds)
      try h.tracer.call("bench", "round") {
        var j = 0
        while (j < RowsPerRound) {
          val k = rng.nextInt(KeySpace); val n = rng.nextInt(1000)
          val r = KVRow(key(k), value(ts, n), ts)
          val a = System.nanoTime()
          h.tracer.call("mergetree", "insert")(t.insert(r))
          val d = System.nanoTime() - a
          insertNs += d; insertCalls += 1
          model.add(k, ts, n)
          ts += 1
          opNs += d
          if (t.memtableSize == 0) {
            flushMs += d / 1e6
            watcher.poll(afterWrite = true)
          }
          j += 1
        }
        def read(cls: String, lo: Int, hi: Int): Unit = {
          val (a, b) = (key(lo), key(hi))
          val overlapping = t.parts.count(_.overlapsRange(a, b))
          val s = System.nanoTime()
          val got = h.tracer.call("mergetree", s"queryRows.$cls")(t.queryRows(a, b))
          val ns = System.nanoTime() - s
          opNs += ns
          val ms = ns / 1e6
          if (cls == "point") {
            pointMs += ms
            (if (h.tracer.active) pointTraced else pointUntraced) += ms
            lookups += 1; overlapSum += overlapping
            if (t.lastScanLocal) local += 1
            else {
              distributedLookups += 1
              if (firstDistributedRows == 0L) {
                firstDistributedRows = model.rows; firstDistributedAt = s
              }
            }
          } else rangeMs += ms
          rowsOut += got.size
          reads += 1
          val want = model.range(lo, hi)
          if (got == want) readsOk += 1
          else h.fail(s"$cls [$a, $b]: got ${got.size} rows, expected ${want.size}")
        }
        val k = rng.nextInt(KeySpace)
        read("point", k, k)
        // Halfway between flushes (rows reach a multiple of 1000 at the end of
        // rounds 9, 19, ...), so range reads do not always follow a flush.
        if (rounds % RangeEvery == RangeEvery / 2) {
          val lo = rng.nextInt(KeySpace - RangeKeys)
          read("range", lo, lo + RangeKeys - 1)
        }
      } catch { case e: Exception => h.fail(s"round $rounds: $e") }
      h.endOp()
      watcher.poll(afterWrite = false)
      rounds += 1
      if (rounds == WindowRounds) closeWindow((System.nanoTime() - t0) / 1e9)
    }
    val tEnd = System.nanoTime()
    val elapsed = (tEnd - t0) / 1e9
    val gcMs = h.gcMillis() - gc0

    val cliffShare =
      if (firstDistributedAt == 0L) 0.0 else (tEnd - firstDistributedAt) / 1e9 / elapsed
    if (t.totalRows != model.rows)
      h.fail(s"totalRows ${t.totalRows} != inserted ${model.rows}")

    h.e2e("setup_s") = setupS
    h.e2e("ops_per_s") = WindowRounds / windowOpS
    h.layer("write.rows_per_s") = insertCalls / math.max(1e-9, insertNs / 1e9)
    h.e2e("read_p50_ms") = Stats.geomean(Seq(windowPointP50, windowRangeP50))
    h.layer("read.p90_ms") = Stats.geomean(Seq(Stats.pct(pointMs.toSeq, 90), Stats.pct(rangeMs.toSeq, 90)))
    h.e2e("answer_recall") = readsOk.toDouble / math.max(1L, reads)
    h.e2e("space_amp") = spaceAmp
    h.e2e("heap_live_mb") = heapMb

    h.info("rows_inserted") = model.rows
    h.info("rows_at_start") = PreloadRows
    h.info("rounds") = rounds
    h.info("window_rounds") = WindowRounds
    h.info("window_s") = windowS
    h.info("window_op_s") = windowOpS
    h.info("lookups") = lookups
    h.info("lookups_distributed") = distributedLookups
    h.info("cliff_time_share") = cliffShare
    h.info("range_reads") = rangeMs.size
    h.info("parts_at_end") = t.partCount
    h.info("model_heap_mb") = model.heapBytes / 1048576.0

    if (h.args.trace) {
      val insertSpans = h.tracer.spans.filter(_.name == "insert")
      h.layer("lat.point_p50_ms") = Stats.pct(pointMs.toSeq, 50)
      h.layer("lat.point_p99_ms") = Stats.pct(pointMs.toSeq, 99)
      h.layer("lat.range_p50_ms") = Stats.pct(rangeMs.toSeq, 50)
      h.layer("mt.insert.calls") = insertCalls.toDouble
      h.layer("mt.insert.self_ms") =
        Stats.mean(insertSpans.map(s => (s.endNs - s.startNs) / 1e6))
      h.layer("mt.flush.parts") = watcher.writeParts.toDouble
      h.layer("mt.flush.p99_ms") = Stats.pct(flushMs.toSeq, 99)
      h.layer("mt.write_amp") = (watcher.writeBytes + watcher.mergeBytes) /
        math.max(1L, model.logicalBytes - preloadBytes).toDouble
      h.layer("mt.merge.rounds") = watcher.mergeRounds.toDouble
      h.layer("mt.merge.bytes_rewritten") = watcher.mergeBytes.toDouble
      h.layer("mt.parts_live.mean") = Stats.mean(watcher.liveSamples.map(_.toDouble))
      h.layer("mt.parts_live.max") = (watcher.liveSamples :+ 0).max.toDouble
      h.layer("mt.gc_pending.max") = watcher.gcPendingMax.toDouble
      h.layer("mt.lookup.local_ratio") = local.toDouble / math.max(1L, lookups)
      h.layer("mt.lookup.parts_overlapping.mean") = overlapSum.toDouble / math.max(1L, lookups)
      h.layer("mt.lookup.first_distributed_rows") = firstDistributedRows.toDouble
      h.layer("mt.lookup.cliff_time_share") = cliffShare
      h.layer("jvm.gc_ms") = gcMs.toDouble
      h.layer("jvm.heap_peak_mb") = h.heapPeakMb()
      h.layer("trace.overhead_ms") =
        Stats.pct(pointTraced.toSeq, 50) - Stats.pct(pointUntraced.toSeq, 50)
      h.sparkLayer(rounds, rowsOut)
      h.selfTimeLayer()
    }
    t.shutdown()
  }
}
