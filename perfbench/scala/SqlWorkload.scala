package perfbench

import graft.mergetree.{ColumnarMergeTree, MergeTreeConfig}
import graft.sources.GenericMergeTreeScan

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** `sql_mixed`: a seeded star schema created with ClickHouse DDL through
  * the `graft` catalog. `lineitem` (MergeTree, partitioned by ship month,
  * minmax index on ship day) arrives in order-key batches plus one late
  * batch whose keys overlap the earlier ones; `orders` is a
  * ReplacingMergeTree whose late rows re-version old orders; `part` is a
  * small dimension. The timed loop runs a fixed mix of SQL reads and an
  * INSERT batch after each of the first `TimedInserts` passes, with
  * background merges on; later passes only read, so the data a run ends
  * with does not depend on the program's speed. No program cache applies,
  * so this is the workload larger than any cache.
  */
object SqlWorkload {
  val OrdersPerBatch = 4000
  val InitialBatches = 3
  val LateLines = 6000
  val LateReversions = 1500
  val ReversionsPerInsert = 300
  val Parts = 2000
  val OrdersPerDay = 80
  /** INSERT batches in the timed phase: one after each of the first passes
    * of the mix. `space_amp` is taken right after the last; `heap_live_mb`
    * at the end of the phase, once the background merge workers are told to
    * stop, as the smaller of two samples 1 s apart, so a merge caught in
    * flight does not count as live data.
    */
  val TimedInserts = 2
  /** Before set-up, a throwaway namespace goes through the same DDL and
    * INSERTs with only `WarmupBatches` of the arrival batches: a fresh JVM
    * is still loading and compiling Spark's and the engine's write and
    * planning paths, and without a warm-up the timed phase runs on code
    * still being compiled.
    */
  val WarmupBatches = 1
  val Mix = Seq("point", "range", "prune", "point", "groupby", "join", "point", "final")

  final case class Li(orderkey: Long, line: Long, partkey: Long, suppkey: Long, quantity: Long,
                      price: Long, discount: Long, shipday: Long, flag: String, batch: Int) {
    def shipmonth: Long = shipday / 30
    def row: Row = Row(orderkey, line, partkey, suppkey, quantity, price, discount, shipday,
      shipmonth, flag)
    def bytes: Long = 9 * 8 + flag.length
  }
  final case class Ord(orderkey: Long, custkey: Long, status: String, total: Long, ver: Long,
                       batch: Int) {
    def row: Row = Row(orderkey, custkey, status, total, ver)
    def bytes: Long = 4 * 8 + status.length
  }

  val liSchema = StructType(Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
    "l_quantity", "l_price", "l_discount", "l_shipday", "l_shipmonth").map(StructField(_, LongType)) :+
    StructField("l_returnflag", StringType))
  val ordSchema = StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_status", StringType), StructField("o_total", LongType), StructField("o_ver", LongType)))
  val partSchema = StructType(Seq(StructField("p_partkey", LongType), StructField("p_brand", StringType),
    StructField("p_type", StringType), StructField("p_size", LongType)))

  val Flags = Array("A", "N", "R")
  val Statuses = Array("F", "O", "P")
  val Types = Array("STEEL", "BRASS", "COPPER", "NICKEL", "TIN", "ZINC", "IRON", "CHROME")

  def brand(i: Int): String = s"Brand#${i % 25 + 10}"

  /** Seeded data source: arrival-ordered order batches, their line items,
    * late overlapping lines and order re-versions.
    */
  final class Gen(seed: Long) {
    private val rng = new SplittableRandom(seed)
    private var nextOrder = 1L
    private var nextVer = 1L
    val parts: Seq[Row] = (1 to Parts).map(p =>
      Row(p.toLong, brand(rng.nextInt(25)), Types(rng.nextInt(Types.length)), (1 + rng.nextInt(50)).toLong))
    def orderCount: Long = nextOrder - 1

    private def line(o: Long, l: Long, batch: Int): Li = {
      val q = 1L + rng.nextInt(50)
      val pk = 1L + rng.nextInt(Parts)
      Li(o, l, pk, 1L + rng.nextInt(100), q, q * (900 + pk % 200), rng.nextInt(11).toLong,
        o / OrdersPerDay + rng.nextInt(20), Flags(rng.nextInt(3)), batch)
    }
    private def order(o: Long, batch: Int): Ord = {
      val v = nextVer; nextVer += 1
      Ord(o, 1L + rng.nextInt(5000), Statuses(rng.nextInt(3)), 1000L + rng.nextInt(500000), v, batch)
    }

    /** One arrival batch of new orders and their lines. */
    def arrival(batch: Int): (Seq[Li], Seq[Ord]) = {
      val lis = ArrayBuffer[Li](); val ords = ArrayBuffer[Ord]()
      (0 until OrdersPerBatch).foreach { _ =>
        val o = nextOrder; nextOrder += 1
        ords += order(o, batch)
        (1 to 1 + rng.nextInt(7)).foreach(l => lis += line(o, l, batch))
      }
      (lis.toSeq, ords.toSeq)
    }

    /** Late lines for already-seen orders (keys overlap older parts), and
      * re-versions of already-seen orders.
      */
    def late(batch: Int, lines: Int, reversions: Int): (Seq[Li], Seq[Ord]) = {
      val lis = (0 until lines).map(_ =>
        line(1L + rng.nextLong(orderCount), 8L + rng.nextInt(4), batch))
      val ords = (0 until reversions).map(_ => order(1L + rng.nextLong(orderCount), batch))
      (lis, ords)
    }

    /** The batches set-up loads: arrivals, then one late batch. */
    def initial(batches: Int = InitialBatches): Seq[(Seq[Li], Seq[Ord])] =
      (0 until batches).map(_ => arrival(0)) :+ late(0, LateLines, LateReversions)

    /** The `state`-th timed INSERT: an arrival plus re-versions of old orders. */
    def timedInsert(state: Int): (Seq[Li], Seq[Ord]) = {
      val (lis0, ords0) = arrival(state)
      val (lisL, ordsL) = late(state, 0, ReversionsPerInsert)
      (lis0 ++ lisL, ords0 ++ ordsL)
    }
  }

  def bytesOf(batch: (Seq[Li], Seq[Ord])): Long =
    batch._1.iterator.map(_.bytes).sum + batch._2.iterator.map(_.bytes).sum

  def run(h: Harness): Unit = {
    val wh = h.scratchDir("graft_wh")
    System.setProperty("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    System.setProperty("spark.sql.catalog.graft.warehouse", wh.toString)
    val spark = h.spark
    h.info("session_s") = h.sessionSeconds()
    def createDf(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

    /** INSERTs one batch into namespace `ns`; returns the nanoseconds spent
      * in the two INSERT statements.
      */
    def load(lis: Seq[Li], ords: Seq[Ord], ns: String): Long = {
      createDf(lis.map(_.row), liSchema).createOrReplaceTempView("li_in")
      createDf(ords.map(_.row), ordSchema).createOrReplaceTempView("ord_in")
      val t0 = System.nanoTime()
      h.tracer.call("sources", "sql.insert") {
        spark.sql(s"INSERT INTO $ns.lineitem SELECT * FROM li_in")
        spark.sql(s"INSERT INTO $ns.orders SELECT * FROM ord_in")
      }
      val d = System.nanoTime() - t0
      // The views hold the batch's rows; drop them so the heap keeps none.
      spark.catalog.dropTempView("li_in"); spark.catalog.dropTempView("ord_in")
      d
    }

    // Warm-up (see `WarmupBatches`), then set-up. The generated rows are not
    // kept: the DuckDB check regenerates them from the seed after the run.
    def setUp(ns: String, batches: Int): (Gen, Long) = {
      val gen = new Gen(h.args.seed)
      var userBytes = gen.parts.size * 28L
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
      spark.sql(
        s"""CREATE TABLE $ns.lineitem (
           |  l_orderkey Int64, l_linenumber Int64, l_partkey Int64, l_suppkey Int64,
           |  l_quantity Int64, l_price Int64, l_discount Int64, l_shipday Int64,
           |  l_shipmonth Int64, l_returnflag LowCardinality(String),
           |  INDEX idx_shipday l_shipday TYPE minmax
           |) ENGINE = MergeTree PARTITION BY l_shipmonth ORDER BY (l_orderkey, l_linenumber)""".stripMargin)
      spark.sql(
        s"""CREATE TABLE $ns.orders (
           |  o_orderkey Int64, o_custkey Int64, o_status String, o_total Int64, o_ver Int64
           |) ENGINE = ReplacingMergeTree(o_ver) ORDER BY o_orderkey""".stripMargin)
      spark.sql(
        s"""CREATE TABLE $ns.part (
           |  p_partkey Int64, p_brand String, p_type String, p_size Int64
           |) ENGINE = MergeTree ORDER BY p_partkey""".stripMargin)
      createDf(gen.parts, partSchema).createOrReplaceTempView("part_in")
      spark.sql(s"INSERT INTO $ns.part SELECT * FROM part_in")
      spark.catalog.dropTempView("part_in")
      gen.initial(batches).foreach { b =>
        load(b._1, b._2, ns)
        userBytes += bytesOf(b)
      }
      (gen, userBytes)
    }
    setUp("graft.warmup", WarmupBatches)
    val ns = "graft.bench"
    val loaded = setUp(ns, InitialBatches)
    val gen = loaded._1
    var userBytes = loaded._2
    val nsDir = wh.resolve(ns.stripPrefix("graft."))

    // Background merges on both written tables, as a long-lived server runs them.
    if (h.args.trace) spark.sparkContext.setJobGroup("bg", "background merges", false)
    val bgConfig = MergeTreeConfig(maxParts = 8, enableBackgroundMerge = true, mergeIntervalSeconds = 2)
    val bg = Seq("lineitem", "orders").map(t => ColumnarMergeTree.open(spark, nsDir.resolve(t).toString, bgConfig))
    if (h.args.trace) spark.sparkContext.clearJobGroup()
    val watcher = new PartWatcher(
      () => bg.zipWithIndex.flatMap { case (t, i) =>
        t.refresh(); t.parts.map(p => (i * 1000000000L + p.partId, p.rowCount, p.diskSize)) },
      () => bg.map(_.gcPending.size).sum)

    val rng = new SplittableRandom(h.args.seed ^ 0x5DEECE66DL)
    val li = s"$ns.lineitem"; val ord = s"$ns.orders"; val part = s"$ns.part"
    val maxDay = gen.orderCount / OrdersPerDay + 20

    /** (Spark SQL, DuckDB SQL) for one query of class `cls`. */
    def query(cls: String): (String, String) = {
      val tpl = cls match {
        case "point" =>
          val o = 1L + rng.nextLong(gen.orderCount)
          s"SELECT l_linenumber, l_partkey, l_quantity, l_price, l_returnflag FROM {li} " +
            s"WHERE l_orderkey = $o ORDER BY l_linenumber, l_partkey, l_quantity, l_price"
        case "range" =>
          val o = 1L + rng.nextLong(math.max(1L, gen.orderCount - 300))
          s"SELECT count(*), sum(l_quantity), sum(l_price) FROM {li} " +
            s"WHERE l_orderkey BETWEEN $o AND ${o + 299}"
        case "prune" =>
          val m = rng.nextLong(maxDay / 30 + 1)
          s"SELECT l_returnflag, count(*), sum(l_quantity), sum(l_price) FROM {li} " +
            s"WHERE l_shipmonth = $m GROUP BY l_returnflag ORDER BY l_returnflag"
        case "groupby" =>
          "SELECT l_returnflag, l_shipmonth, count(*), sum(l_quantity), sum(l_price), " +
            "avg(l_discount) FROM {li} GROUP BY l_returnflag, l_shipmonth " +
            "ORDER BY l_returnflag, l_shipmonth"
        case "join" =>
          val b = brand(rng.nextInt(25))
          val d = rng.nextLong(math.max(1L, maxDay - 60))
          s"SELECT p.p_type, count(*), sum(l.l_price) FROM {li} l JOIN {part} p " +
            s"ON l.l_partkey = p.p_partkey WHERE p.p_brand = '$b' AND l.l_shipday >= $d " +
            "GROUP BY p.p_type ORDER BY p.p_type"
        case "final" =>
          "SELECT o_status, count(*), sum(o_total), max(o_ver) FROM {ordf} " +
            "GROUP BY o_status ORDER BY o_status"
      }
      (tpl.replace("{li}", li).replace("{part}", part).replace("{ordf}", s"$ord FINAL"), tpl)
    }

    val lat = mutable.Map.empty[String, ArrayBuffer[Double]]
    val phase = mutable.Map.empty[String, ArrayBuffer[Double]]
    def rec(m: mutable.Map[String, ArrayBuffer[Double]], k: String, v: Double): Unit =
      m.getOrElseUpdate(k, ArrayBuffer[Double]()) += v
    val traced = ArrayBuffer[Double](); val untraced = ArrayBuffer[Double]()
    val prune = ArrayBuffer[Double]()
    var state = 0
    var insertNs = 0L; var rowsInserted = 0L; var rowsOut = 0L
    var ops = 0L; var round = 0L; var readsThrown = 0L
    var spaceAmp = 0.0

    // Every timed query goes to disk as it completes, tagged with the
    // INSERT state it saw, so the heap holds no check data.
    val dump = h.scratchDir("sql_check")
    var checks: java.io.BufferedWriter = null

    def toJsonable(v: Any): Any = v match {
      case d: java.math.BigDecimal => d.doubleValue()
      case x => x
    }

    def select(cls: String): Unit = {
      val (sparkSql, duckSql) = query(cls)
      GenericMergeTreeScan.lastPruning.set((0, 0))
      val t0 = System.nanoTime()
      val df = h.tracer.call("sources", s"sql.parse.$cls")(spark.sql(sparkSql))
      val t1 = System.nanoTime()
      h.tracer.call("sources", s"sql.plan.$cls")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val rows = h.tracer.call("sources", s"sql.exec.$cls")(df.collect())
      val t3 = System.nanoTime()
      rec(phase, s"$cls.parse", (t1 - t0) / 1e6)
      rec(phase, s"$cls.plan", (t2 - t1) / 1e6)
      rec(phase, s"$cls.exec", (t3 - t2) / 1e6)
      val ms = (t3 - t0) / 1e6
      rec(lat, cls, ms)
      if (cls == "point") (if (h.tracer.active) traced else untraced) += ms
      val (planned, total) = GenericMergeTreeScan.lastPruning.get
      if (total > 0) prune += 1.0 - planned.toDouble / total
      rowsOut += rows.length
      if (checks != null) {
        checks.write(Json.write(Map("cls" -> cls, "state" -> state, "sql" -> duckSql,
          "rows" -> rows.toSeq.map(_.toSeq.map(toJsonable)))))
        checks.newLine()
      }
    }

    /** Disk bytes over user bytes, after the fixed work. */
    def sampleSpace(): Unit = spaceAmp = Dirs.dirSize(nsDir) / math.max(1L, userBytes).toDouble

    def insert(): Unit = {
      state += 1
      val (lis, ords) = gen.timedInsert(state)
      watcher.poll(afterWrite = false)
      val d = load(lis, ords, ns)
      watcher.poll(afterWrite = true)
      insertNs += d
      rec(lat, "insert", d / 1e6)
      rowsInserted += lis.size + ords.size
      userBytes += bytesOf((lis, ords))
    }

    // One untimed pass of the mix compiles each query shape once; it is
    // set-up work, so it counts in setup_s.
    val w0 = System.nanoTime()
    Mix.distinct.foreach(select)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = h.sinceJvmStart()
    lat.clear(); phase.clear(); prune.clear(); rowsOut = 0L
    traced.clear(); untraced.clear()
    checks = Files.newBufferedWriter(dump.resolve("checks.jsonl"), StandardCharsets.UTF_8)

    val gc0 = h.gcMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + h.args.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      Mix.foreach { cls =>
        if (System.nanoTime() < deadline) {
          h.beginOp(round)
          try h.tracer.call("bench", cls)(select(cls))
          catch { case e: Exception => readsThrown += 1; h.fail(s"$cls: $e") }
          h.endOp()
          watcher.poll(afterWrite = false)
          ops += 1
        }
      }
      if (state < TimedInserts && System.nanoTime() < deadline) {
        h.beginOp(round)
        try h.tracer.call("bench", "insert")(insert())
        catch { case e: Exception => h.fail(s"insert: $e") }
        h.endOp()
        ops += 1
        if (state == TimedInserts) sampleSpace()
      }
      round += 1
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val gcMs = h.gcMillis() - gc0
    // A program too slow to make every INSERT in the phase is sampled at
    // the end, over the batches it did insert.
    if (state < TimedInserts) sampleSpace()
    bg.foreach(_.shutdown())
    val heapMb = { val first = h.heapLiveMb(); Thread.sleep(1000); math.min(first, h.heapLiveMb()) }
    checks.close()
    val readClasses = Mix.distinct
    def p(cls: String, q: Double) = Stats.pct(lat.getOrElse(cls, ArrayBuffer()).toSeq, q)
    val weights = (Mix :+ "insert").groupBy(identity).map { case (c, v) => c -> v.size }
    h.e2e("setup_s") = setupS
    h.e2e("ops_per_s") = Harness.mixRate(weights, lat)
    h.layer("write.rows_per_s") = rowsInserted / math.max(1e-9, insertNs / 1e9)
    h.e2e("read_p50_ms") = Stats.geomean(readClasses.map(p(_, 50)))
    h.layer("read.p90_ms") = Stats.geomean(readClasses.map(p(_, 90)))
    h.e2e("answer_recall") = 1.0 // replaced by the DuckDB check in run.py
    h.e2e("space_amp") = spaceAmp
    h.e2e("heap_live_mb") = heapMb
    h.info("warmup_s") = warmS
    h.info("ops_completed_per_s") = ops / elapsed
    h.info("inserts") = state
    h.info("reads_thrown") = readsThrown
    h.info("queries") = readClasses.map(c => c -> lat.getOrElse(c, ArrayBuffer()).size).toMap

    if (h.args.trace) {
      h.layer("lat.point_p50_ms") = p("point", 50)
      h.layer("lat.point_p99_ms") = p("point", 99)
      h.layer("lat.range_p50_ms") = p("range", 50)
      h.layer("lat.prune_p50_ms") = p("prune", 50)
      h.layer("lat.scan_p50_ms") = p("groupby", 50)
      h.layer("lat.join_p50_ms") = p("join", 50)
      h.layer("lat.final_p50_ms") = p("final", 50)
      readClasses.foreach(c => Seq("parse", "plan", "exec").foreach { ph =>
        h.layer(s"sql.$c.${ph}_ms") = Stats.pct(phase.getOrElse(s"$c.$ph", ArrayBuffer()).toSeq, 50)
      })
      h.layer("sql.insert.exec_ms") = p("insert", 50)
      h.layer("mt.insert.calls") = state.toDouble
      h.layer("mt.insert.self_ms") = Stats.mean(h.tracer.spans.filter(_.name == "sql.insert")
        .map(s => (s.endNs - s.startNs) / 1e6))
      h.layer("mt.flush.parts") = watcher.writeParts.toDouble
      h.layer("mt.write_amp") = (watcher.writeBytes + watcher.mergeBytes) /
        math.max(1L, userBytes).toDouble
      h.layer("mt.merge.rounds") = watcher.mergeRounds.toDouble
      h.layer("mt.merge.bytes_rewritten") = watcher.mergeBytes.toDouble
      h.layer("mt.parts_live.mean") = Stats.mean(watcher.liveSamples.map(_.toDouble))
      h.layer("mt.parts_live.max") = (watcher.liveSamples :+ 0).max.toDouble
      h.layer("mt.gc_pending.max") = watcher.gcPendingMax.toDouble
      h.layer("mt.scan.prune_ratio") = Stats.mean(prune)
      h.layer("jvm.gc_ms") = gcMs.toDouble
      h.layer("jvm.heap_peak_mb") = h.heapPeakMb()
      h.layer("trace.overhead_ms") = Stats.pct(traced.toSeq, 50) - Stats.pct(untraced.toSeq, 50)
      h.sparkLayer(ops, rowsOut)
      h.selfTimeLayer()
    }

    // What DuckDB needs to replay every checked query: the generated rows,
    // regenerated from the seed and tagged with the INSERT after which they
    // became visible.
    def csv(name: String, header: String, lines: Iterator[String]): Unit = {
      val w = Files.newBufferedWriter(dump.resolve(name), StandardCharsets.UTF_8)
      try { w.write(header); w.newLine(); lines.foreach { l => w.write(l); w.newLine() } }
      finally w.close()
    }
    val replay = new Gen(h.args.seed)
    val batches = replay.initial().iterator ++ (1 to state).iterator.map(replay.timedInsert)
    val (liRows, ordRows) = batches.map(b => (b._1, b._2)).toSeq.unzip
    csv("lineitem.csv", "l_orderkey,l_linenumber,l_partkey,l_suppkey,l_quantity,l_price," +
      "l_discount,l_shipday,l_shipmonth,l_returnflag,batch", liRows.iterator.flatten.map(l =>
      s"${l.orderkey},${l.line},${l.partkey},${l.suppkey},${l.quantity},${l.price}," +
        s"${l.discount},${l.shipday},${l.shipmonth},${l.flag},${l.batch}"))
    csv("orders.csv", "o_orderkey,o_custkey,o_status,o_total,o_ver,batch", ordRows.iterator.flatten.map(o =>
      s"${o.orderkey},${o.custkey},${o.status},${o.total},${o.ver},${o.batch}"))
    csv("part.csv", "p_partkey,p_brand,p_type,p_size", replay.parts.iterator.map(r =>
      s"${r.getLong(0)},${r.getString(1)},${r.getString(2)},${r.getLong(3)}"))
    h.info("lineitem_rows") = liRows.iterator.map(_.size).sum
    h.info("orders_rows") = ordRows.iterator.map(_.size).sum
    h.info("sql_check_dir") = dump.toString
  }
}
