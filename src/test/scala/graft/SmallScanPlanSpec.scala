package graft

import graft.mergetree.{ColumnarMergeTree, KVRow, MergeTreeConfig, MergeTreeTable}
import graft.plans.{DriverLocalExec, SinglePartitionScanExec}
import graft.sources.{GenericMergeTreeScan, MergeTreeMutPartition, MergeTreePartition, SingleSplitScan}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.KeyGroupedPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Small SQL scans plan as one partition: a mergetree scan whose
  * statically pruned parts fit `MergeTreeConfig().fitsLocalRead` plans
  * one split reported as `SinglePartition`, so
  * no exchange is planned above it, and a query whose every scan decided
  * so runs on the driver (`DriverLocalExec`) with no Spark job.
  * Over the budget, under pending lightweight mutations and under the SPJ
  * opt-in the plans stay distributed. Job and stage counts come from a
  * listener over the query's job group; plan shapes are read through
  * [[PlanNodes]], which also walks a driver-local plan's inner plan.
  */
class SmallScanPlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  /** A ClickHouse-DDL star schema in its own catalog: `li` partitioned by
    * month with a minmax index, `ord` a ReplacingMergeTree with re-versions
    * in a second part, `dim` a small dimension.
    */
  private lazy val wh: String = Files.createTempDirectory("small_scan_wh_").toString
  private lazy val ns: String = {
    spark.conf.set("spark.sql.catalog.gsmall", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsmall.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsmall.ns")
    spark.sql(
      """CREATE TABLE gsmall.ns.li (
        |  k Int64, ln Int64, pk Int64, d Int64, m Int64, q Int64,
        |  flag LowCardinality(String),
        |  INDEX idx_d d TYPE minmax
        |) ENGINE = MergeTree PARTITION BY m ORDER BY (k, ln)""".stripMargin)
    spark.sql(
      """CREATE TABLE gsmall.ns.ord (
        |  k Int64, status String, total Int64, ver Int64
        |) ENGINE = ReplacingMergeTree(ver) ORDER BY k""".stripMargin)
    spark.sql(
      """CREATE TABLE gsmall.ns.dim (
        |  pk Int64, brand String
        |) ENGINE = MergeTree ORDER BY pk""".stripMargin)
    (0 until 3).foreach { b =>
      spark.sql(s"""INSERT INTO gsmall.ns.li SELECT id DIV 3, id % 3, id % 50,
        |  (id DIV 3) DIV 20, (id DIV 3) DIV 200, id % 7 + 1,
        |  element_at(array('A', 'N', 'R'), CAST(id % 3 AS INT) + 1)
        |FROM range(${b * 1000}, ${(b + 1) * 1000})""".stripMargin)
    }
    spark.sql("""INSERT INTO gsmall.ns.ord SELECT id, IF(id % 2 = 0, 'F', 'O'),
      |  id * 10, 1 FROM range(500)""".stripMargin)
    spark.sql("""INSERT INTO gsmall.ns.ord SELECT id * 3, 'P', id * 7, 2
      |FROM range(100)""".stripMargin)
    spark.sql("""INSERT INTO gsmall.ns.dim SELECT id, concat('B', CAST(id % 5 AS STRING))
      |FROM range(50)""".stripMargin)
    "gsmall.ns"
  }

  /** A catalog table's directory: `<warehouse>/<namespace>/<table>`. */
  private def dir(table: String): String = { ns; s"$wh/ns/$table" }

  /** Jobs and submitted stages of the Spark work `f` starts on this thread. */
  private def counted[T](f: => T): (T, Int, Int) = {
    val group = s"small-scan-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    def mine(p: java.util.Properties) =
      Option(p).exists(_.getProperty("spark.jobGroup.id") == group)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (mine(e.properties)) { jobs.incrementAndGet(); () }
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (mine(e.properties)) { stages.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      val out = try f finally spark.sparkContext.clearJobGroup()
      Thread.sleep(500) // listener events post asynchronously
      (out, jobs.get(), stages.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    PlanNodes.collect(p) { case e: ShuffleExchangeExec => e }
  private def wrapped(p: SparkPlan): Seq[SinglePartitionScanExec] =
    PlanNodes.collect(p) { case e: SinglePartitionScanExec => e }
  private def scans(p: SparkPlan): Seq[BatchScanExec] =
    PlanNodes.collect(p) { case e: BatchScanExec => e }
  private def driverLocal(p: SparkPlan): Seq[DriverLocalExec] =
    PlanNodes.collect(p) { case e: DriverLocalExec => e }

  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Below every test table's size: every scan is over the budget. */
  private val overBudget = "spark.sql.files.openCostInBytes" -> "1"

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  private def queries: Seq[(String, String)] = Seq(
    ("point", s"SELECT ln, pk, q FROM $ns.li WHERE k = 417 ORDER BY ln"),
    ("range", s"SELECT count(*), sum(q) FROM $ns.li WHERE k BETWEEN 100 AND 399"),
    ("groupby", s"SELECT flag, m, count(*), sum(q), avg(pk) FROM $ns.li " +
      "GROUP BY flag, m ORDER BY flag, m"),
    // the filtered dimension broadcasts: it is read on the driver as well
    ("join", s"SELECT d.brand, count(*), sum(l.q) FROM $ns.li l JOIN $ns.dim d " +
      "ON l.pk = d.pk WHERE d.brand = 'B3' AND l.d >= 5 GROUP BY d.brand ORDER BY d.brand"),
    ("final", s"SELECT status, count(*), sum(total), max(ver) FROM $ns.ord FINAL " +
      "GROUP BY status ORDER BY status"))

  test("point, range, GROUP BY, JOIN and FINAL plan no exchange and run no job " +
    "(the broadcast dim included); over the budget: same rows, exchanges planned") {
    queries.foreach { case (name, sql) =>
      val df = spark.sql(sql)
      val (rows, jobs, stages) = counted(rowsOf(df))
      val p = df.queryExecution.executedPlan
      assert(shuffles(p).isEmpty, s"$name: no exchange over a small scan:\n$p")
      assert(wrapped(p).nonEmpty, s"$name: the scan reports SinglePartition:\n$p")
      assert(p.isInstanceOf[DriverLocalExec], s"$name: the plan runs on the driver:\n$p")
      assert(jobs == 0 && stages == 0, s"$name: $jobs jobs / $stages stages, want 0:\n$p")
      assert(rows.nonEmpty, s"$name: the query must return rows")

      val big = withConf(overBudget) {
        val d = spark.sql(sql)
        (rowsOf(d), d.queryExecution.executedPlan)
      }
      assert(big._1 == rows, s"$name: the over-budget plan returns the same rows")
      assert(shuffles(big._2).nonEmpty && wrapped(big._2).isEmpty,
        s"$name: over the budget the plan stays distributed:\n${big._2}")
      assert(driverLocal(big._2).isEmpty, s"$name: over the budget it runs jobs:\n${big._2}")
    }
  }

  test("EXPLAIN names the decision; the split holds every surviving file") {
    val explain = spark.sql(s"EXPLAIN SELECT count(*) FROM $ns.li WHERE m = 1")
      .collect().head.getString(0)
    assert(explain.contains("splits=1 (local budget)"), explain)
    val physical = explain.linesIterator.dropWhile(!_.startsWith("== Physical Plan")).toSeq
    assert(physical(1) == "DriverLocal" &&
      Seq("HashAggregate", "SinglePartitionScan").forall(n => physical.exists(_.contains(n))),
      s"the driver-run root prints its inner plan:\n$explain")
    val df = spark.sql(s"SELECT count(*) FROM $ns.li")
    assert(df.collect().head.getLong(0) == 3000L)
    val scan = scans(df.queryExecution.executedPlan).head.scan
    val splits = scan.toBatch.planInputPartitions()
    assert(splits.length == 1)
    val t = ColumnarMergeTree.open(spark, dir("li"))
    val files = t.parts.flatMap(p => graft.mergetree.PartStats
      .parquetFiles(java.nio.file.Paths.get(t.path, p.dir)).map(_.toString))
    assert(splits.head.asInstanceOf[MergeTreePartition].files.toSeq == files,
      "one split, every file in manifest order")
    val overExplain = withConf(overBudget) {
      spark.sql(s"EXPLAIN SELECT count(*) FROM $ns.li").collect().head.getString(0)
    }
    assert(!overExplain.contains("splits=1"), overExplain)
  }

  test("a runtime filter that prunes every part leaves one empty split and no rows") {
    val fact = spark.table(s"$ns.li")
    val dim = spark.range(8).select((col("id") + 100).as("dm"), (col("id") % 4).as("region"))
      .filter(col("region") === 1) // months 101 and 105: no such partition
    val out = fact.join(broadcast(dim), col("m") === col("dm")).agg(count(lit(1)))
    assert(out.collect().head.getLong(0) == 0L)
    val p = out.queryExecution.executedPlan
    assert(p.toString.toLowerCase.contains("dynamicpruning"), s"runtime filter planned:\n$p")
    assert(GenericMergeTreeScan.lastPruning.get()._1 == 0, "every part pruned at run time")
    val scan = scans(p).find(_.runtimeFilters.nonEmpty).get
    assert(wrapped(p).exists(_.child eq scan))
    assert(scan.inputRDD.partitions.length == 1, "one (empty) partition, never zero")
    val splits = scan.scan.toBatch.planInputPartitions()
    assert(splits.length == 1 && splits.head.asInstanceOf[MergeTreePartition].files.isEmpty)
  }

  test("pending lightweight mutations keep the per-file mutation splits") {
    val d = Files.createTempDirectory("small_scan_mut_").toString
    val df = spark.range(300).select(col("id").as("k"), (col("id") % 3).as("g"))
    val t = ColumnarMergeTree.create(spark, d, df.schema, orderBy = Seq("k"))
    t.insertBatch(df.filter(col("k") < 150), partitions = 1)
    t.insertBatch(df.filter(col("k") >= 150), partitions = 1)
    t.deleteLightweight(col("g") === 1)
    val q = spark.read.format("mergetree").load(d).groupBy("g").count().orderBy("g")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 100L), (2L, 100L)))
    val p = q.queryExecution.executedPlan
    assert(wrapped(p).isEmpty && shuffles(p).nonEmpty, s"mutation scans stay distributed:\n$p")
    val scan = scans(p).head.scan
    assert(!scan.asInstanceOf[SingleSplitScan].singleSplit)
    val splits = scan.toBatch.planInputPartitions()
    assert(splits.length == 2 && splits.forall(_.isInstanceOf[MergeTreeMutPartition]))
  }

  test("the SPJ opt-in keeps KeyGroupedPartitioning") {
    val a = Files.createTempDirectory("small_scan_spj_a_").toString
    val b = Files.createTempDirectory("small_scan_spj_b_").toString
    val rows = spark.range(200).select((col("id") % 4).as("grp"), col("id").as("k"))
    Seq(a, b).foreach(d => ColumnarMergeTree.create(spark, d, rows.schema,
      orderBy = Seq("k"), partitionBy = Some("grp")).insertBatch(rows))
    withConf("spark.graft.preserveDataGrouping" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val q = spark.read.format("mergetree").load(a).as("x")
        .join(spark.read.format("mergetree").load(b).as("y"), "grp")
      assert(q.count() == 4L * 50 * 50)
      val p = q.queryExecution.executedPlan
      assert(wrapped(p).isEmpty, s"SPJ scans are not single-split:\n$p")
      val ss = scans(p)
      assert(ss.size == 2 && ss.forall(_.outputPartitioning.isInstanceOf[KeyGroupedPartitioning]),
        s"both scans report their key groups:\n$p")
      assert(shuffles(p).isEmpty, s"the co-partitioned join stays exchange-free:\n$p")
    }
  }

  test("a broadcast-off join of a small dim with an over-budget fact shuffles both " +
    "sides into spark.sql.shuffle.partitions") {
    val dimBytes = ColumnarMergeTree.open(spark, dir("dim")).parts.map(_.diskSize).sum
    val factBytes = ColumnarMergeTree.open(spark, dir("li")).parts.map(_.diskSize).sum
    assert(dimBytes < factBytes)
    withConf("spark.sql.files.openCostInBytes" -> dimBytes.toString,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val sql = s"SELECT d.brand, count(*) FROM $ns.li l JOIN $ns.dim d ON l.pk = d.pk " +
        "GROUP BY d.brand ORDER BY d.brand"
      val df = spark.sql(sql)
      val rows = rowsOf(df)
      assert(rows.map(_(1).asInstanceOf[Long]).sum == 3000L)
      val p = df.queryExecution.executedPlan
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      def shuffledScan(table: String) = shuffles(p).filter(e =>
        e.outputPartitioning.numPartitions == n &&
          scans(e).exists(_.scan.description().contains(s"/ns/$table ")))
      assert(wrapped(p).map(_.child.asInstanceOf[BatchScanExec].scan.description())
        .map(_.contains("/ns/dim ")) == Seq(true), s"only the dim is single-split:\n$p")
      assert(shuffledScan("dim").nonEmpty && shuffledScan("li").nonEmpty,
        s"both join sides shuffle into $n partitions, the fact is never funneled:\n$p")
      assert(withConf(overBudget)(rowsOf(spark.sql(sql))) == rows)
    }
  }

  test("the KV table's SQL scan takes the same decision") {
    import spark.implicits._
    val d = Files.createTempDirectory("small_scan_kv_").toString
    val t = MergeTreeTable.create(spark, d, MergeTreeConfig())
    t.insertBatch(spark.createDataset((0 until 2000).map(i =>
      KVRow(f"k${i % 300}%04d", s"v$i", i.toLong))), partitions = 2)
    t.shutdown()
    def q = spark.read.format("mergetree").load(d)
      .filter(col("key") >= "k0100").groupBy("key").agg(max("timestamp").as("ts"))
      .orderBy("key")
    val df = q
    val (rows, jobs, _) = counted(rowsOf(df))
    assert(rows.size == 200 && rows.head == Seq("k0100", 1900L))
    val p = df.queryExecution.executedPlan
    assert(wrapped(p).size == 1 && shuffles(p).isEmpty && jobs == 0, s"$jobs jobs:\n$p")
    assert(scans(p).head.scan.description().contains("splits=1 (local budget)"))
    val big = withConf(overBudget) { val b = q; (rowsOf(b), b.queryExecution.executedPlan) }
    assert(big._1 == rows && shuffles(big._2).nonEmpty && wrapped(big._2).isEmpty)
  }

  test("show, take, count and toLocalIterator run on the driver with the distributed rows") {
    import scala.jdk.CollectionConverters._
    def df = spark.sql(s"SELECT k, ln, q FROM $ns.li WHERE k BETWEEN 400 AND 409 ORDER BY k, ln")
    val actions: Seq[(String, DataFrame => Any)] = Seq(
      "show" -> { d =>
        val out = new java.io.ByteArrayOutputStream()
        Console.withOut(out)(d.show(7))
        out.toString("UTF-8")
      },
      "take" -> (_.take(7).toSeq.map(_.toSeq)),
      "count" -> (_.count()),
      "toLocalIterator" -> (_.toLocalIterator().asScala.map(_.toSeq).toList))
    actions.foreach { case (name, act) =>
      val (out, jobs, _) = counted(act(df))
      assert(jobs == 0, s"$name ran $jobs jobs")
      assert(out == withConf(overBudget)(act(df)), s"$name: the distributed plan agrees")
    }
    assert(df.count() == 30L)
  }

  test("INSERT ... SELECT, a scalar subquery, a union of two small scans and an " +
    "over-budget scan keep their plans") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    spark.sql(s"CREATE TABLE IF NOT EXISTS $ns.dimcopy (pk Int64, brand String) " +
      "ENGINE = MergeTree ORDER BY pk")
    val insert = s"INSERT INTO $ns.dimcopy SELECT * FROM $ns.dim"
    val (written, insertJobs, _) = counted(spark.sql(insert))
    assert(insertJobs >= 1, "the write runs as Spark jobs")
    assert(driverLocal(written.queryExecution.executedPlan).isEmpty,
      s"the write's query plans as before:\n${written.queryExecution.executedPlan}")
    assert(spark.table(s"$ns.dimcopy").count() == 50L)

    val kept = Seq(
      "scalar subquery" -> s"SELECT ln, q FROM $ns.li WHERE k = (SELECT max(pk) FROM $ns.dim)",
      "union" -> (s"SELECT k FROM (SELECT k FROM $ns.li WHERE k < 3 UNION ALL " +
        s"SELECT k FROM $ns.ord WHERE k < 3) ORDER BY k"))
    kept.foreach { case (name, sql) =>
      val df = spark.sql(sql)
      val rows = rowsOf(df)
      val p = df.queryExecution.executedPlan
      assert(p.isInstanceOf[AdaptiveSparkPlanExec], s"$name keeps its AQE root:\n$p")
      assert(rows.nonEmpty && rows == withConf(overBudget)(rowsOf(spark.sql(sql))), name)
    }
    val union = spark.sql(kept(1)._2).queryExecution.executedPlan
    assert(wrapped(union).size == 2 && driverLocal(union).isEmpty,
      s"two single-split scans under a union compute two partitions:\n$union")
    val big = withConf(overBudget)(spark.sql(queries.head._2).queryExecution.executedPlan)
    assert(big.isInstanceOf[AdaptiveSparkPlanExec] && driverLocal(big).isEmpty, s"$big")
  }

  test("a driver run leaves the plan's nodes as planned: a raw x FINAL self-join " +
    "collects on the driver, then the same Dataset runs distributed through .rdd") {
    val sql = s"SELECT a.k, a.ver, ord.ver AS latest FROM $ns.ord a JOIN $ns.ord FINAL " +
      "ON a.k = ord.k ORDER BY a.k, a.ver"
    val df = spark.sql(sql)
    val (rows, jobs, _) = counted(rowsOf(df))
    assert(df.queryExecution.executedPlan.isInstanceOf[DriverLocalExec] && jobs == 0,
      s"$jobs jobs:\n${df.queryExecution.executedPlan}")
    assert(rows.size == 600 && rows == withConf(overBudget)(rowsOf(spark.sql(sql))))
    assert(df.rdd.count() == 600L, "the executed plan still serializes into tasks")
  }

  test("a UDF that throws mid-iteration on the driver surfaces its exception; completion " +
    "listeners run and no execution memory is left held") {
    import org.apache.spark.sql.graft.DriverTask
    val boom = udf { (k: Long) =>
      DriverUdfProbe.seen(k)
      if (k > 200) throw new IllegalStateException("boom-driver-local")
      k
    }
    // the sort above the UDF holds execution memory when the UDF throws
    def df = spark.table(s"$ns.li").select(col("k"), boom(col("k")).as("b")).orderBy(col("b").desc)
    val leaked = DriverTask.leakedBytes.get()
    DriverUdfProbe.reset()
    val (err, jobs, _) = counted(intercept[Exception](df.collect()))
    assert(df.queryExecution.executedPlan.isInstanceOf[DriverLocalExec])
    assert(jobs == 0, s"$jobs jobs")
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("boom-driver-local")), s"$err")
    assert(DriverUdfProbe.thread.get() == Thread.currentThread().getName,
      "the UDF ran in the calling thread")
    assert(DriverUdfProbe.completed.get() && DriverUdfProbe.failed.get(),
      "failure and completion listeners ran")
    assert(DriverTask.leakedBytes.get() == leaked, "the sort released its memory")

    DriverUdfProbe.reset()
    val ok = spark.table(s"$ns.li").filter(col("k") < 100)
      .select(col("k"), boom(col("k")).as("b")).orderBy(col("b").desc)
    assert(ok.collect().head.getLong(1) == 99L)
    assert(DriverUdfProbe.completed.get() && !DriverUdfProbe.failed.get())
    assert(DriverTask.leakedBytes.get() == leaked)
  }

  test("query_log() logs a driver-local read with its row count and its inner plan") {
    import graft.sources.QueryLog
    QueryLog.install(spark)
    val sql = s"SELECT ln, pk, q FROM $ns.li WHERE k = 418 ORDER BY ln"
    val df = spark.sql(sql)
    val n = df.collect().length
    df.collect()
    assert(n == 3 && df.queryExecution.executedPlan.isInstanceOf[DriverLocalExec])
    val digest = QueryLog.digestOf(df)
    def mine = QueryLog.entries.filter(_.planDigest == digest)
    val deadline = System.nanoTime() + 5000000000L
    while (mine.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    assert(mine.size == 2, "both runs of the read are logged under one digest")
    assert(mine.forall(e => e.status == "ok" && e.outputRows.contains(n.toLong)), s"$mine")
    assert(mine.forall(e => e.plan.startsWith("DriverLocal") &&
      e.plan.contains("SinglePartitionScan")), mine.head.plan)
    val other = spark.sql(s"SELECT count(*) FROM $ns.li WHERE k = 418")
    other.collect()
    assert(QueryLog.digestOf(other) != digest, "a different read digests differently")
    val viaSql = spark.sql(
      s"SELECT output_rows FROM query_log() WHERE plan_digest = '$digest'").collect()
    assert(viaSql.map(_.getLong(0)).toSeq == Seq(n.toLong, n.toLong))
  }

  test("a star join whose broadcast dim runtime-filters the fact prunes the same parts on " +
    "the driver as distributed, and builds the dim once") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    spark.sql(s"CREATE TABLE IF NOT EXISTS $ns.mdim (m Int64, region String) " +
      "ENGINE = MergeTree ORDER BY m")
    spark.sql(s"INSERT INTO $ns.mdim SELECT id, IF(id % 2 = 0, 'even', 'odd') FROM range(5)")
    val sql = s"SELECT d.region, count(*), sum(l.q) FROM $ns.li l JOIN $ns.mdim d " +
      "ON l.m = d.m WHERE d.region = 'odd' GROUP BY d.region"
    def run(): (Seq[Seq[Any]], (Int, Int), SparkPlan, Int) = {
      GenericMergeTreeScan.lastPruning.set((0, 0))
      val df = spark.sql(sql)
      val (rows, jobs, _) = counted(rowsOf(df))
      (rows, GenericMergeTreeScan.lastPruning.get(), df.queryExecution.executedPlan, jobs)
    }
    val (rows, pruning, p, jobs) = run()
    assert(p.isInstanceOf[DriverLocalExec] && jobs == 0, s"$jobs jobs:\n$p")
    assert(p.toString.contains("dynamicpruning"), s"the fact scan is runtime-filtered:\n$p")
    val (distRows, distPruning, distPlan, _) = withConf(overBudget)(run())
    assert(driverLocal(distPlan).isEmpty)
    assert(rows == distRows && rows.head.head == "odd")
    assert(pruning == distPruning && pruning._1 < pruning._2,
      s"driver-local pruning $pruning, distributed $distPruning")

    val inner = p.asInstanceOf[DriverLocalExec].inner
    val builds = inner.collectWithSubqueries { case b: BroadcastExchangeExec => b }
    val reused = inner.collectWithSubqueries { case r: ReusedExchangeExec => r }
    assert(builds.size == 1 && reused.size == 1 && (reused.head.child eq builds.head),
      s"the join and the pruning subquery share one broadcast:\n$inner")
    val build = builds.head.child.asInstanceOf[DriverLocalExec]
    assert(build.metrics("numOutputRows").value == 2L, "the odd months are read once")
  }
}

/** What the throwing UDF of [[SmallScanPlanSpec]] saw: the thread it ran in
  * and the outcome its task reported to its listeners.
  */
object DriverUdfProbe {
  val thread = new java.util.concurrent.atomic.AtomicReference[String]("")
  val completed = new java.util.concurrent.atomic.AtomicBoolean(false)
  val failed = new java.util.concurrent.atomic.AtomicBoolean(false)

  def reset(): Unit = { thread.set(""); completed.set(false); failed.set(false) }

  def seen(k: Long): Unit = if (thread.compareAndSet("", Thread.currentThread().getName)) {
    val ctx = org.apache.spark.TaskContext.get()
    ctx.addTaskCompletionListener[Unit](_ => completed.set(true))
    ctx.addTaskFailureListener((_, _) => failed.set(true))
  }
}
