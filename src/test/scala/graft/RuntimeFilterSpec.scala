package graft

import graft.mergetree.ColumnarMergeTree
import graft.sources.{GenericMergeTreeScan, GenericMergeTreeV2Table}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Scan, SupportsRuntimeFiltering}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Runtime (join-driven) part pruning — the DSv2 face of dynamic partition
  * pruning (SPARK-35779): the scan reports its prunable columns via
  * SupportsRuntimeFiltering, Spark hands it the broadcast side's join-key
  * values before fact tasks launch, and every part that provably holds
  * none of them is dropped. Covers the end-to-end DPP plan (partition
  * column), the leading-key interval kind, the bucket-hash kind, the
  * minmax/set sidecar kinds, and the conservative paths (unknown values,
  * nulls, value-count cap, SPJ exclusion).
  */
class RuntimeFilterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def flt(fs: Filter*): Array[Filter] = fs.toArray

  /** Planned PART count: the distinct part directories over every file of
    * every split (a part directory may hold several parquet files, and a
    * split packs files of several parts; pruning acts on parts).
    */
  private def plannedParts(scan: Scan): Int =
    scan.toBatch.planInputPartitions().toSeq.flatMap {
      case graft.sources.MergeTreePartition(fs) => fs.toSeq
    }.map(f => java.nio.file.Paths.get(f).getParent.toString).distinct.length

  /** A partitioned table: grp in 0..7, two insert batches → 16 parts. */
  private def mkPartitioned(): String = {
    val dir = Files.createTempDirectory("rtf_part_").toString
    val df = spark.range(400).select(
      (col("id") % 8).as("grp"), col("id").as("k"),
      (col("id") * 2).cast("double").as("v"))
    val t = ColumnarMergeTree.create(spark, dir, df.schema,
      orderBy = Seq("k"), partitionBy = Some("grp"))
    t.insertBatch(df.filter(col("id") < 200))
    t.insertBatch(df.filter(col("id") >= 200))
    dir
  }

  /** Scan of `dir` as the runtime-filter interface, no static pushdown. */
  private def rtScan(dir: String): (Scan, SupportsRuntimeFiltering) = {
    val d = ColumnarMergeTree.TableDef.load(dir).get
    val table = new GenericMergeTreeV2Table(
      dir, StructType.fromDDL(d.schemaDdl), d.orderBy)
    val scan = table.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    (scan, scan.asInstanceOf[SupportsRuntimeFiltering])
  }

  test("end-to-end DPP: a dim join runtime-prunes the fact scan's partitions") {
    val dir = mkPartitioned()
    val fact = spark.read.format("mergetree").load(dir)
    val dim = spark.range(8).select(col("id").as("dgrp"),
        (col("id") % 4).as("region"))
      .filter(col("region") === 1) // grp 1 and 5
    val out = fact.join(broadcast(dim), col("grp") === col("dgrp"))
      .groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .orderBy("grp")
    val rows = out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"fact scan must carry a runtime filter:\n$plan")
    val (planned, total) = GenericMergeTreeScan.lastPruning.get()
    assert(total == 16, s"two batches x 8 groups -> 16 parts, got $total")
    assert(planned == 4, s"2 surviving groups x 2 batches -> 4 parts, got $planned")
    // The filter is an optimization only — the answer matches the join
    // semantics computed from first principles.
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 5L))
    assert(rows.map(_.getLong(1)).toSeq == Seq(50L, 50L))
  }

  test("filter kinds: partition tags narrow exactly, conjuncts intersect") {
    val dir = mkPartitioned()
    val (scan, rt) = rtScan(dir)
    assert(rt.filterAttributes().map(_.toString).toSet == Set("grp", "k"))
    rt.filter(flt(In("grp", Array[Any](1L, 2L, 3L))))
    rt.filter(flt(In("grp", Array[Any](2L, 3L, 6L))))
    assert(plannedParts(scan) == 4) // {2,3} x 2 batches
  }

  test("leading-key values prune by part min/max intervals") {
    val dir = Files.createTempDirectory("rtf_key_").toString
    val df = spark.range(200).select(col("id").as("k"),
      (col("id") * 3).cast("double").as("v"))
    val t = ColumnarMergeTree.create(spark, dir, df.schema, orderBy = Seq("k"))
    (0 until 4).foreach(b => t.insertBatch(
      df.filter(col("k") >= b * 50 && col("k") < (b + 1) * 50)))
    val (scan, rt) = rtScan(dir)
    assert(plannedParts(scan) == 4)
    rt.filter(flt(In("k", Array[Any](60L, 70L, 190L))))
    // values live in parts [50,99] and [150,199] only
    assert(plannedParts(scan) == 2)
    // and the DPP path agrees end to end: join against those keys
    val dim = spark.createDataFrame(Seq((60L, "x"), (70L, "y"), (190L, "z")))
      .toDF("dk", "tag").filter(col("tag") =!= "none")
    val out = spark.read.format("mergetree").load(dir)
      .join(broadcast(dim), col("k") === col("dk"))
      .agg(sum("v").as("s"))
    assert(out.collect()(0).getDouble(0) == (60 + 70 + 190) * 3.0)
  }

  test("bucket(N, col) values prune to their hashed buckets") {
    val dir = Files.createTempDirectory("rtf_bkt_").toString
    val df = spark.range(400).select(col("id").as("k"),
      (col("id") * 2).cast("double").as("v"))
    val t = ColumnarMergeTree.create(spark, dir, df.schema,
      orderBy = Seq("k"), partitionBy = Some("bucket(8, k)"))
    t.insertBatch(df)
    val (scan, rt) = rtScan(dir)
    val total = plannedParts(scan)
    rt.filter(flt(In("k", Array[Any](7L, 123L))))
    val planned = plannedParts(scan)
    assert(planned <= 2 && planned < total,
      s"two keys -> at most two buckets ($planned of $total)")
    // correctness: the surviving parts still hold both keys
    val (s2, rt2) = rtScan(dir)
    rt2.filter(flt(EqualTo("k", 123L)))
    assert(plannedParts(s2) >= 1)
  }

  test("minmax and set sidecar kinds prune; impossible values prune to zero") {
    val dir = Files.createTempDirectory("rtf_mm_").toString
    val df = spark.range(300).select(col("id").as("k"),
      (col("id") / 100).cast("long").as("band"),
      concat(lit("t"), (col("id") % 3).cast("string")).as("tag"))
    val t = ColumnarMergeTree.create(spark, dir, df.schema,
      orderBy = Seq("k"),
      config = graft.mergetree.MergeTreeConfig(
        minmaxColumns = Seq("band"), setIndexColumns = Seq("tag")))
    (0 until 3).foreach(b => t.insertBatch(
      df.filter(col("k") >= b * 100 && col("k") < (b + 1) * 100)))
    val (scan, rt) = rtScan(dir)
    assert(rt.filterAttributes().map(_.toString).toSet == Set("band", "k", "tag"))
    rt.filter(flt(In("band", Array[Any](2L))))
    assert(plannedParts(scan) == 1,
      "band=2 lives only in the third part's minmax bounds")
    val (s2, rt2) = rtScan(dir)
    rt2.filter(flt(In("tag", Array[Any]("nope", "missing"))))
    assert(plannedParts(s2) == 0,
      "no part's set sidecar holds either value")
  }

  test("conservative paths: nulls drop, unknown values and over-cap disable") {
    val dir = mkPartitioned()
    // nulls never equi-join: they are dropped, the rest still narrows
    val (s1, rt1) = rtScan(dir)
    rt1.filter(flt(In("grp", Array[Any](null, 1L))))
    assert(plannedParts(s1) == 2)
    // a value the canonicalizer can't handle disables the whole column
    val (s2, rt2) = rtScan(dir)
    rt2.filter(flt(In("grp", Array[Any](1L, new java.math.BigDecimal("1.5")))))
    assert(plannedParts(s2) == 16)
    // over the value cap: ignored (scan everything, never wrong)
    spark.conf.set("spark.graft.runtimeFilter.maxValues", "2")
    try {
      val (s3, rt3) = rtScan(dir)
      rt3.filter(flt(In("grp", Array[Any](1L, 2L, 3L))))
      assert(plannedParts(s3) == 16)
    } finally spark.conf.unset("spark.graft.runtimeFilter.maxValues")
    // filters on unreported columns are ignored
    val (s4, rt4) = rtScan(dir)
    rt4.filter(flt(In("v", Array[Any](2.0))))
    assert(plannedParts(s4) == 16)
  }

  test("SPJ grouping composes with runtime filtering: parts prune WITHIN groups") {
    val dir = mkPartitioned()
    spark.conf.set("spark.graft.preserveDataGrouping", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val (scan, rt) = rtScan(dir)
      assert(rt.filterAttributes().nonEmpty,
        "a key-grouped scan still advertises runtime filtering")
      rt.filter(flt(In("grp", Array[Any](2L, 5L))))
      val parts = scan.toBatch.planInputPartitions()
      // EVERY group keeps its identity (a subset of the reported partition
      // values would also satisfy Spark, but identity is the simplest
      // stable contract) — only the two surviving groups carry files.
      assert(parts.length == 8, s"all 8 key groups must survive, got ${parts.length}")
      val files = parts.map(_.asInstanceOf[graft.sources.MergeTreeGroupedPartition])
      assert(files.count(_.files.nonEmpty) == 2,
        "only the runtime-filtered groups carry files")
      assert(files.map(_.files.length).sum == 4,
        "2 groups x 2 batch parts = 4 part files")
      assert(GenericMergeTreeScan.lastPruning.get() == (4, 16))
    } finally {
      spark.conf.unset("spark.graft.preserveDataGrouping")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("SPJ join under a selective dim filter: zero-exchange AND a strict part subset") {
    val factDir = Files.createTempDirectory("rtf_spj_fact_").toString
    val dimDir = Files.createTempDirectory("rtf_spj_dim_").toString
    val fact = spark.range(400).select(
      (col("id") % 8).as("grp"), col("id").as("k"),
      (col("id") * 2).cast("double").as("v"))
    val ft = ColumnarMergeTree.create(spark, factDir, fact.schema,
      orderBy = Seq("k"), partitionBy = Some("grp"))
    ft.insertBatch(fact.filter(col("id") < 200))
    ft.insertBatch(fact.filter(col("id") >= 200))
    val dim = spark.range(8).select(col("id").as("grp"),
      col("id").as("dk"), (col("id") % 4).as("region"))
    val dt = ColumnarMergeTree.create(spark, dimDir, dim.schema,
      orderBy = Seq("dk"), partitionBy = Some("grp"))
    dt.insertBatch(dim)
    try {
      spark.conf.set("spark.graft.preserveDataGrouping", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // No broadcast to reuse -> DPP must run as its own subquery.
      spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      // AQE off so the executed plan is the plain tree (the exchange
      // check walks plan NODES — the DPP subquery's internal shuffle is
      // an expression subtree, not a join-path exchange).
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val f = spark.read.format("mergetree").load(factDir)
      val d = spark.read.format("mergetree").load(dimDir)
        .filter(col("region") === 1) // grp 1 and 5
      // Dim on the LEFT: the fact side's partitions plan last, so the
      // pruning probe below reads the FACT scan's numbers.
      val out = d.join(f, "grp").select(col("grp"), col("k"))
      val rows = out.collect()
      assert(rows.length == 100, s"50 fact rows x 2 surviving groups")
      assert(rows.map(_.getLong(0)).toSet == Set(1L, 5L))
      val exec = out.queryExecution.executedPlan
      val shuffles = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"the co-partitioned join must stay zero-exchange:\n$exec")
      assert(exec.toString.toLowerCase.contains("dynamicpruning"),
        s"the fact scan must carry the dim-driven runtime filter:\n$exec")
      val (planned, total) = GenericMergeTreeScan.lastPruning.get()
      assert(total == 16 && planned == 4,
        s"fact must read a strict part subset: $planned/$total")
    } finally {
      spark.conf.unset("spark.graft.preserveDataGrouping")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("q136 registry entry: self-enforced DPP prune, oracle-shaped result") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q136_runtime_prune")(spark, dir).collect()
    assert(rows.length == 5, "region 1 holds 5 nations")
    assert(rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).toSeq.sorted)
    assert(rows.map(_.getLong(1)).sum > 0)
  }
}
