package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Storage-partitioned joins (SPARK-37375): two mergetree tables
  * PARTITION BY the same bare column report KeyGroupedPartitioning, so a
  * join on that column plans with NO shuffle on either side — the
  * co-located-join shape at 100 TB. Gated behind Spark's own
  * `spark.sql.sources.v2.bucketing.enabled` AND the source-side
  * `spark.graft.preserveDataGrouping` opt-in (default false — Iceberg's
  * preserve-data-grouping pattern): grouped splits trade scan parallelism
  * for shuffle-free joins, so nothing changes for existing plans unless
  * the user asks for the trade.
  */
class StoragePartitionJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def mkTables(): (String, String) = {
    val dirA = Files.createTempDirectory("spj_a_").toString
    val dirB = Files.createTempDirectory("spj_b_").toString
    spark.sql(s"""CREATE TABLE spj_a (grp BIGINT, k BIGINT, v DOUBLE)
      USING mergetree OPTIONS (orderBy 'k', partitionBy 'grp')
      LOCATION '$dirA'""")
    spark.sql(s"""CREATE TABLE spj_b (grp BIGINT, k BIGINT, w DOUBLE)
      USING mergetree OPTIONS (orderBy 'k', partitionBy 'grp')
      LOCATION '$dirB'""")
    spark.sql("INSERT INTO spj_a SELECT id % 4, id, id * 1.0 FROM range(200)")
    spark.sql("INSERT INTO spj_b SELECT id % 4, id, id * 2.0 FROM range(100)")
    (dirA, dirB)
  }

  test("co-partitioned tables join with no shuffle when SPJ is enabled") {
    mkTables()
    try {
      // Disable broadcast so the planner must pick a clustered join —
      // the case SPJ exists for (at 100 TB neither side broadcasts).
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = "SELECT a.grp, a.k, b.k AS bk FROM spj_a a JOIN spj_b b " +
        "ON a.grp = b.grp"
      // Expected rows from first principles: per group, 50 x 25 pairs.
      val expect = (0 until 200).flatMap(i => (0 until 100)
        .filter(_ % 4 == i % 4).map(j => (i % 4, i, j))).toSet

      // Default (conf off): plans shuffle exchanges, stays correct. The
      // tables fit the one-split budget, whose scans need no exchange at
      // all, so a 1-byte open cost keeps the distributed shape under test.
      spark.conf.set("spark.sql.files.openCostInBytes", "1")
      val off = spark.sql(q)
      val offRows = off.collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2).toInt)).toSet
      assert(offRows == expect)
      assert(off.queryExecution.executedPlan.toString.contains("Exchange"),
        "without the preserve-data-grouping opt-in the join shuffles as before")
      spark.conf.unset("spark.sql.files.openCostInBytes")

      spark.conf.set("spark.graft.preserveDataGrouping", "true")
      val on = spark.sql(q)
      val onRows = on.collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2).toInt)).toSet
      assert(onRows == expect, "SPJ must not change the answer")
      val p = on.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"co-partitioned join must plan with ZERO exchanges:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"a real join must still be planned:\n$p")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.files.openCostInBytes")
      spark.conf.unset("spark.graft.preserveDataGrouping")
      spark.sql("DROP TABLE IF EXISTS spj_a")
      spark.sql("DROP TABLE IF EXISTS spj_b")
    }
  }

  test("partition pruning and single-table reads are unchanged under SPJ") {
    mkTables()
    try {
      spark.conf.set("spark.graft.preserveDataGrouping", "true")
      // A plain filtered read still prunes partitions and returns the
      // same rows (the grouped splits chain each value's part files).
      val one = spark.sql("SELECT k FROM spj_a WHERE grp = 2 ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      assert(one == (0 until 200).filter(_ % 4 == 2).map(_.toLong).toSeq)
      // Aggregate over the partition column: correct totals per group.
      val agg = spark.sql(
        "SELECT grp, count(*) AS n FROM spj_a GROUP BY grp ORDER BY grp")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(agg == Seq((0L, 50L), (1L, 50L), (2L, 50L), (3L, 50L)))
    } finally {
      spark.conf.unset("spark.graft.preserveDataGrouping")
      spark.sql("DROP TABLE IF EXISTS spj_a")
      spark.sql("DROP TABLE IF EXISTS spj_b")
    }
  }

  // ---------------------------------------------- bucket(N, col) transform

  test("bucket function == pmod(xxhash64(col), n) for every eligible type; " +
    "NULL-preserving") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    def call(dt: DataType, v: Any, n: Int): Integer =
      new graft.sources.GraftBucketBound(dt).produceResult(
        new GenericInternalRow(Array[Any](n, v)))
    // The definition, from the builtin itself: one row through Spark SQL.
    def viaSql(sqlLit: String, n: Int): Int =
      spark.sql(s"SELECT pmod(xxhash64($sqlLit), $n)").first().getLong(0).toInt
    for (v <- Seq(0L, 1L, -17L, 123456789L); n <- Seq(4, 16)) {
      assert(call(LongType, v, n) == viaSql(s"CAST($v AS BIGINT)", n))
      assert(call(IntegerType, v.toInt, n) == viaSql(s"CAST(${v.toInt} AS INT)", n))
    }
    for (s <- Seq("", "a", "key_123", "机器"); n <- Seq(8)) {
      assert(call(StringType, UTF8String.fromString(s), n) == viaSql(s"'$s'", n))
    }
    assert(call(LongType, null, 16) == null, "bucket(NULL) is NULL")
    // Bound identity: same canonicalName regardless of column type — the
    // cross-table SPJ match key.
    assert(new graft.sources.GraftBucketBound(LongType).canonicalName() ==
      new graft.sources.GraftBucketBound(StringType).canonicalName())
  }

  private def mkBucketTables(): Unit = {
    val wh = Files.createTempDirectory("spj_bucket_wh_").toString
    spark.conf.set("spark.sql.catalog.spj_bkt",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spj_bkt.warehouse", wh)
    import spark.implicits._
    val a = (0 until 200).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
    val b = (0 until 100).map(i => (i.toLong, i * 2.0)).toDF("k", "w")
    graft.mergetree.ColumnarMergeTree.create(spark, s"$wh/ba", a.schema,
      orderBy = Seq("k"), partitionBy = Some("bucket(8, k)")).insertBatch(a)
    graft.mergetree.ColumnarMergeTree.create(spark, s"$wh/bb", b.schema,
      orderBy = Seq("k"), partitionBy = Some("bucket(8, k)")).insertBatch(b)
  }

  test("bucket-partitioned tables join exchange-free through the catalog; " +
    "default-off still shuffles; answer unchanged") {
    mkBucketTables()
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      val q = "SELECT a.k, b.w FROM spj_bkt.ba a JOIN spj_bkt.bb b ON a.k = b.k"
      val expect = (0 until 100).map(i => (i.toLong, i * 2.0)).toSet

      // Default: preserveDataGrouping off → ordinary shuffled join (over
      // the one-split budget, as in the identity-partitioned case above).
      spark.conf.set("spark.sql.files.openCostInBytes", "1")
      val off = spark.sql(q)
      assert(off.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet == expect)
      assert(off.queryExecution.executedPlan.toString.contains("Exchange"),
        "bucket SPJ must stay opt-in")
      spark.conf.unset("spark.sql.files.openCostInBytes")

      spark.conf.set("spark.graft.preserveDataGrouping", "true")
      val on = spark.sql(q)
      assert(on.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet == expect,
        "bucket SPJ must not change the answer")
      val p = on.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucket-co-partitioned join must plan with ZERO exchanges:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"a real join must still be planned:\n$p")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.files.openCostInBytes")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      spark.conf.unset("spark.graft.preserveDataGrouping")
    }
  }

  test("MISMATCHED bucket counts join exchange-free when compatible " +
    "transforms are allowed: bucket(16) folds onto bucket(4)") {
    val wh = Files.createTempDirectory("spj_bucket_mix_wh_").toString
    spark.conf.set("spark.sql.catalog.spj_mix",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spj_mix.warehouse", wh)
    import spark.implicits._
    val a = (0 until 200).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
    val b = (0 until 50).map(i => (i.toLong, i * 2.0)).toDF("k", "w")
    graft.mergetree.ColumnarMergeTree.create(spark, s"$wh/ma", a.schema,
      orderBy = Seq("k"), partitionBy = Some("bucket(16, k)")).insertBatch(a)
    graft.mergetree.ColumnarMergeTree.create(spark, s"$wh/mb", b.schema,
      orderBy = Seq("k"), partitionBy = Some("bucket(4, k)")).insertBatch(b)
    // The reducer itself: pmod(h, 16) mod 4 == pmod(h, 4), NULL stays NULL.
    val red = new graft.sources.GraftBucketReducer(4)
    for (h <- Seq(0L, 7L, -13L, 123456789L)) {
      assert(red.reduce(java.lang.Math.floorMod(h, 16L).toInt) ==
        java.lang.Math.floorMod(h, 4L).toInt)
    }
    assert(red.reduce(null) == null)
    // Only the finer side reduces; non-divisible pairings are incompatible.
    val f16 = new graft.sources.GraftBucketBound(
      org.apache.spark.sql.types.LongType)
    assert(f16.reducer(16, f16, 4) != null)
    assert(f16.reducer(4, f16, 16) == null, "the coarser side never folds")
    assert(f16.reducer(16, f16, 6) == null, "non-divisible counts never fold")
    val confs = Seq(
      "spark.graft.preserveDataGrouping" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = "SELECT a.k, b.w FROM spj_mix.ma a JOIN spj_mix.mb b ON a.k = b.k"
      val on = spark.sql(q)
      val expect = (0 until 50).map(i => (i.toLong, i * 2.0)).toSet
      assert(on.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet == expect,
        "mismatched-count SPJ must not change the answer")
      val p = on.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucket(16)⋈bucket(4) must fold exchange-free:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"a real join must still be planned:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucket equality prunes to the value's bucket; DELETE by value " +
    "rewrites, never drops the bucket") {
    val dir = Files.createTempDirectory("spj_bucket_prune_").toString
    import spark.implicits._
    val a = (0 until 160).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
    graft.mergetree.ColumnarMergeTree.create(spark, dir, a.schema,
      orderBy = Seq("k"), partitionBy = Some("bucket(8, k)")).insertBatch(a)
    spark.sql(s"CREATE TABLE spj_bkt_prune USING mergetree LOCATION '$dir'")
    try {
      // Equality on the bucketed column prunes driver-side to ONE bucket's
      // parts (of the 8 live) before any file I/O.
      val one = spark.sql("SELECT v FROM spj_bkt_prune WHERE k = 42").collect()
      assert(one.map(_.getDouble(0)).toSeq == Seq(42.0))
      val (planned, total) = graft.sources.GenericMergeTreeScan.lastPruning.get()
      assert(total == 8, s"expected 8 bucket parts, saw $total")
      assert(planned < total,
        s"k = 42 must prune to its bucket: planned $planned of $total")
      // DELETE WHERE k = 42 must remove exactly that row — the bucket-id
      // partition tag must never be mistaken for a value tag (a
      // dropPartition fast path would delete 42's whole bucket).
      spark.sql("DELETE FROM spj_bkt_prune WHERE k = 42")
      val left = spark.sql("SELECT count(*) FROM spj_bkt_prune").first().getLong(0)
      assert(left == 159, s"DELETE k=42 must drop exactly one row, left=$left")
      assert(spark.sql("SELECT * FROM spj_bkt_prune WHERE k = 42").isEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS spj_bkt_prune")
  }

  test("INSERT OVERWRITE on a bucket-partitioned table is a FULL replace, " +
    "never a touched-buckets replace (hash buckets are not slices)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("spj_bucket_ovw_").toString
    val a = (0 until 80).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
    val t = graft.mergetree.ColumnarMergeTree.create(spark, dir, a.schema,
      orderBy = Seq("k"), partitionBy = Some("bucket(8, k)"))
    t.insertBatch(a)
    // A 3-row overwrite: dynamic-partition semantics would keep every row
    // of the 5+ untouched buckets AND silently delete the touched buckets'
    // neighbors — the exact data loss the full-replace rule prevents.
    t.overwriteBatch(Seq((1L, 9.0), (2L, 9.0), (3L, 9.0)).toDF("k", "v"))
    val left = t.scan().collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(left == Set((1L, 9.0), (2L, 9.0), (3L, 9.0)),
      s"bucket overwrite must replace the WHOLE table: $left")
    // New parts keep their bucket tags: an equality still prunes.
    spark.sql(s"CREATE TABLE spj_bkt_ovw USING mergetree LOCATION '$dir'")
    try {
      assert(spark.sql("SELECT v FROM spj_bkt_ovw WHERE k = 2")
        .collect().map(_.getDouble(0)).toSeq == Seq(9.0))
      val (planned, total) = graft.sources.GenericMergeTreeScan.lastPruning.get()
      assert(planned <= total && total > 0)
      assert(t.parts.forall(_.partition.isDefined),
        "overwrite-born parts must carry bucket tags")
    } finally spark.sql("DROP TABLE IF EXISTS spj_bkt_ovw")
    t.shutdown()
  }

  test("q133 bucket-SPJ entry: answer == first principles over raw parquet") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.StorageQueries.q133BucketSpj(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = spark.read.parquet(s"$dir/customer.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        org.apache.spark.sql.functions.col("c_custkey") ===
          org.apache.spark.sql.functions.col("o_custkey"))
      .groupBy("c_custkey")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.floor(
            org.apache.spark.sql.functions.col("o_totalprice") * 100.0 + 0.5)
            .cast("long")).as("s"))
      .orderBy("c_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty && out.toSeq == expect.toSeq)
  }
}
