package graft

import graft.mergetree._
import graft.sources.MergeTreeScan
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** DSv2 `mergetree` connector: schema, filter pushdown (driver-side part
  * pruning + parquet row-group predicate), column pruning, SQL access, and
  * agreement with the programmatic query path.
  */
class MergeTreeDsv2Spec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private def buildTable(): MergeTreeTable = {
    val t = MergeTreeTable.create(spark,
      Files.createTempDirectory("mt_dsv2_").toString)
    // three parts with disjoint key ranges → part pruning observable
    t.insertBatch(spark.range(100).map(i => KVRow(f"a$i%03d", s"va$i", i)), 1)
    t.insertBatch(spark.range(100).map(i => KVRow(f"m$i%03d", s"vm$i", i)), 1)
    t.insertBatch(spark.range(100).map(i => KVRow(f"z$i%03d", s"vz$i", i)), 1)
    t
  }

  test("reads a table with the declared schema and all rows") {
    val t = buildTable()
    val df = spark.read.format("mergetree").load(t.path)
    assert(df.schema == MergeTreeTable.schema)
    assert(df.count() == 300) // empty-projection (count) path works
    t.shutdown()
  }

  test("key-range filter prunes parts on the driver and rows stay correct") {
    val t = buildTable()
    val df = spark.read.format("mergetree").load(t.path)
      .filter(col("key") >= "m000" && col("key") <= "m049")
    val rows = df.collect()
    assert(rows.length == 50)
    assert(rows.forall(r => r.getString(0).startsWith("m")))
    val (planned, total) = MergeTreeScan.lastPruning.get()
    assert(total == 3 && planned == 1,
      s"expected 1/3 parts after manifest pruning, got $planned/$total")
    t.shutdown()
  }

  test("column pruning: projected read returns only requested columns") {
    val t = buildTable()
    val keys = spark.read.format("mergetree").load(t.path)
      .select("key").filter(col("key") < "a010").collect()
    assert(keys.length == 10 && keys.head.length == 1)
    t.shutdown()
  }

  test("DSv2 write appends a sorted part readable by both paths") {
    val dir = Files.createTempDirectory("mt_dsv2_w_").toString
    spark.range(500).map(i => KVRow(f"w$i%04d", s"v$i", i))
      .toDF().write.format("mergetree").mode("append").save(dir)
    spark.range(500, 700).map(i => KVRow(f"w$i%04d", s"v$i", i))
      .toDF().write.format("mergetree").mode("append").save(dir)
    // connector read
    val viaDsv2 = spark.read.format("mergetree").load(dir)
    assert(viaDsv2.count() == 700)
    // programmatic table open sees the same parts
    val t = MergeTreeTable.open(spark, dir)
    assert(t.partCount == 2 && t.totalRows == 700)
    assert(t.query("w0100", "w0199").count() == 100)
    // rows inside each file are sorted by (key, timestamp): footer stats of
    // the part must give tight, non-overlapping-per-file key ranges
    val p = t.parts.head
    assert(p.minKey == "w0000" && p.maxKey == "w0499" && p.granuleCount >= 1)
    t.shutdown()
  }

  test("DSv2 write rejects mismatched schemas") {
    val dir = Files.createTempDirectory("mt_dsv2_bad_").toString
    val err = intercept[Exception] {
      spark.range(5).toDF("x").write.format("mergetree").mode("append").save(dir)
    }
    // Spark's analyzer rejects before our builder-side require; either error
    // is acceptable — what matters is no part is ever written
    assert(err.getMessage.contains("mergetree write requires columns") ||
      err.getMessage.contains("INCOMPATIBLE_DATA_FOR_TABLE"))
    assert(!Files.list(java.nio.file.Paths.get(dir)).iterator().hasNext)
  }

  test("full SQL DDL lifecycle: CREATE TABLE ... USING mergetree, INSERT, SELECT") {
    val dir = Files.createTempDirectory("mt_ddl_").toString
    spark.sql("DROP TABLE IF EXISTS mt_ddl")
    // schema comes from the provider (inferSchema); LOCATION arrives as a
    // file: URI and is normalized at the provider boundary
    spark.sql(s"CREATE TABLE mt_ddl USING mergetree LOCATION '$dir'")
    spark.sql("""INSERT INTO mt_ddl VALUES
      ('a', 'v1', CAST(1 AS BIGINT)), ('b', 'v2', CAST(2 AS BIGINT))""")
    spark.sql("INSERT INTO mt_ddl VALUES ('c', 'v3', CAST(3 AS BIGINT))")
    val rows = spark.sql("SELECT * FROM mt_ddl ORDER BY key").as[KVRow].collect().toList
    assert(rows == List(KVRow("a", "v1", 1L), KVRow("b", "v2", 2L), KVRow("c", "v3", 3L)))
    // the SQL table IS a MergeTree table: programmatic open sees the parts
    val t = MergeTreeTable.open(spark, dir)
    assert(t.partCount == 2 && t.totalRows == 3)
    t.shutdown()
    spark.sql("DROP TABLE mt_ddl")
  }

  test("SQL over the connector matches the programmatic query path") {
    val t = buildTable()
    spark.read.format("mergetree").load(t.path).createOrReplaceTempView("mt")
    val viaSql = spark.sql(
      """SELECT key, max(value) AS value, timestamp FROM mt
        |WHERE key BETWEEN 'a050' AND 'm010'
        |GROUP BY key, timestamp ORDER BY key, timestamp""".stripMargin)
      .as[KVRow].collect().toList
    val viaApi = t.query("a050", "m010").collect().toList
    assert(viaSql == viaApi)
    t.shutdown()
  }

  test("reads are columnar: the scan feeds batches into codegen") {
    val t = buildTable()
    val df = spark.read.format("mergetree").load(t.path).select("key", "value")
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "vectorized DSv2 read must plan a columnar scan")
    assert(df.count() == 300)
    t.shutdown()
  }

  // ------------------------------------------- schema-generic table via SQL

  private def buildGeneric(): (String, ColumnarMergeTree) = {
    val dir = Files.createTempDirectory("mt_gsql_").toString
    val df = spark.range(300).select(
      col("id").as("k"),
      (col("id") % 7).as("grp"),
      concat(lit("n"), col("id")).as("name"),
      (col("id") * 1.5).as("score"))
    val t = ColumnarMergeTree.create(spark, dir, df.schema, orderBy = Seq("k"))
    // three parts with disjoint k ranges -> pruning observable
    t.insertBatch(df.filter(col("k") < 100))
    t.insertBatch(df.filter(col("k") >= 100 && col("k") < 200))
    t.insertBatch(df.filter(col("k") >= 200))
    (dir, t)
  }

  test("generic table: CREATE TABLE USING mergetree self-describes from tabledef") {
    val (dir, t) = buildGeneric()
    spark.sql("DROP TABLE IF EXISTS g_ddl")
    spark.sql(s"CREATE TABLE g_ddl USING mergetree LOCATION '$dir'")
    val df = spark.table("g_ddl")
    assert(df.schema.fieldNames.toSeq == Seq("k", "grp", "name", "score"))
    assert(df.count() == 300)
    // range filter on the leading ORDER BY key prunes parts on the driver
    val mid = spark.sql("SELECT k, name FROM g_ddl WHERE k BETWEEN 120 AND 150")
      .collect()
    assert(mid.length == 31 && mid.forall(r => r.getLong(0) >= 120 && r.getLong(0) <= 150))
    val (planned, total) = graft.sources.GenericMergeTreeScan.lastPruning.get()
    assert(total == 3 && planned == 1,
      s"expected 1/3 parts after manifest pruning, got $planned/$total")
    // vectorized read path
    assert(spark.table("g_ddl").queryExecution.executedPlan.toString
      .contains("ColumnarToRow"), "generic scan must be columnar")
    spark.sql("DROP TABLE g_ddl")
    t.refresh()
  }

  test("generic table: SQL INSERT INTO lands a part via the shared write path") {
    val (dir, t) = buildGeneric()
    spark.sql("DROP TABLE IF EXISTS g_ins")
    spark.sql(s"CREATE TABLE g_ins USING mergetree LOCATION '$dir'")
    spark.sql("""INSERT INTO g_ins VALUES
      (1000, 3, 'extra1', 0.5), (1001, 4, 'extra2', 1.5)""")
    assert(spark.table("g_ins").count() == 302)
    t.refresh()
    assert(t.partCount == 4 && t.totalRows == 302)
    // the new part is sorted + bounded like every other part: a filter on
    // the new range prunes down to it
    spark.sql("SELECT * FROM g_ins WHERE k >= 1000").collect()
    val (planned, total) = graft.sources.GenericMergeTreeScan.lastPruning.get()
    assert(total == 4 && planned == 1, s"got $planned/$total")
    spark.sql("DROP TABLE g_ins")
  }

  test("generic table: DataFrame append/overwrite land what SQL INSERT INTO/OVERWRITE do") {
    def table(name: String) = {
      val dir = Files.createTempDirectory(s"mt_dfw_${name}_").toString
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(s"CREATE TABLE $name (k BIGINT, v BIGINT) USING mergetree " +
        s"OPTIONS (orderBy 'k') LOCATION '$dir'")
      spark.sql(s"INSERT INTO $name SELECT id, id FROM range(0, 10)")
      (dir, ColumnarMergeTree.open(spark, dir))
    }
    def rows(name: String) = spark.sql(s"SELECT k, v FROM $name ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val (_, sqlT) = table("g_dfw_sql")
    val (dir, dfT) = table("g_dfw_df")
    val batch = spark.range(20, 25).select(col("id").as("k"), (col("id") * 2).as("v"))
    batch.createOrReplaceTempView("g_dfw_batch")
    spark.sql("INSERT INTO g_dfw_sql SELECT * FROM g_dfw_batch")
    batch.write.format("mergetree").mode("append").save(dir)
    sqlT.refresh(); dfT.refresh()
    assert(dfT.partCount == 2 && dfT.partCount == sqlT.partCount,
      s"append lands one part: ${dfT.partCount} vs ${sqlT.partCount}")
    assert(rows("g_dfw_df") == rows("g_dfw_sql") && rows("g_dfw_df").size == 15)
    spark.sql("INSERT OVERWRITE TABLE g_dfw_sql SELECT * FROM g_dfw_batch")
    batch.write.format("mergetree").mode("overwrite").save(dir)
    sqlT.refresh(); dfT.refresh()
    assert(dfT.partCount == sqlT.partCount, s"${dfT.partCount} vs ${sqlT.partCount}")
    assert(rows("g_dfw_df") == rows("g_dfw_sql") && rows("g_dfw_df").size == 5)
    spark.sql("DROP TABLE g_dfw_sql"); spark.sql("DROP TABLE g_dfw_df")
  }

  test("generic table: SQL DELETE FROM rewrites only matching parts") {
    val (dir, t) = buildGeneric()
    spark.sql("DROP TABLE IF EXISTS g_del")
    spark.sql(s"CREATE TABLE g_del USING mergetree LOCATION '$dir'")
    spark.sql("DELETE FROM g_del WHERE grp = 3 AND k < 150")
    t.refresh()
    // grp==3 & k<150: k in {3,10,17,...,147} -> 21 rows gone
    assert(spark.table("g_del").count() == 300 - 21)
    assert(spark.sql("SELECT * FROM g_del WHERE grp = 3 AND k < 150").count() == 0)
    assert(t.totalRows == 279)
    // the untouched high-range part survives as-is; grp=3 rows above 150 remain
    assert(spark.sql("SELECT * FROM g_del WHERE grp = 3").count() > 0)
    spark.sql("DROP TABLE g_del")
  }

  test("generic table: TRUNCATE TABLE empties it via the delete path") {
    val (dir, t) = buildGeneric()
    spark.sql("DROP TABLE IF EXISTS g_tr")
    spark.sql(s"CREATE TABLE g_tr USING mergetree LOCATION '$dir'")
    spark.sql("TRUNCATE TABLE g_tr")
    assert(spark.table("g_tr").count() == 0)
    t.refresh()
    assert(t.totalRows == 0 && t.partCount == 0)
    spark.sql("DROP TABLE g_tr")
  }

  // -------------------------- DDL-declared PARTITION BY / TTL + FINAL reads

  test("SQL DDL declares PARTITION BY + TTL; INSERT lands per-partition parts; partition predicate prunes") {
    val dir = Files.createTempDirectory("mt_pddl_").toString
    spark.sql("DROP TABLE IF EXISTS p_ddl")
    spark.sql(
      s"""CREATE TABLE p_ddl (k BIGINT, cat STRING, v DOUBLE) USING mergetree
         |OPTIONS (orderBy 'k', partitionBy 'cat', ttl 'k < 0')
         |LOCATION '$dir'""".stripMargin)
    // DDL-born table is indistinguishable from an API-born one: tabledef
    // carries partitionBy + ttl exactly as ColumnarMergeTree.create writes
    val defn = ColumnarMergeTree.TableDef.load(dir).get
    assert(defn.orderBy == List("k") && defn.partitionBy.contains("cat") &&
      defn.ttl.contains("k < 0"))
    spark.sql("""INSERT INTO p_ddl VALUES
      (1, 'a', 0.5), (2, 'b', 1.5), (3, 'a', 2.5), (4, 'c', 3.5)""")
    spark.sql("INSERT INTO p_ddl VALUES (5, 'a', 4.5), (6, 'b', 5.5)")
    val t = ColumnarMergeTree.open(spark, dir)
    // batch 1 → parts {a,b,c}, batch 2 → parts {a,b}
    assert(t.partCount == 5 && t.partitions == Seq("a", "b", "c"))
    // partition-equality SELECT prunes parts from the manifest on the driver
    val aRows = spark.sql("SELECT k FROM p_ddl WHERE cat = 'a' ORDER BY k")
      .collect().map(_.getLong(0)).toList
    assert(aRows == List(1L, 3L, 5L))
    val (planned, total) = graft.sources.GenericMergeTreeScan.lastPruning.get()
    assert(total == 5 && planned == 2,
      s"expected 2/5 parts for cat='a', got $planned/$total")
    // IN-list narrows to the union of named partitions
    assert(spark.sql("SELECT * FROM p_ddl WHERE cat IN ('b','c')").count() == 3)
    val (p2, t2) = graft.sources.GenericMergeTreeScan.lastPruning.get()
    assert(t2 == 5 && p2 == 3, s"expected 3/5 parts for IN ('b','c'), got $p2/$t2")
    spark.sql("DROP TABLE p_ddl")
  }

  test("SQL DELETE on pure partition equality maps to dropPartition (no part rewrite)") {
    val dir = Files.createTempDirectory("mt_pdel_").toString
    spark.sql("DROP TABLE IF EXISTS p_del")
    spark.sql(
      s"""CREATE TABLE p_del (k BIGINT, cat STRING, v DOUBLE) USING mergetree
         |OPTIONS (orderBy 'k', partitionBy 'cat') LOCATION '$dir'""".stripMargin)
    spark.sql("""INSERT INTO p_del VALUES
      (1, 'a', 0.5), (2, 'b', 1.5), (3, 'a', 2.5), (4, 'c', 3.5)""")
    val t = ColumnarMergeTree.open(spark, dir)
    val surviving = t.parts.filterNot(_.partition.contains("b")).map(_.partId).toSet
    spark.sql("DELETE FROM p_del WHERE cat = 'b'")
    t.refresh()
    // O(manifest) unlink: the surviving parts keep their EXACT ids — a
    // predicate-rewrite path would have re-written them under new ids
    assert(t.parts.map(_.partId).toSet == surviving,
      "partition-equality DELETE must not rewrite surviving parts")
    assert(t.partitions == Seq("a", "c"))
    assert(spark.table("p_del").count() == 3)
    spark.sql("DROP TABLE p_del")
  }

  test("FINAL read option collapses a Replacing table exactly like scan()") {
    val dir = Files.createTempDirectory("mt_final_").toString
    val df = spark.range(100).select(
      (col("id") % 20).as("k"), col("id").as("ver"),
      concat(lit("p"), col("id")).as("payload"))
    val t = ColumnarMergeTree.create(spark, dir, df.schema,
      orderBy = Seq("k", "ver"), mode = MergeMode.Replacing(Seq("k"), "ver"))
    // versions of each k land across two parts → collapse must cross parts
    t.insertBatch(df.filter(col("ver") < 50))
    t.insertBatch(df.filter(col("ver") >= 50))
    val raw = spark.read.format("mergetree").load(dir)
    assert(raw.count() == 100, "default read stays raw parts (no FINAL)")
    val fin = spark.read.format("mergetree").option("final", "true").load(dir)
    val viaFinal = fin.orderBy(col("k")).collect().toList
    val viaScan = t.scan().orderBy(col("k")).collect().toList
    assert(viaFinal == viaScan && viaFinal.size == 20)
    // projection through the rewritten plan stays valid (exprId rebinding)
    assert(fin.select("payload").count() == 20)
  }

  test("snapshot read option time-travels the SQL face; pinned tables are read-only") {
    val dir = Files.createTempDirectory("mt_snap_").toString
    val df = spark.range(100).select(col("id").as("k"), (col("id") % 4).as("v"))
    val t = ColumnarMergeTree.create(spark, dir, df.schema,
      orderBy = Seq("k"), MergeTreeConfig(gcGraceSeconds = 3600))
    t.insertBatch(df)
    val s0 = t.snapshots.last
    t.deleteWhere(col("v") === 0L)
    assert(spark.read.format("mergetree").load(dir).count() == 75,
      "live read sees the delete")
    val pinned = spark.read.format("mergetree")
      .option("snapshot", s0.toString).load(dir)
    assert(pinned.count() == 100, "pinned read serves the pre-delete manifest")
    // key-range pruning still applies on the pinned manifest
    assert(pinned.filter(col("k") < 10).count() == 10)
    // snapshot-pinned tables reject writes
    intercept[Exception] {
      df.limit(5).write.format("mergetree")
        .option("snapshot", s0.toString).mode("append").save(dir)
    }
    // purging the retired parts makes the pinned read fail loudly, not partially
    t.purgeGc(force = true)
    val e = intercept[Exception](spark.read.format("mergetree")
      .option("snapshot", s0.toString).load(dir).count())
    assert(e.getMessage.contains("no longer readable"))
  }

  test("sample read option serves exactly sampleScan's rows; samples nest") {
    val dir = Files.createTempDirectory("mt_sampddl_").toString
    val df = spark.range(4000).select(col("id").as("k"), (col("id") % 7).as("v"))
    val t = ColumnarMergeTree.create(spark, dir, df.schema, orderBy = Seq("k"))
    t.insertBatch(df)
    val viaSql = spark.read.format("mergetree").option("sample", "1/4").load(dir)
    val viaApi = t.sampleScan(1, 4)
    assert(viaSql.orderBy("k").collect().toList == viaApi.orderBy("k").collect().toList,
      "SQL sample and sampleScan must pick the identical subset")
    val n4 = viaSql.count()
    assert(n4 > 600 && n4 < 1400, s"1/4 of 4000 should be ~1000, got $n4")
    // composability: SAMPLE 1/4 is a subset of SAMPLE 1/2 (same hash space)
    val half = spark.read.format("mergetree").option("sample", "1/2").load(dir)
      .select("k").collect().map(_.getLong(0)).toSet
    val quarter = viaSql.select("k").collect().map(_.getLong(0)).toSet
    assert(quarter.subsetOf(half), "SAMPLE 1/4 must nest inside SAMPLE 1/2")
    // sample 'n/n' is the identity and stays a plain scan
    assert(spark.read.format("mergetree").option("sample", "4/4").load(dir)
      .count() == 4000)
    intercept[Exception](spark.read.format("mergetree")
      .option("sample", "quarter").load(dir).count())
    // absolute form: SAMPLE 'N rows' ~ N rows via the manifest row count,
    // identical subset through API and SQL, nesting within larger samples
    val r500sql = spark.read.format("mergetree").option("sample", "500 rows")
      .load(dir).select("k").collect().map(_.getLong(0)).toSet
    val r500api = t.sampleScanRows(500).select("k").collect().map(_.getLong(0)).toSet
    assert(r500sql == r500api, "SQL rows-sample must equal sampleScanRows")
    assert(r500sql.size > 300 && r500sql.size < 700,
      s"~500 of 4000 expected, got ${r500sql.size}")
    assert(r500sql.subsetOf(half), "SAMPLE 500 rows nests inside SAMPLE 1/2")
    assert(t.sampleScanRows(4000).count() == 4000, "n >= total is the full scan")
  }

  test("sample composes with FINAL: collapsed rows are sampled, not raw parts") {
    val dir = Files.createTempDirectory("mt_sampfin_").toString
    val df = spark.range(2000).select((col("id") % 1000).as("k"), col("id").as("ver"))
    val t = ColumnarMergeTree.create(spark, dir, df.schema,
      orderBy = Seq("k", "ver"), mode = MergeMode.Replacing(Seq("k"), "ver"))
    t.insertBatch(df.filter(col("ver") < 1000))
    t.insertBatch(df.filter(col("ver") >= 1000)) // same keys, newer versions
    val fin = spark.read.format("mergetree")
      .option("final", "true").option("sample", "1/2").load(dir)
    val rows = fin.collect()
    // every sampled row is the COLLAPSED (newest) version of its key
    assert(rows.forall(r => r.getLong(1) == r.getLong(0) + 1000),
      "sample must apply after the Replacing collapse")
    assert(rows.length > 300 && rows.length < 700,
      s"~half of 1000 collapsed keys, got ${rows.length}")
  }

  test("system tables: parts and snapshots metadata readable from SQL") {
    val dir = Files.createTempDirectory("mt_sys_").toString
    val df = spark.range(100).select(col("id").as("k"), (col("id") % 4).as("v"))
    val t = ColumnarMergeTree.create(spark, dir, df.schema,
      orderBy = Seq("k"), MergeTreeConfig(gcGraceSeconds = 3600))
    t.insertBatch(df.filter(col("k") < 50))
    t.insertBatch(df.filter(col("k") >= 50))
    val parts = spark.read.format("mergetree").option("system", "parts").load(dir)
    val rows = parts.orderBy("part_id").collect()
    assert(rows.length == 2 && rows.map(_.getAs[Long]("rows")).toList == List(50L, 50L))
    // matches the API-facing partsDf exactly (same manifest, same columns)
    assert(parts.columns.toSeq == t.partsDf.columns.toSeq)
    assert(parts.agg(sum("bytes")).head.getLong(0) == t.diskUsage)
    // aggregation over metadata works like any relation — zero data I/O
    assert(parts.agg(sum("rows")).head.getLong(0) == 100L)
    val snaps = spark.read.format("mergetree").option("system", "snapshots").load(dir)
    val s = snaps.orderBy("seq").collect()
    assert(s.length == 2, "one snapshot per committed manifest state")
    assert(s.forall(_.getAs[Boolean]("readable")), "no part purged yet")
    assert(s.last.getAs[Long]("rows") == 100L)
    // system 'columns': schema + ORDER BY/PARTITION BY/index membership
    // straight from the tabledef (ClickHouse system.columns).
    val cols = spark.read.format("mergetree").option("system", "columns")
      .load(dir).orderBy("position").collect()
    assert(cols.map(_.getAs[String]("name")).toSeq ==
      t.schema.fieldNames.toSeq)
    assert(cols.count(_.getAs[Boolean]("is_order_by")) == t.orderBy.size)
    intercept[Exception](spark.read.format("mergetree")
      .option("system", "nope").load(dir))
  }

  test("FINAL composes with snapshot: collapse applies to the pinned parts") {
    val dir = Files.createTempDirectory("mt_snapfin_").toString
    val v1 = spark.range(10).select((col("id") % 10).as("k"), col("id").as("ver"))
    val t = ColumnarMergeTree.create(spark, dir, v1.schema,
      orderBy = Seq("k", "ver"), MergeTreeConfig(gcGraceSeconds = 3600),
      mode = MergeMode.Replacing(Seq("k"), "ver"))
    t.insertBatch(v1)
    val s0 = t.snapshots.last
    t.insertBatch(v1.withColumn("ver", col("ver") + 100)) // newer versions
    val finNow = spark.read.format("mergetree").option("final", "true").load(dir)
    assert(finNow.agg(max("ver")).head.getLong(0) == 109L,
      "live FINAL serves the newest versions")
    val finThen = spark.read.format("mergetree")
      .option("final", "true").option("snapshot", s0.toString).load(dir)
    assert(finThen.count() == 10 && finThen.agg(max("ver")).head.getLong(0) == 9L,
      "FINAL over a snapshot collapses only the parts committed then")
  }

  test("CREATE TABLE with final 'true' serves collapsed rows to plain SQL") {
    val dir = Files.createTempDirectory("mt_finddl_").toString
    val df = spark.range(60).select(
      (col("id") % 10).as("k"), lit(1L).as("cnt"))
    val t = ColumnarMergeTree.create(spark, dir, df.schema,
      orderBy = Seq("k"), mode = MergeMode.Summing(Seq("k"), Seq("cnt")))
    t.insertBatch(df.filter(col("id") < 30))
    t.insertBatch(df.filter(col("id") >= 30))
    spark.sql("DROP TABLE IF EXISTS g_final")
    spark.sql(
      s"CREATE TABLE g_final USING mergetree OPTIONS (`final` 'true') LOCATION '$dir'")
    val rows = spark.sql("SELECT k, cnt FROM g_final ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(rows == (0L until 10L).map(k => (k, 6L)).toList,
      s"Summing FINAL must serve one pre-summed row per key: $rows")
    // a raw-read view of the same storage still sees all 60 rows
    assert(spark.read.format("mergetree").load(dir).count() == 60)
    // the table stays WRITABLE: the FINAL rewrite must skip relations in
    // write position (the INSERT target resolves in the same fixpoint)
    spark.sql("INSERT INTO g_final SELECT id % 10, 1 FROM range(0, 10)")
    val after = spark.sql("SELECT k, cnt FROM g_final ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(after == (0L until 10L).map(k => (k, 7L)).toList,
      s"SQL INSERT INTO a final-read table must land and collapse: $after")
    spark.sql("DROP TABLE g_final")
  }

  test("SQL DDL declares an Aggregating table; FINAL serves the collapsed rows") {
    val dir = Files.createTempDirectory("mt_aggddl_").toString
    spark.sql("DROP TABLE IF EXISTS g_agg")
    spark.sql(
      s"""CREATE TABLE g_agg (k BIGINT, hi BIGINT, amt BIGINT) USING mergetree
         |OPTIONS (orderBy 'k', mode 'aggregating', keys 'k',
         |  aggs 'hi:max,amt:sum')
         |LOCATION '$dir'""".stripMargin)
    val defn = ColumnarMergeTree.TableDef.load(dir).get
    assert(ColumnarMergeTree.TableDef.decodeMode(defn.mode) ==
      MergeMode.Aggregating(Seq("k"), Seq("hi" -> "max", "amt" -> "sum")))
    spark.sql("INSERT INTO g_agg SELECT id % 5, id, 1 FROM range(0, 30)")
    spark.sql("INSERT INTO g_agg SELECT id % 5, id + 100, 2 FROM range(0, 30)")
    // DDL-born mode collapses through the Scala API...
    val viaApi = ColumnarMergeTree.open(spark, dir).scan()
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val expect = (0L until 5L).map(k => (k, k + 125L, 18L)).toList
    assert(viaApi == expect, s"aggregating collapse: $viaApi")
    // ...and through the FINAL SQL face over the same storage
    spark.sql("DROP TABLE IF EXISTS g_agg_final")
    spark.sql(
      s"CREATE TABLE g_agg_final USING mergetree OPTIONS (`final` 'true') LOCATION '$dir'")
    val viaSql = spark.sql("SELECT k, hi, amt FROM g_agg_final ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(viaSql == expect, s"aggregating FINAL: $viaSql")
    spark.sql("DROP TABLE g_agg")
    spark.sql("DROP TABLE g_agg_final")
  }

  test("INSERT OVERWRITE: whole-table replace; dynamic partition overwrite when partitioned") {
    // unpartitioned: the batch atomically replaces everything
    val dir = Files.createTempDirectory("mt_ow_").toString
    spark.sql("DROP TABLE IF EXISTS g_ow")
    spark.sql(s"CREATE TABLE g_ow (k BIGINT, v BIGINT) USING mergetree " +
      s"OPTIONS (orderBy 'k') LOCATION '$dir'")
    spark.sql("INSERT INTO g_ow SELECT id, 1 FROM range(0, 10)")
    spark.sql("INSERT OVERWRITE TABLE g_ow SELECT id, 2 FROM range(0, 5)")
    val rows = spark.sql("SELECT k, v FROM g_ow ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(rows == (0L until 5L).map(k => (k, 2L)).toList, s"full replace: $rows")
    spark.sql("DROP TABLE g_ow")
    // partitioned: only the partitions PRESENT in the batch are replaced
    val dir2 = Files.createTempDirectory("mt_owp_").toString
    spark.sql("DROP TABLE IF EXISTS g_owp")
    spark.sql(s"CREATE TABLE g_owp (k BIGINT, b BIGINT) USING mergetree " +
      s"OPTIONS (orderBy 'k', partitionBy 'b') LOCATION '$dir2'")
    spark.sql("INSERT INTO g_owp SELECT id, id % 2 FROM range(0, 20)")
    spark.sql("INSERT OVERWRITE TABLE g_owp SELECT id + 100, 1 FROM range(0, 3)")
    val b0 = spark.sql("SELECT count(*) FROM g_owp WHERE b = 0").head().getLong(0)
    val b1 = spark.sql("SELECT k FROM g_owp WHERE b = 1 ORDER BY k")
      .collect().map(_.getLong(0)).toList
    assert(b0 == 10L, "untouched partition keeps its rows")
    assert(b1 == List(100L, 101L, 102L), s"named partition replaced: $b1")
    spark.sql("DROP TABLE g_owp")
    // empty overwrite of an UNPARTITIONED table is a truncate
    val dir3 = Files.createTempDirectory("mt_owe_").toString
    spark.sql("DROP TABLE IF EXISTS g_owe")
    spark.sql(s"CREATE TABLE g_owe (k BIGINT) USING mergetree " +
      s"OPTIONS (orderBy 'k') LOCATION '$dir3'")
    spark.sql("INSERT INTO g_owe SELECT id FROM range(0, 10)")
    spark.sql("INSERT OVERWRITE TABLE g_owe SELECT id FROM range(0, 0)")
    assert(spark.sql("SELECT count(*) FROM g_owe").head().getLong(0) == 0L,
      "empty overwrite must empty the unpartitioned table")
    spark.sql("DROP TABLE g_owe")
  }

  test("CREATE MATERIALIZED VIEW via DDL options: SQL-born MV fires on SQL INSERT") {
    val srcDir = Files.createTempDirectory("mt_mvddl_src_").toString
    val tgtDir = Files.createTempDirectory("mt_mvddl_tgt_").toString
    spark.sql("DROP TABLE IF EXISTS g_mv_src")
    spark.sql("DROP TABLE IF EXISTS g_mv_tgt")
    spark.sql(s"CREATE TABLE g_mv_src (k BIGINT, grp BIGINT, n BIGINT) " +
      s"USING mergetree OPTIONS (orderBy 'k') LOCATION '$srcDir'")
    spark.sql(
      s"""CREATE TABLE g_mv_tgt (grp BIGINT, n BIGINT) USING mergetree
         |OPTIONS (orderBy 'grp', mode 'summing', keys 'grp', sums 'n',
         |  mvSource '$srcDir', mvName 'by_grp',
         |  mvSql 'SELECT grp, sum(n) AS n FROM __INPUT__ GROUP BY grp',
         |  `final` 'true')
         |LOCATION '$tgtDir'""".stripMargin)
    assert(ColumnarMergeTree.MvRegistry.load(srcDir).map(_.name) == List("by_grp"))
    spark.sql("INSERT INTO g_mv_src SELECT id, id % 3, 1 FROM range(0, 30)")
    spark.sql("INSERT INTO g_mv_src SELECT id, id % 3, 1 FROM range(30, 60)")
    // target declared final 'true' → reads come back collapsed
    val got = spark.sql("SELECT grp, n FROM g_mv_tgt ORDER BY grp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == List((0L, 20L), (1L, 20L), (2L, 20L)), s"SQL-born MV: $got")
    spark.sql("DROP TABLE g_mv_src")
    spark.sql("DROP TABLE g_mv_tgt")
  }

  // ------------------------------------ ClickHouse maintenance verbs, pure SQL

  test("OPTIMIZE TABLE via SQL: compaction, then FINAL DEDUPLICATE drops row copies") {
    val (dir, t) = buildGeneric() // 3 parts, 300 rows
    // below the maxParts trigger a plain OPTIMIZE is (correctly) a no-op
    spark.sql(s"OPTIMIZE TABLE '$dir'")
    t.refresh()
    assert(t.partCount == 3 && t.totalRows == 300)
    spark.sql(s"OPTIMIZE TABLE '$dir' FINAL")
    t.refresh()
    assert(t.partCount == 1 && t.totalRows == 300,
      s"FINAL must compact to one part: parts=${t.partCount}")
    // re-ingest an identical batch -> full-row duplicates a Plain table
    // would never collapse; FINAL DEDUPLICATE is the retroactive cure
    val dup = spark.range(100).select(
      col("id").as("k"), (col("id") % 7).as("grp"),
      concat(lit("n"), col("id")).as("name"), (col("id") * 1.5).as("score"))
    ColumnarMergeTree.open(spark, dir).insertBatch(dup)
    assert(ColumnarMergeTree.open(spark, dir).totalRows == 400)
    spark.sql(s"OPTIMIZE TABLE '$dir' FINAL DEDUPLICATE")
    t.refresh()
    assert(t.totalRows == 300 && t.partCount == 1,
      s"FINAL DEDUPLICATE: rows=${t.totalRows} parts=${t.partCount}")
  }

  test("ALTER TABLE UPDATE/DELETE mutations via ClickHouse SQL spelling") {
    val (dir, t) = buildGeneric() // 300 rows, k ordered
    // multi-assignment with a function call holding a top-level-looking comma
    val upd = spark.sql(
      s"ALTER TABLE '$dir' UPDATE score = score * 2, name = concat(name, '!') " +
        "WHERE k < 50")
    assert(upd.columns.toSeq == Seq("rows_affected"))
    assert(upd.first().getLong(0) == 50L)
    val after = spark.read.format("mergetree").load(dir)
    assert(after.filter(col("k") === 10).select("score", "name")
      .first().toSeq == Seq(30.0, "n10!"))
    assert(after.filter(col("k") === 100).select("score", "name")
      .first().toSeq == Seq(150.0, "n100"))
    // ORDER BY columns must be rejected, as in ClickHouse
    val err = intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE '$dir' UPDATE k = k + 1 WHERE k = 0")
    }
    assert(err.getMessage.contains("ORDER BY"))
    // ClickHouse delete-mutation spelling
    assert(spark.sql(s"ALTER TABLE '$dir' DELETE WHERE k >= 250")
      .first().getLong(0) == 50L)
    t.refresh()
    assert(t.totalRows == 250)
  }

  test("catalog rejects traversal segments; external LOCATION resolves and drops") {
    val wh = Files.createTempDirectory("cat_sec_wh_").toString
    spark.conf.set("spark.sql.catalog.gsec",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsec.warehouse", wh)
    // namespace ops must validate segments — `..` would resolve OUTSIDE the
    // warehouse and CASCADE-delete its parent
    val e = intercept[Exception] {
      spark.sql("DROP NAMESPACE gsec.`..` CASCADE")
    }
    assert(e.getMessage.contains("illegal identifier segment"), e.getMessage)
    intercept[Exception] { spark.sql("CREATE NAMESPACE gsec.`..`") }
    // external LOCATION: data lands at the location, the identifier keeps
    // resolving (pointer slot), and DROP removes both
    val ext = Files.createTempDirectory("cat_ext_").toString
    spark.sql("CREATE TABLE gsec.ns.ext (k BIGINT) USING mergetree " +
      s"OPTIONS (orderBy 'k') LOCATION '$ext'")
    spark.sql("INSERT INTO gsec.ns.ext SELECT id FROM range(10)")
    assert(spark.sql("SELECT count(*) FROM gsec.ns.ext").first().getLong(0) == 10L)
    assert(Files.exists(java.nio.file.Paths.get(ext, "tabledef.json")),
      "data must live at the external location")
    assert(spark.sql("SHOW TABLES IN gsec.ns").collect()
      .exists(_.getString(1) == "ext"), "external table must be listed")
    spark.sql("DROP TABLE gsec.ns.ext")
    assert(!Files.exists(java.nio.file.Paths.get(ext, "tabledef.json")),
      "DROP must delete the external data (managed semantics)")
    assert(!spark.sql("SHOW TABLES IN gsec.ns").collect()
      .exists(_.getString(1) == "ext"), "pointer slot must be gone")
  }

  test("maintenance verbs tolerate trailing semicolons and WHERE inside literals") {
    val (dir, t) = buildGeneric()
    // bare partition value must not swallow the statement terminator
    val wh = Files.createTempDirectory("mnt_semi_wh_").toString
    spark.conf.set("spark.sql.catalog.gsemi",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsemi.warehouse", wh)
    spark.sql("CREATE TABLE gsemi.m.t (k BIGINT, b BIGINT) USING mergetree " +
      "OPTIONS (orderBy 'k', partitionBy 'b')")
    spark.sql("INSERT INTO gsemi.m.t SELECT id, id % 2 FROM range(100)")
    assert(spark.sql("ALTER TABLE gsemi.m.t DROP PARTITION 1;").first().getLong(0) == 50L)
    // a string literal containing ' WHERE ' must not confuse the
    // assignment/predicate split
    assert(spark.sql(
      s"ALTER TABLE '$dir' UPDATE name = 'see WHERE clause' WHERE k < 10")
      .first().getLong(0) == 10L)
    val got = spark.read.format("mergetree").load(dir)
      .filter(col("k") === 5).select("name").first().getString(0)
    assert(got == "see WHERE clause", s"got '$got'")
    t.refresh()
  }

  test("external-LOCATION catalog tables: verbs follow the pointer; failed CREATE leaves none") {
    val wh = Files.createTempDirectory("ext_wh2_").toString
    spark.conf.set("spark.sql.catalog.gext2",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gext2.warehouse", wh)
    val loc = Files.createTempDirectory("ext_loc2_").toString
    spark.sql("CREATE TABLE gext2.m.t (k BIGINT, b BIGINT) USING mergetree " +
      s"OPTIONS (orderBy 'k', partitionBy 'b') LOCATION '$loc'")
    spark.sql("INSERT INTO gext2.m.t SELECT id, id % 2 FROM range(100)")
    // Maintenance verbs resolve THROUGH the extloc pointer (round 10:
    // previously they resolved the bare warehouse slot and threw).
    assert(spark.sql("ALTER TABLE gext2.m.t DROP PARTITION 1")
      .first().getLong(0) == 50L)
    spark.sql("OPTIMIZE TABLE gext2.m.t").collect()
    assert(spark.sql("SELECT count(*) FROM gext2.m.t").first().getLong(0) == 50L)
    // A CREATE failing validation (target already holds a table) must not
    // leave a dangling pointer — a later DROP of the phantom identifier
    // would follow it and delete the FOREIGN table's data.
    intercept[Exception](spark.sql(
      "CREATE TABLE gext2.m.clash (k BIGINT) USING mergetree " +
        s"OPTIONS (orderBy 'k') LOCATION '$loc'"))
    assert(!spark.sql("SHOW TABLES IN gext2.m").collect()
      .map(_.getString(1)).contains("clash"), "no phantom identifier")
    assert(spark.sql("SELECT count(*) FROM gext2.m.t").first().getLong(0) == 50L,
      "foreign table data intact after the failed CREATE")
  }

  test("escaped quotes inside UPDATE literals don't desync the WHERE splitter") {
    val (dir, t) = buildGeneric()
    assert(spark.sql(
      s"""ALTER TABLE '$dir' UPDATE name = 'don\\'t rock' WHERE k < 5""")
      .first().getLong(0) == 5L)
    val got = spark.read.format("mergetree").load(dir)
      .filter(col("k") === 1).select("name").first().getString(0)
    assert(got == "don't rock", s"got '$got'")
    t.refresh()
  }

  test("DELETE ... IN on a date partition falls back to rewrite and deletes") {
    // canonPartitionValue has no date form: the dropPartition fast path
    // must decline (fall back to the predicate rewrite), not silently
    // drop an EMPTY partition set and leave every matching row alive.
    val dir = Files.createTempDirectory("mt_dpdel_").toString
    spark.sql("DROP TABLE IF EXISTS d_del")
    spark.sql(s"CREATE TABLE d_del (k BIGINT, d DATE, v DOUBLE) USING mergetree " +
      s"OPTIONS (orderBy 'k', partitionBy 'd') LOCATION '$dir'")
    spark.sql("INSERT INTO d_del VALUES (1, DATE'2024-01-01', 0.5), " +
      "(2, DATE'2024-01-02', 1.5), (3, DATE'2024-01-01', 2.5)")
    spark.sql("DELETE FROM d_del WHERE d IN (DATE'2024-01-01')")
    assert(spark.table("d_del").count() == 1,
      "rows of the named date partition must actually be deleted")
    spark.sql("DROP TABLE d_del")
  }

  test("DETACH/ATTACH/DROP PARTITION via SQL on a catalog identifier") {
    val wh = Files.createTempDirectory("mnt_wh_").toString
    spark.conf.set("spark.sql.catalog.gmnt",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmnt.warehouse", wh)
    spark.sql("CREATE TABLE gmnt.m.t (k BIGINT, b BIGINT) USING mergetree " +
      "OPTIONS (orderBy 'k', partitionBy 'b')")
    spark.sql("INSERT INTO gmnt.m.t SELECT id, id % 3 FROM range(300)")
    val det = spark.sql("ALTER TABLE gmnt.m.t DETACH PARTITION '1'")
    assert(det.columns.toSeq == Seq("rows_affected"))
    assert(det.first().getLong(0) == 100L)
    assert(spark.sql("SELECT count(*) FROM gmnt.m.t").first().getLong(0) == 200L)
    assert(spark.sql("ALTER TABLE gmnt.m.t ATTACH PARTITION '1'")
      .first().getLong(0) == 100L)
    assert(spark.sql("SELECT count(*) FROM gmnt.m.t").first().getLong(0) == 300L)
    // bare (unquoted) partition value parses too
    assert(spark.sql("ALTER TABLE gmnt.m.t DROP PARTITION 2")
      .first().getLong(0) == 100L)
    assert(spark.sql("SELECT count(*) FROM gmnt.m.t").first().getLong(0) == 200L)
    // a standard ALTER still reaches Spark's parser through the delegate
    spark.sql("ALTER TABLE gmnt.m.t ADD COLUMN extra BIGINT")
    assert(spark.table("gmnt.m.t").columns.toSeq == Seq("k", "b", "extra"))
  }

  test("REPLACE PARTITION ... FROM via SQL swaps exactly one partition's content") {
    val wh = Files.createTempDirectory("mnt_wh2_").toString
    spark.conf.set("spark.sql.catalog.grp2",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grp2.warehouse", wh)
    for (n <- Seq("dst", "src"))
      spark.sql(s"CREATE TABLE grp2.m.$n (k BIGINT, b BIGINT, v BIGINT) " +
        "USING mergetree OPTIONS (orderBy 'k', partitionBy 'b')")
    spark.sql("INSERT INTO grp2.m.dst SELECT id, id % 2, 0 FROM range(100)")
    spark.sql("INSERT INTO grp2.m.src SELECT id, id % 2, 9 FROM range(10)")
    spark.sql("ALTER TABLE grp2.m.dst REPLACE PARTITION '0' FROM grp2.m.src")
    // partition 0 now holds src's 5 rows (v=9); partition 1 is untouched
    val p0 = spark.sql("SELECT count(*) AS n, sum(v) AS s FROM grp2.m.dst WHERE b = 0").first()
    assert(p0.getLong(0) == 5L && p0.getLong(1) == 45L, s"p0: $p0")
    val p1 = spark.sql("SELECT count(*) AS n, sum(v) AS s FROM grp2.m.dst WHERE b = 1").first()
    assert(p1.getLong(0) == 50L && p1.getLong(1) == 0L, s"p1: $p1")
  }

  test("catalog table with final 'true': collapsed reads through the catalog name") {
    val wh = Files.createTempDirectory("fin_wh_").toString
    spark.conf.set("spark.sql.catalog.gfin",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfin.warehouse", wh)
    spark.sql("CREATE TABLE gfin.m.r (k BIGINT, ver BIGINT, v STRING) " +
      "USING mergetree OPTIONS (orderBy 'k', mode 'replacing', keys 'k', " +
      "version 'ver', final 'true')")
    spark.sql("INSERT INTO gfin.m.r VALUES (1, 1, 'old'), (2, 1, 'two')")
    spark.sql("INSERT INTO gfin.m.r VALUES (1, 2, 'new')")
    // reads by catalog name come back collapsed (greatest version per key)
    val got = spark.sql("SELECT k, v FROM gfin.m.r ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toList
    assert(got == List((1L, "new"), (2L, "two")), s"collapsed read: $got")
    // the sidecar travels with RENAME
    spark.sql("ALTER TABLE gfin.m.r RENAME TO m.r2")
    val got2 = spark.sql("SELECT k, v FROM gfin.m.r2 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toList
    assert(got2 == got)
  }

  test("per-read options on catalog names: final, snapshot, sample via spark.read.table") {
    val wh = Files.createTempDirectory("opt_wh_").toString
    spark.conf.set("spark.sql.catalog.gopt",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gopt.warehouse", wh)
    spark.sql("CREATE TABLE gopt.m.r (k BIGINT, ver BIGINT, v STRING) " +
      "USING mergetree OPTIONS (orderBy 'k', mode 'replacing', keys 'k', " +
      "version 'ver')")
    spark.sql("INSERT INTO gopt.m.r VALUES (1, 1, 'old'), (2, 1, 'two')")
    val dirR = s"$wh/m/r"
    val s0 = ColumnarMergeTree.open(spark, dirR).snapshots.last
    spark.sql("INSERT INTO gopt.m.r VALUES (1, 2, 'new')")
    // default read: raw parts (3 rows); final option: collapsed (2)
    assert(spark.read.table("gopt.m.r").count() == 3)
    val fin = spark.read.option("final", "true").table("gopt.m.r")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(2))).toList
    assert(fin == List((1L, "new"), (2L, "two")), s"final read: $fin")
    // snapshot option time-travels the catalog name
    assert(spark.read.option("snapshot", s0.toString).table("gopt.m.r")
      .count() == 2)
    // sample option matches the path face exactly (one shared predicate)
    spark.sql("CREATE TABLE gopt.m.p (k BIGINT, v BIGINT) USING mergetree " +
      "OPTIONS (orderBy 'k')")
    spark.sql("INSERT INTO gopt.m.p SELECT id, id FROM range(400)")
    val viaCat = spark.read.option("sample", "1/4").table("gopt.m.p")
      .collect().map(_.getLong(0)).sorted.toSeq
    val viaPath = spark.read.format("mergetree").option("sample", "1/4")
      .load(s"$wh/m/p").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaCat == viaPath && viaCat.nonEmpty && viaCat.length < 400)
  }

  test("MATERIALIZE TTL via SQL eagerly drops expired rows") {
    val dir = Files.createTempDirectory("mnt_ttl_").toString
    spark.sql("DROP TABLE IF EXISTS m_ttl")
    spark.sql(
      s"""CREATE TABLE m_ttl (k BIGINT, v BIGINT) USING mergetree
         |OPTIONS (orderBy 'k', ttl 'k >= 250') LOCATION '$dir'""".stripMargin)
    spark.sql("INSERT INTO m_ttl SELECT id, id FROM range(300)")
    // lazy TTL: rows are still there until a merge or an eager pass
    assert(spark.table("m_ttl").count() == 300)
    assert(spark.sql(s"ALTER TABLE '$dir' MATERIALIZE TTL").first().getLong(0) == 50L)
    assert(spark.table("m_ttl").count() == 250)
    spark.sql("DROP TABLE m_ttl")
  }

  test("DESCRIBE TABLE EXTENDED surfaces orderBy/mode/partitionBy/ttl properties") {
    val dir = Files.createTempDirectory("mt_desc_").toString
    spark.sql("DROP TABLE IF EXISTS d_props")
    spark.sql(
      s"""CREATE TABLE d_props (k BIGINT, cat STRING, ver BIGINT) USING mergetree
         |OPTIONS (orderBy 'k', mode 'replacing', keys 'k', version 'ver',
         |  partitionBy 'cat', ttl 'k < 0')
         |LOCATION '$dir'""".stripMargin)
    val desc = spark.sql("DESCRIBE TABLE EXTENDED d_props").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val props = desc.getOrElse("Table Properties", "")
    assert(props.contains("orderBy=k") && props.contains("partitionBy=cat") &&
      props.contains("ttl=k < 0") && props.toLowerCase.contains("replacing"),
      s"DESCRIBE must carry the engine metadata: $props")
    spark.sql("DROP TABLE d_props")
  }

  test("generic table: SQL aggregate matches the Scala-API scan") {
    val (dir, t) = buildGeneric()
    spark.read.format("mergetree").load(dir).createOrReplaceTempView("g_v")
    val viaSql = spark.sql(
      """SELECT grp, count(*) AS n, sum(score) AS s FROM g_v
        |WHERE k BETWEEN 50 AND 250 GROUP BY grp ORDER BY grp""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val viaApi = t.rangeScan(50L, 250L)
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("score")).as("s"))
      .orderBy(col("grp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(viaSql == viaApi)
  }
}
