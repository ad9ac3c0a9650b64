package graft

import graft.mergetree.{ColumnarMergeTree, MergeMode, MergeTreeConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Schema-generic MergeTree (SURVEY §1.4 "generalize to arbitrary
  * StructType with a declared ORDER BY"): numeric and string leading keys,
  * part pruning with correct per-type comparison, compaction invariance,
  * reopen.
  */
class ColumnarMergeTreeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  test("bloomFilterColumns: parts carry a bloom for the listed non-key column only") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    // High-cardinality column: parquet-mr only materializes a bloom once
    // the column abandons dictionary encoding (a fully-dict-encoded column
    // already gives exact membership) — which is exactly the column class
    // the knob is for.
    val ev = spark.range(200000).select(
      col("id").as("event_id"),
      md5(col("id").cast("string")).as("tag"),
      (col("id") % 7).cast("long").as("small"))
    val dir = Files.createTempDirectory("cmt_bloom_").toString
    val t = ColumnarMergeTree.create(spark, dir, ev.schema,
      orderBy = Seq("event_id"),
      MergeTreeConfig(bloomFilterColumns = Seq("tag")))
    t.insertBatch(ev, partitions = 1)
    val file = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .find(p => p.toString.endsWith(".parquet") && p.toString.contains("part_"))
      .getOrElse(fail("no part file written"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString),
      spark.sessionState.newHadoopConf()))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
        .map(c => c.getPath.toDotString -> (c.getBloomFilterOffset >= 0)).toMap
      assert(cols("tag"), "listed column must carry a bloom filter")
      assert(!cols("small"), "unlisted column must not pay for one")
    } finally reader.close()
    // point predicate on the bloom column returns exactly the right row
    val probe = ev.filter(col("event_id") === 123456L).select("tag").head().getString(0)
    val got = t.scan().filter(col("tag") === probe)
      .collect().map(_.getLong(0)).toList
    assert(got == List(123456L))
    // bloom columns are table metadata: every opener writes them too
    assert(ColumnarMergeTree.open(spark, dir).config.bloomFilterColumns == Seq("tag"))
  }

  test("SAMPLE: deterministic, nested (1/4 within 1/2), proportional, merge-stable") {
    val df = spark.range(20000).selectExpr("id AS k", "id * 2 AS v")
    val dir = Files.createTempDirectory("cmt_sample_").toString
    val t = ColumnarMergeTree.create(spark, dir, df.schema,
      orderBy = Seq("k"), MergeTreeConfig(maxParts = 2))
    t.insertBatch(df.filter(col("k") < 10000))
    t.insertBatch(df.filter(col("k") >= 10000))
    val half = t.sampleScan(1, 2).select("k").collect().map(_.getLong(0)).toSet
    val quarter = t.sampleScan(1, 4).select("k").collect().map(_.getLong(0)).toSet
    assert(math.abs(half.size - 10000) < 500, s"~half sampled: ${half.size}")
    assert(math.abs(quarter.size - 5000) < 400, s"~quarter sampled: ${quarter.size}")
    assert(quarter.subsetOf(half), "SAMPLE 1/4 must be nested inside SAMPLE 1/2")
    assert(t.sampleScan(1, 2).select("k").collect().map(_.getLong(0)).toSet == half,
      "sampling must be deterministic")
    t.optimize() // hash of key, not physical position: merge-stable
    assert(t.sampleScan(1, 2).select("k").collect().map(_.getLong(0)).toSet == half,
      "sample must survive compaction unchanged")
  }

  test("OPTIMIZE FINAL: one part per partition, mode fully applied on disk") {
    val df = spark.range(300).select(
      (col("id") % 30).as("k"), col("id").as("ver"),
      (col("id") % 3).cast("long").as("b"))
    val dir = Files.createTempDirectory("cmt_optfinal_").toString
    val t = ColumnarMergeTree.create(spark, dir, df.schema,
      orderBy = Seq("k"), MergeTreeConfig(maxParts = 100),
      mode = MergeMode.Replacing(Seq("k"), "ver"), partitionBy = Some("b"))
    (0 until 4).foreach(i => t.insertBatch(
      df.filter(col("ver") % 4 === i)))
    assert(t.partCount == 12, "4 batches x 3 partitions")
    val before = t.scan().orderBy("k").collect().toList
    t.optimizeFinal()
    assert(t.partCount == 3, "one part per partition")
    assert(t.scan().orderBy("k").collect().toList == before)
    // fully collapsed ON DISK: raw rows == collapsed rows
    assert(t.rawScan().count() == before.size)
  }

  test("OPTIMIZE FINAL collapses even a single not-yet-collapsed part (mode singleton)") {
    // One raw insertBatch of duplicate keys = ONE part holding uncollapsed
    // rows; round-7 review: size>1 filtering skipped it, breaking the
    // "raw rows == collapsed rows after" contract.
    val df = spark.range(40).select((col("id") % 10).as("k"), col("id").as("ver"))
    val dir = Files.createTempDirectory("cmt_optf1_").toString
    val t = ColumnarMergeTree.create(spark, dir, df.schema,
      orderBy = Seq("k"), mode = MergeMode.Replacing(Seq("k"), "ver"))
    t.insertBatch(df)
    assert(t.partCount == 1 && t.rawScan().count() == 40)
    t.optimizeFinal()
    assert(t.rawScan().count() == 10, "singleton must rewrite fully collapsed")
    assert(t.scan().count() == 10)
  }

  test("OPTIMIZE FINAL DEDUPLICATE drops fully identical rows; plain FINAL keeps them") {
    val df = spark.range(50).select((col("id") % 25).as("k"), (col("id") % 25 * 2).as("v"))
    // df holds every (k, v) row exactly TWICE (id and id+25 map to the same
    // row) — the accidentally re-inserted batch, on a Plain table where no
    // merge mode would ever collapse the copies
    val dir = Files.createTempDirectory("cmt_optdedup_").toString
    val t = ColumnarMergeTree.create(spark, dir, df.schema, orderBy = Seq("k"))
    t.insertBatch(df)
    t.optimizeFinal()
    assert(t.scan().count() == 50, "FINAL without DEDUPLICATE keeps identical rows")
    t.optimizeFinal(deduplicate = true)
    assert(t.scan().count() == 25, "DEDUPLICATE drops the re-inserted copies")
    assert(t.scan().select("k").distinct().count() == 25)
  }

  test("OPTIMIZE FINAL DEDUPLICATE BY columns keeps the deterministic first survivor") {
    // three rows per key with distinct v — duplicates by (k) only
    val df = spark.range(30).select(
      (col("id") % 10).as("k"), col("id").as("v"))
    val dir = Files.createTempDirectory("cmt_optdedupby_").toString
    val t = ColumnarMergeTree.create(spark, dir, df.schema, orderBy = Seq("k"))
    t.insertBatch(df)
    t.optimizeFinal(deduplicate = true)
    assert(t.scan().count() == 30, "full-row DEDUPLICATE keeps distinct-v rows")
    t.optimizeFinal(dedupBy = Seq("k"))
    val got = t.scan().orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    // survivor = min v per key (the row sorting first on the rest columns)
    assert(got == (0L until 10L).map(k => (k, k)).toList,
      s"BY-columns dedup must keep the deterministic min-rest row: $got")
    intercept[IllegalArgumentException](t.optimizeFinal(dedupBy = Seq("nope")))
  }

  test("OPTIMIZE FINAL drops a fully-expired partition instead of a phantom 0-row part") {
    val df = spark.range(100).select(col("id").as("k"), (col("id") % 2).cast("long").as("day"))
    val dir = Files.createTempDirectory("cmt_optfttl_").toString
    val t = ColumnarMergeTree.create(spark, dir, df.schema,
      orderBy = Seq("k"), partitionBy = Some("day"), ttl = Some("day = 0"))
    t.insertBatch(df)
    t.optimizeFinal()
    assert(t.partitions == Seq("1"), s"expired partition must vanish: ${t.partitions}")
    assert(t.parts.forall(_.rowCount > 0), "no phantom 0-row parts")
    assert(t.scan().count() == 50)
  }

  test("SAMPLE 0/d is empty and SAMPLE d/d is the full table") {
    val df = spark.range(1000).selectExpr("id AS k")
    val dir = Files.createTempDirectory("cmt_sample0_").toString
    val t = ColumnarMergeTree.create(spark, dir, df.schema, orderBy = Seq("k"))
    t.insertBatch(df)
    assert(t.sampleScan(0, 7).count() == 0)
    assert(t.sampleScan(7, 7).count() == 1000)
  }

  test("materialized view cycles are rejected at creation") {
    val df = spark.range(10).selectExpr("id AS k", "id AS n")
    val aDir = Files.createTempDirectory("cmt_mvcyc_a_").toString
    val bDir = Files.createTempDirectory("cmt_mvcyc_b_").toString
    val a = ColumnarMergeTree.create(spark, aDir, df.schema, orderBy = Seq("k"))
    // self-reference refused outright
    intercept[IllegalArgumentException] {
      a.createMaterializedView("self", aDir,
        s"SELECT k, n FROM ${ColumnarMergeTree.MvInput}", Seq("k"))
    }
    // A -> B fine; then B -> A closes a loop and must be refused
    val b = a.createMaterializedView("a_to_b", bDir,
      s"SELECT k, n FROM ${ColumnarMergeTree.MvInput}", Seq("k"))
    intercept[IllegalArgumentException] {
      b.createMaterializedView("b_to_a", aDir,
        s"SELECT k, n FROM ${ColumnarMergeTree.MvInput}", Seq("k"))
    }
  }

  test("partsDf: system.parts-style introspection matches the manifest") {
    val df = spark.range(100).select(col("id").as("k"),
      (col("id") % 2).cast("long").as("b"))
    val dir = Files.createTempDirectory("cmt_partsdf_").toString
    val t = ColumnarMergeTree.create(spark, dir, df.schema,
      orderBy = Seq("k"), partitionBy = Some("b"))
    t.insertBatch(df)
    val rows = t.partsDf.orderBy("partition").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(1)).toList == List("0", "1"))
    assert(rows.map(_.getLong(2)).sum == 100L)
    assert(t.partsDf.agg(sum(col("bytes"))).head().getLong(0) == t.diskUsage)
  }

  test("numeric leading key: range scan prunes parts and matches direct filter") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dir = Files.createTempDirectory("cmt_num_").toString
    val t = ColumnarMergeTree.create(spark, dir, li.schema,
      orderBy = Seq("l_orderkey", "l_linenumber"))
    // three key-disjoint parts (numeric ranges where string compare would
    // mis-prune: 900 < 1000 numerically but "900" > "1000" as strings)
    t.insertBatch(li.filter(col("l_orderkey") < 500))
    t.insertBatch(li.filter(col("l_orderkey") >= 500 && col("l_orderkey") < 1000))
    t.insertBatch(li.filter(col("l_orderkey") >= 1000))
    assert(t.partCount == 3)
    val got = t.rangeScan(900L, 1100L)
      .orderBy("l_orderkey", "l_linenumber").collect()
    val exp = li.filter(col("l_orderkey") >= 900 && col("l_orderkey") <= 1100)
      .orderBy("l_orderkey", "l_linenumber").collect()
    assert(got.toSeq == exp.toSeq)
    assert(t.lastPruning == (2, 3),
      s"900..1100 must touch exactly parts 2 and 3: ${t.lastPruning}")
    assert(t.totalRows == li.count())
  }

  test("string leading key: pruning respects lexicographic bounds") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("cmt_str_").toString
    val t = ColumnarMergeTree.create(spark, dir, docs.schema,
      orderBy = Seq("lang", "doc_id"))
    t.insertBatch(docs.filter(col("lang") < "es"))
    t.insertBatch(docs.filter(col("lang") >= "es"))
    val got = t.rangeScan("en", "es").select(countDistinct("lang")).collect()(0).getLong(0)
    assert(got == 2) // en + es
    assert(t.lastPruning == (2, 2)) // "en".."es" straddles both parts
    val deOnly = t.rangeScan("de", "de")
    assert(deOnly.count() == docs.filter(col("lang") === "de").count())
    assert(t.lastPruning == (1, 2), "de-only range must prune the es+ part")
  }

  test("Replacing mode keeps the greatest version per key across parts") {
    import spark.implicits._
    val schema = Seq(("k1", 1L, "old")).toDF("k", "ver", "payload").schema
    val dir = Files.createTempDirectory("cmt_repl_").toString
    val t = ColumnarMergeTree.create(spark, dir, schema,
      orderBy = Seq("k", "ver"),
      mode = graft.mergetree.MergeMode.Replacing(Seq("k"), "ver"))
    t.insertBatch(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("k", "ver", "payload"))
    t.insertBatch(Seq(("a", 3L, "a3"), ("c", 1L, "c1")).toDF("k", "ver", "payload"))
    t.insertBatch(Seq(("a", 2L, "a2"), ("b", 5L, "b5")).toDF("k", "ver", "payload"))
    val got = t.scan().orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toList
    assert(got == List(("a", 3L, "a3"), ("b", 5L, "b5"), ("c", 1L, "c1")))
    assert(t.rawScan().count() == 6) // raw parts keep all versions
    t.optimize() // no-op here (parts <= maxParts) but must not change results
    assert(t.scan().count() == 3)
  }

  test("Summing mode: partial collapse in merges + merge-on-read agree with direct sum") {
    import spark.implicits._
    val df = spark.range(1000)
      .select((col("id") % 7).cast("long").as("k"), lit(1.5).as("v"))
    val dir = Files.createTempDirectory("cmt_sum_").toString
    val t = ColumnarMergeTree.create(spark, dir, df.schema,
      orderBy = Seq("k"), MergeTreeConfig(maxParts = 2),
      mode = graft.mergetree.MergeMode.Summing(Seq("k"), Seq("v")))
    (0 until 5).foreach(i => t.insertBatch(df.filter(col("id") % 5 === i)
      .select(col("k"), col("v"))))
    t.optimize() // collapse inside the bin merges
    assert(t.partCount <= 2)
    val got = t.scan().orderBy("k").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100))).toList
    val exp = df.groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("v"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100))).toList
    assert(got == exp)
  }

  test("deleteWhere rewrites only matching parts and removes exactly the rows") {
    import spark.implicits._
    val df = spark.range(300)
      .select(col("id").as("k"), (col("id") % 3).cast("long").as("grp"))
    val dir = Files.createTempDirectory("cmt_del_").toString
    val t = ColumnarMergeTree.create(spark, dir, df.schema, orderBy = Seq("k"))
    t.insertBatch(df.filter(col("k") < 100))         // has grp 0,1,2
    t.insertBatch(df.filter(col("k") >= 100 && col("k") < 200))
    t.insertBatch(df.filter(col("k") >= 200))
    val idsBefore = spark.read.parquet(s"$dir/part_0").inputFiles.toSet
    val removed = t.deleteWhere(col("grp") === 2L)
    assert(removed == 100)
    assert(t.totalRows == 200)
    assert(t.scan().filter(col("grp") === 2L).count() == 0)
    assert(t.scan().count() == 200)
    // deleting a whole part drops it instead of rewriting an empty one
    val removedAll = t.deleteWhere(col("k") >= 200L)
    assert(removedAll > 0 && t.scan().filter(col("k") >= 200).count() == 0)
    // no-match delete leaves every part untouched
    val partsBefore = t.partCount
    assert(t.deleteWhere(col("k") < 0L) == 0L && t.partCount == partsBefore)
  }

  test("updateWhere mutates only matching rows with old-row SET semantics") {
    val df = spark.range(200).select(
      col("id").as("k"), (col("id") % 4).cast("long").as("a"),
      (col("id") % 7).cast("long").as("b"),
      lit("x").as("tag"))
    val dir = Files.createTempDirectory("cmt_upd_").toString
    val t = ColumnarMergeTree.create(spark, dir, df.schema, orderBy = Seq("k"))
    t.insertBatch(df.filter(col("k") < 100))
    t.insertBatch(df.filter(col("k") >= 100))
    // simultaneous assignment: a<->b swap on matching rows, tag rewritten
    val updated = t.updateWhere(col("k") < 50,
      Map("a" -> col("b"), "b" -> col("a"), "tag" -> lit("upd")))
    assert(updated == 50)
    val rows = t.scan().orderBy("k").collect()
    assert(rows.length == 200)
    rows.foreach { r =>
      val k = r.getLong(0)
      if (k < 50) {
        assert(r.getLong(1) == k % 7 && r.getLong(2) == k % 4, s"swap failed at k=$k")
        assert(r.getString(3) == "upd")
      } else {
        assert(r.getLong(1) == k % 4 && r.getLong(2) == k % 7)
        assert(r.getString(3) == "x")
      }
    }
    // NULL predicate rows are not matched; untouched parts stay untouched
    val partsBefore = t.parts.map(_.partId).toSet
    assert(t.updateWhere(lit(null).cast("boolean"), Map("tag" -> lit("z"))) == 0L)
    assert(t.parts.map(_.partId).toSet == partsBefore)
    // ORDER BY columns are protected
    intercept[IllegalArgumentException](t.updateWhere(col("a") === 0, Map("k" -> lit(0L))))
  }

  test("optimize compacts without changing rows; reopen sees the same table") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val dir = Files.createTempDirectory("cmt_opt_").toString
    val t = ColumnarMergeTree.create(spark, dir, orders.schema,
      orderBy = Seq("o_orderkey"), MergeTreeConfig(maxParts = 2))
    (0 until 6).foreach(i => t.insertBatch(orders.filter(col("o_orderkey") % 6 === i)))
    assert(t.partCount == 6)
    val before = t.scan().orderBy("o_orderkey").collect().toSeq
    t.optimize()
    assert(t.partCount <= 2)
    assert(t.scan().orderBy("o_orderkey").collect().toSeq == before)
    // self-describing open: schema/orderBy/mode come from tabledef.json
    val t2 = ColumnarMergeTree.open(spark, dir)
    assert(t2.schema == orders.schema && t2.orderBy == Seq("o_orderkey"))
    assert(t2.totalRows == orders.count())
    assert(t2.scan().orderBy("o_orderkey").collect().toSeq == before)
  }

  test("maintenance claims part ids in bin order: one op sequence, one manifest") {
    // Partition "a" is 100× the others, so its two merge bins finish last
    // — a claim in thread-completion order would hand b and c the lower
    // ids. Every op below rewrites several bins concurrently.
    def run(): (String, Seq[(Long, Option[String])]) = {
      val dir = Files.createTempDirectory("cmt_ids_").toString
      val rows = spark.range(0, 200000).select(col("id").as("k"),
        when(col("id") < 198000, "a").when(col("id") < 199000, "b").otherwise("c").as("g"),
        (col("id") % 13).as("v"))
      val t = ColumnarMergeTree.create(spark, dir, rows.schema, orderBy = Seq("k"),
        MergeTreeConfig(maxParts = 4), partitionBy = Some("g"))
      (0 until 4).foreach(i => t.insertBatch(rows.filter(col("k") % 4 === i)))
      t.optimize()
      val merged = t.parts.map(p => (p.partId, p.partition)).sortBy(_._1)
      t.deleteWhere(col("v") === 3)
      t.updateWhere(col("v") === 5, Map("v" -> lit(50L)))
      t.optimizeFinal()
      val manifest = new String(Files.readAllBytes(Paths.get(dir, "gmanifest.json")))
      t.shutdown()
      // Clock fields aside, diskSize too: a rewrite's byte layout follows
      // Spark's sampled range split of its input, which varies run to run.
      (manifest.replaceAll("\"(creationTime|diskSize)\" : \\d+", "\"$1\" : 0"), merged)
    }
    val (m1, merged) = run()
    assert(merged.map(_._2) == Seq("a", "a", "b", "c").map(Some(_)),
      s"merge outputs must take ids in bin order: $merged")
    val (m2, _) = run()
    assert(m1 == m2, s"two runs wrote different manifests:\n$m1\n$m2")
  }

  test("manifestLog table: full lifecycle (ingest, compact, reopen, time travel) on the log layout") {
    import graft.mergetree.ColumnarMergeTree.{GManifest, SnapshotLog}
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val dir = Files.createTempDirectory("cmt_log_").toString
    val t = ColumnarMergeTree.create(spark, dir, orders.schema,
      orderBy = Seq("o_orderkey"),
      MergeTreeConfig(maxParts = 2, manifestLog = true))
    assert(GManifest.logMode(dir), "create(manifestLog = true) must cut over")
    assert(!Files.exists(Paths.get(dir, "gmanifest.json")),
      "log-mode commits must not write the legacy manifest file")
    (0 until 4).foreach(i => t.insertBatch(orders.filter(col("o_orderkey") % 4 === i)))
    val seqAfterIngest = SnapshotLog.list(dir).last
    val before = t.scan().orderBy("o_orderkey").collect().toSeq
    t.optimize()
    assert(t.partCount <= 2)
    assert(t.scan().orderBy("o_orderkey").collect().toSeq == before)
    // reopen reads the latest log commit
    val t2 = ColumnarMergeTree.open(spark, dir)
    assert(t2.totalRows == orders.count())
    assert(t2.scan().orderBy("o_orderkey").collect().toSeq == before)
    // time travel serves straight from the commit log: the pre-optimize
    // snapshot still lists 4 parts and (within gc grace) still reads
    val snap = SnapshotLog.load(dir, seqAfterIngest).get
    assert(snap.parts.size == 4, s"pre-optimize snapshot: ${snap.parts.size} parts")
    assert(t2.scanAt(seqAfterIngest).orderBy("o_orderkey").collect().toSeq == before)
  }

  test("deleteWhere/updateWhere mutate uuid-named parts on a log-mode table") {
    // Regression: hit counting grouped parts by a part_<digits> regex, so
    // log-mode uuid part dirs grouped under NULL and mutations silently
    // skipped every row in them.
    import spark.implicits._
    val dir = Files.createTempDirectory("cmt_logmut_").toString
    val df = (0L until 100L).map(i => (i, i % 10)).toDF("k", "v")
    val t = ColumnarMergeTree.create(spark, dir, df.schema, orderBy = Seq("k"),
      MergeTreeConfig(manifestLog = true, gcGraceSeconds = 0))
    t.insertBatch(df.select(col("k"), col("v")))
    assert(t.parts.forall(_.dirName.exists(_.startsWith("part_u"))),
      "log-mode parts must be uuid-named for this regression to bite")
    assert(t.deleteWhere(col("v") === 0L) == 10L,
      "deleteWhere must see hits inside uuid-named parts")
    assert(t.scan().count() == 90)
    assert(t.updateWhere(col("v") === 1L, Map("v" -> lit(99L))) == 10L)
    assert(t.scan().filter(col("v") === 99L).count() == 10)
  }

  test("Summing with an int sum column survives its own compaction") {
    // Regression: sum(int) widens to long and the merged part landed INT64
    // under an int-declared column — every later schema'd read failed.
    import spark.implicits._
    val dir = Files.createTempDirectory("cmt_sumint_").toString
    val df = (0L until 100L).map(i => (i % 10, (i % 7).toInt)).toDF("k", "n")
    val t = ColumnarMergeTree.create(spark, dir, df.schema, orderBy = Seq("k"),
      mode = MergeMode.Summing(Seq("k"), Seq("n")))
    (0 until 3).foreach(_ => t.insertBatch(df.select(col("k"), col("n"))))
    val before = t.scan().orderBy(col("k")).collect().map(r => (r.getLong(0), r.getInt(1)))
    t.optimizeFinal()
    val after = t.scan().orderBy(col("k")).collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(after.toSeq == before.toSeq, "compaction changed Summing results")
  }

  test("updateWhere refuses PARTITION BY columns; sampleScanRows(0) is empty; fractional probes keep parts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cmt_guard_").toString
    val df = (0L until 50L).map(i => (i, s"r${i % 3}", i * 2)).toDF("k", "region", "v")
    val t = ColumnarMergeTree.create(spark, dir, df.schema, orderBy = Seq("k"),
      partitionBy = Some("region"),
      config = MergeTreeConfig(minmaxColumns = Seq("v")))
    t.insertBatch(df.select(col("k"), col("region"), col("v")))
    // partition-column update would strand rows under stale part metadata
    intercept[IllegalArgumentException](
      t.updateWhere(col("k") < 10, Map("region" -> lit("rX"))))
    // SAMPLE 0 means none, not ~total/2^20
    assert(t.sampleScanRows(0).count() == 0)
    // a fractional probe against integer stats must keep parts, not crash
    assert(t.scanWhere("v", 0.5, 10.5).count() ==
      t.scan().filter(col("v") >= 0.5 && col("v") <= 10.5).count())
  }

  test("self-describing open restores merge mode") {
    import spark.implicits._
    val df = Seq(("a", 1L, "x")).toDF("k", "ver", "payload")
    val dir = Files.createTempDirectory("cmt_def_").toString
    val t = ColumnarMergeTree.create(spark, dir, df.schema, Seq("k", "ver"),
      mode = graft.mergetree.MergeMode.Replacing(Seq("k"), "ver"))
    t.insertBatch(Seq(("a", 1L, "old"), ("a", 2L, "new")).toDF("k", "ver", "payload"))
    val t2 = ColumnarMergeTree.open(spark, dir)
    assert(t2.mode == graft.mergetree.MergeMode.Replacing(Seq("k"), "ver"))
    assert(t2.scan().collect().map(_.getString(2)).toList == List("new"))
  }
}
