package graft.sources

import graft.TestSpark
import graft.mergetree.{ColumnarMergeTree, HadoopConf, MergeTreeConfig}

import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Scan splits of the DSv2 sources: small part files pack, in manifest
  * order, into splits of Spark's own file-split size, so a scan over many
  * small parts launches about `defaultParallelism` tasks instead of one
  * per file; and the per-file parquet readers copy the JVM-wide Hadoop
  * defaults without writing to them.
  */
class ScanSplitSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val nParts = 20
  private val rowsPerPart = 100L

  /** A plain table of `nParts` small one-file parts whose key ranges
    * ascend in insert (= manifest) order, so manifest order is key order.
    */
  private def mkTable(prefix: String): (String, ColumnarMergeTree) = {
    val dir = Files.createTempDirectory(prefix).toString
    def batch(i: Int) = spark.range(i * rowsPerPart, (i + 1) * rowsPerPart)
      .select(col("id").as("k"), (col("id") * 3).as("v"))
    val t = ColumnarMergeTree.create(spark, dir, batch(0).schema, orderBy = Seq("k"))
    (0 until nParts).foreach(i => t.insertBatch(batch(i), partitions = 1))
    (dir, t)
  }

  private def planned(dir: String): Array[InputPartition] = {
    val d = ColumnarMergeTree.TableDef.load(dir).get
    new GenericMergeTreeV2Table(dir, StructType.fromDDL(d.schemaDdl), d.orderBy)
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .toBatch.planInputPartitions()
  }

  /** `SELECT … FROM` the table's DSv2 source. */
  private def sql(dir: String, select: String) = {
    val view = s"split_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.read.format("mergetree").load(dir).createOrReplaceTempView(view)
    spark.sql(s"SELECT $select FROM $view")
  }

  /** Runs `f` with `spark.sql.files.openCostInBytes` at half the bytes of
    * `files`. These tables fit the one-split budget (a small scan plans one
    * split, see SmallScanPlanSpec); this open cost puts them over it, where
    * packing applies, while a file still costs more to open than to read,
    * as at the default open cost.
    */
  private def overBudget[T](files: Seq[String])(f: => T): T = {
    val half = files.map(f => Files.size(Paths.get(f))).sum / 2
    spark.conf.set("spark.sql.files.openCostInBytes", half.toString)
    try f finally spark.conf.unset("spark.sql.files.openCostInBytes")
  }

  private def manifestFiles(dir: String, t: ColumnarMergeTree): Seq[String] =
    t.parts.flatMap(p => MergeTreePartition.parquetFiles(Paths.get(dir, p.dir)))

  private def splitFiles(splits: Array[InputPartition]): Seq[Array[String]] =
    splits.toSeq.map { case MergeTreePartition(fs) => fs }

  test("small parts pack into Spark-sized splits of consecutive files in manifest order") {
    val (dir, t) = mkTable("split_pack_")
    val files = manifestFiles(dir, t)
    assert(t.parts.size == nParts && files.size == nParts,
      s"expected $nParts one-file parts, got ${t.parts.size} parts / ${files.size} files")
    val splits = overBudget(files)(splitFiles(planned(dir)))
    val par = spark.sparkContext.defaultParallelism
    assert(splits.size > 1 && splits.size <= par + 1,
      s"$nParts small files must pack into 2..${par + 1} splits, got ${splits.size}")
    assert(splits.forall(_.nonEmpty))
    // Every file in exactly one split, and the splits concatenated list
    // the files in manifest order.
    assert(splits.flatten == files)

    // SELECT * returns the table's rows in manifest (here: key) order.
    val got = overBudget(files)(sql(dir, "*").collect().toSeq)
    val want = t.scan().collect().toSeq
    assert(got.size == nParts * rowsPerPart)
    assert(got.sortBy(_.getLong(0)) == want.sortBy(_.getLong(0)),
      "same rows as ColumnarMergeTree.scan()")
    assert(got == want.sortBy(_.getLong(0)),
      "an unordered scan returns rows in manifest order")

    // Spark's own split-size setting governs the packing: a 1-byte split
    // size gives every file its own split.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      val one = overBudget(files)(splitFiles(planned(dir)))
      assert(one.map(_.toSeq) == files.map(Seq(_)))
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("pending lightweight mutations keep the per-file row splits") {
    val (dir, t) = mkTable("split_mut_")
    t.deleteLightweight(col("k") % 7 === 0)
    val splits = planned(dir)
    assert(splits.length == nParts, s"one split per file, got ${splits.length}")
    assert(splits.forall(_.isInstanceOf[MergeTreeMutPartition]))
    assert(splits.map(_.asInstanceOf[MergeTreeMutPartition].file).toSeq ==
      manifestFiles(dir, t))
    val n = sql(dir, "count(*)").collect().head.getLong(0)
    assert(n == (0L until nParts * rowsPerPart).count(_ % 7 != 0))
  }

  test("a count(*) over 20 small parts runs about defaultParallelism scan tasks") {
    val (dir, t) = mkTable("split_tasks_")
    val group = s"split-tasks-${java.util.UUID.randomUUID()}"
    // (stage id, tasks) of every stage in the group that reads the source
    val scanStages = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (Option(s.properties).exists(_.getProperty("spark.jobGroup.id") == group) &&
            s.stageInfo.rddInfos.exists(_.name.contains("DataSourceRDD"))) {
          scanStages.put(s.stageInfo.stageId, s.stageInfo.numTasks); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      val n = try overBudget(manifestFiles(dir, t))(sql(dir, "count(*)").collect().head.getLong(0))
        finally spark.sparkContext.clearJobGroup()
      assert(n == nParts * rowsPerPart)
      Thread.sleep(500) // listener events post asynchronously
      val par = spark.sparkContext.defaultParallelism
      assert(scanStages.size == 1, s"one scan stage, got $scanStages")
      val tasks = scanStages.values.iterator.next()
      assert(tasks > 1 && tasks <= par + 1,
        s"scan stage ran $tasks tasks over $nParts parts")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("interleaved parquet readers keep their own predicates; the shared conf stays clean") {
    val dir = Files.createTempDirectory("split_rg_").toString
    val df = spark.range(0, 4000).select(col("id").as("k"), (col("id") * 3).as("v"))
    val t = ColumnarMergeTree.create(spark, dir, df.schema, orderBy = Seq("k"),
      config = MergeTreeConfig(granuleSize = 1000))
    t.insertBatch(df, partitions = 1)
    val file = manifestFiles(dir, t).head
    val groups = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file), HadoopConf.copy()))
      try r.getFooter.getBlocks.size finally r.close()
    }
    assert(groups == 4, s"expected 4 row groups of 1000 rows, got $groups")

    def range(lo: Long, hi: Long) = Some(FilterApi.and(
      FilterApi.gtEq(FilterApi.longColumn("k"), java.lang.Long.valueOf(lo)),
      FilterApi.ltEq(FilterApi.longColumn("k"), java.lang.Long.valueOf(hi))))
    val kOnly = StructType.fromDDL("k BIGINT")
    val a = new ParquetColumnarReader(file, kOnly, range(0, 999))
    val b = new ParquetColumnarReader(file, df.schema, range(2000, 2999))
    // Opened after both: if either predicate had leaked into shared state,
    // this unfiltered reader would skip row groups.
    val c = new ParquetColumnarReader(file, kOnly, None)
    val keys = Seq(a, b, c).map(_ => scala.collection.mutable.ArrayBuffer.empty[Long])
    var live = Seq(a, b, c).zipWithIndex
    try {
      while (live.nonEmpty) {
        live = live.filter { case (r, i) =>
          val more = r.next()
          if (more) {
            val batch = r.get()
            (0 until batch.numRows).foreach(j => keys(i) += batch.column(0).getLong(j))
          }
          more
        }
      }
    } finally Seq(a, b, c).foreach(_.close())
    assert(keys(0) == (0L until 1000L))
    assert(keys(1) == (2000L until 3000L))
    assert(keys(2) == (0L until 4000L))
    val shared = HadoopConf.copy()
    assert(shared.get(ParquetInputFormat.FILTER_PREDICATE) == null)
    assert(shared.get("org.apache.spark.sql.parquet.row.requested_schema") == null)
  }
}
