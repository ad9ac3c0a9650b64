package graft

import graft.mergetree.{ColumnarMergeTree, HadoopConf, MergeTreeConfig, MergeTreeTable, PartStats}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The one footer-statistics reader (`PartStats.footers`) and its
  * partial-stats rule, on part directories written by hand with parquet-mr,
  * plus the regrowth guard that keeps footer reads and part-file listing
  * in one place.
  */
class PartStatsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  private val kvSchema =
    """message kv {
      |  required binary key (UTF8);
      |  required binary value (UTF8);
      |  required int64 timestamp;
      |}""".stripMargin

  /** Writes `rows` (column name → value; absent = null) to `file`, cutting
    * a row group every `groupRows` rows.
    */
  private def writeFile(file: Path, schema: String, groupRows: Int,
      rows: Seq[Map[String, Any]]): Unit = {
    val mt = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new HPath(file.toString))
      .withConf(HadoopConf.copy())
      .withType(mt)
      .withRowGroupRowCountLimit(groupRows)
      .build()
    val factory = new SimpleGroupFactory(mt)
    try rows.foreach { r =>
      val g = factory.newGroup()
      r.foreach {
        case (c, s: String) => g.append(c, s)
        case (c, l: Long)   => g.append(c, l)
        case (c, d: Double) => g.append(c, d)
        case (c, v)         => throw new IllegalArgumentException(s"$c = $v")
      }
      w.write(g)
    } finally w.close()
  }

  private def kv(key: String, ts: Long): Map[String, Any] =
    Map("key" -> key, "value" -> "v", "timestamp" -> ts)

  private def tempDir(prefix: String): Path = Files.createTempDirectory(prefix)

  test("a key past the 4096-byte stats cap leaves the KV part unbounded, ts exact") {
    val dir = tempDir("partstats_cap_")
    val long = "m" + "x" * 5000
    // Three row groups of two rows: [a0, a1], [long, n0], [z0, z1].
    writeFile(dir.resolve("f0.parquet"), kvSchema, 2,
      Seq(kv("a0", 5), kv("a1", 6), kv(long, 7), kv("n0", 8), kv("z0", 9), kv("z1", 10)))
    try {
      val conf = HadoopConf.copy()
      val s = PartStats.readDir(conf, dir.toString)
      assert(s.minKey == null && s.maxKey == null, s"partial key stats bounded the part: $s")
      assert((s.minTs, s.maxTs, s.rows, s.rowGroups) == ((5L, 10L, 6L, 3L)))
      // What keyRanges returned: one (min, max, rows) per populated row
      // group, nulls where the group carries no key stats.
      val expected = Seq(("a0", "a1", 2L), (null, null, 2L), ("z0", "z1", 2L))
      assert(PartStats.colRanges(conf, dir.toString, "key") == expected)
      assert(PartStats.footers(conf, dir.toString, Seq("key")).bounds("key").isEmpty)
    } finally MergeTreeTable.deleteRecursively(dir)
  }

  test("a 0-row file is ignored; all-null and NaN row groups give no bound") {
    val dir = tempDir("partstats_rules_")
    val schema =
      """message t {
        |  required int64 k;
        |  optional binary s (UTF8);
        |  optional double d;
        |}""".stripMargin
    writeFile(dir.resolve("empty.parquet"), schema, 2, Nil)
    // Groups: [k 1..2, s set, d NaN-only], [k 3..4, s null, d finite].
    writeFile(dir.resolve("f1.parquet"), schema, 2, Seq(
      Map("k" -> 1L, "s" -> "b", "d" -> Double.NaN), Map("k" -> 2L, "s" -> "c", "d" -> Double.NaN),
      Map("k" -> 3L, "d" -> 1.5), Map("k" -> 4L, "d" -> 2.5)))
    // A file whose groups all carry every bound.
    val full = tempDir("partstats_full_")
    writeFile(full.resolve("f.parquet"), schema, 2, Seq(
      Map("k" -> 10L, "s" -> "x", "d" -> -1.0), Map("k" -> 11L, "s" -> "y", "d" -> 4.0)))
    try {
      val conf = HadoopConf.copy()
      val f = PartStats.footers(conf, dir.toString, Seq("k", "s", "d"))
      assert(f.files == 2 && f.groups.map(_.rows) == Seq(2L, 2L) && f.rows == 4L,
        s"the 0-row file must add no row group: $f")
      assert(f.bounds("k") == Some(PartStats.Bound(1L, 4L)))
      assert(f.bounds("s").isEmpty, "an all-null row group must leave s unbounded")
      assert(f.bounds("d").isEmpty, "a NaN row group must leave d unbounded")
      assert(f.ranges("d") == Seq((null, null, 2L), ("1.5", "2.5", 2L)))
      assert(f.ranges("s") == Seq(("b", "c", 2L), (null, null, 2L)))
      val g = PartStats.footers(conf, full.toString, Seq("k", "s", "d"))
      assert(g.bounds("s") == Some(PartStats.Bound("x", "y")))
      assert(g.bounds("d") == Some(PartStats.Bound(-1.0, 4.0)))
      // A directory holding only a 0-row file: no bound, one granule.
      val e = tempDir("partstats_empty_")
      try {
        Files.move(dir.resolve("empty.parquet"), e.resolve("empty.parquet"))
        val z = PartStats.footers(conf, e.toString, Seq("k"))
        assert(z.rows == 0L && z.rowGroups == 1L && z.bounds("k").isEmpty)
      } finally MergeTreeTable.deleteRecursively(e)
    } finally Seq(dir, full).foreach(MergeTreeTable.deleteRecursively)
  }

  test("generic engine: stats-cap and NaN row groups record no minmax entry") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("partstats_minmax_").toString
    val schema = new StructType().add("k", "long").add("d", "double").add("s", "string")
      .add("n", "long")
    val t = ColumnarMergeTree.create(spark, dir, schema, orderBy = Seq("k"),
      config = MergeTreeConfig(granuleSize = 2, minmaxColumns = Seq("d", "s", "n")))
    try {
      // One part, row groups of two rows: a NaN in d and a past-the-cap s.
      t.insertBatch(Seq(
        (1L, 1.0, "a", 10L), (2L, Double.NaN, "b", 11L),
        (3L, 3.0, "c" + "x" * 5000, 12L), (4L, 4.0, "d", 13L)).toDF("k", "d", "s", "n")
        .coalesce(1), partitions = 1)
      val p = ColumnarMergeTree.GManifest.load(dir).get.parts.head
      assert((p.minKey, p.maxKey, p.rowCount, p.granuleCount) == (("1", "4", 4L, 2L)))
      assert(p.colStats.toList.flatten ==
        List(ColumnarMergeTree.GColStat("n", "10", "13", "long")),
        s"only n has complete bounds: ${p.colStats}")
    } finally {
      t.shutdown()
      MergeTreeTable.deleteRecursively(Paths.get(dir))
    }
  }

  test("footer reads and part-file listing each have one site in src/main") {
    val root = Paths.get("src/main/scala").toAbsolutePath
    assert(Files.isDirectory(root), s"run from the build's base directory: no $root")
    def count(under: Path, needle: String): Map[String, Int] = {
      val walk = Files.walk(under)
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map { f =>
          val code = Files.readAllLines(f).asScala.map(_.trim)
            .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
            .map(l => l.indexOf("//") match { case -1 => l; case i => l.take(i) })
          root.relativize(f).toString -> code.map(_.split(java.util.regex.Pattern.quote(needle), -1).length - 1).sum
        }
        .filter(_._2 > 0).toMap
      finally walk.close()
    }
    val footerReads = count(root, "ParquetFileReader.open")
    assert(footerReads == Map("graft/mergetree/PartStats.scala" -> 1),
      s"parquet footers opened outside PartStats.footers: $footerReads")
    val listings = Seq("graft/mergetree", "graft/sources")
      .map(d => count(root.resolve(d), "endsWith(\".parquet\")"))
      .reduce(_ ++ _)
    assert(listings == Map("graft/mergetree/PartStats.scala" -> 1),
      s"part files listed outside PartStats.parquetFiles: $listings")
  }
}
