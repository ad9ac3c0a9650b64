package graft

import graft.mergetree.{KVRow, Manifest, MergeTreeTable}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The KV table's SQL writes are `MergeTreeTable.insertBatch`: each
  * non-empty write lands one part carrying what an API-written part carries
  * (the key sample included), an empty one lands none, and overwrite is
  * refused before anything is written.
  */
class KvSqlWriteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  private def tree(dir: Path): Seq[String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.map(p => dir.relativize(p).toString).toList.sorted
    finally s.close()
  }

  private def assertOnePartWithSample(dir: String, rows: Long): Unit = {
    val parts = Manifest.load(dir).get.parts
    assert(parts.size == 1 && parts.head.rowCount == rows, s"expected one part: $parts")
    val partDir = Paths.get(dir, s"part_${parts.head.partId}")
    assert(Files.exists(partDir.resolve("_keysample.json")),
      s"SQL-written part has no key sample: ${tree(partDir)}")
  }

  test("INSERT INTO a KV catalog table lands one part with a key sample") {
    val dir = Files.createTempDirectory("kv_sql_insert_").toString
    spark.sql("DROP TABLE IF EXISTS kv_sql_insert")
    spark.sql(s"CREATE TABLE kv_sql_insert USING mergetree LOCATION '$dir'")
    try {
      spark.sql("""INSERT INTO kv_sql_insert VALUES
        ('b', 'v2', CAST(2 AS BIGINT)), ('a', 'v1', CAST(1 AS BIGINT)),
        ('c', 'v3', CAST(3 AS BIGINT))""")
      assertOnePartWithSample(dir, 3L)
      val p = Manifest.load(dir).get.parts.head
      assert((p.minKey, p.maxKey, p.minTimestamp, p.maxTimestamp) == (("a", "c", 1L, 3L)))
      val t = MergeTreeTable.open(spark, dir)
      try assert(t.queryRows("a", "z").toList ==
        List(KVRow("a", "v1", 1L), KVRow("b", "v2", 2L), KVRow("c", "v3", 3L)))
      finally t.shutdown()
    } finally spark.sql("DROP TABLE IF EXISTS kv_sql_insert")
  }

  test("DataFrame append lands one part with a key sample; empty append and overwrite write nothing") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("kv_sql_append_").toString
    val rows = (0 until 200).map(i => KVRow(f"k$i%04d", s"v$i", i.toLong)).toDF()
    rows.write.format("mergetree").mode("append").save(dir)
    assertOnePartWithSample(dir, 200L)
    // An empty append lands no part.
    rows.limit(0).write.format("mergetree").mode("append").save(dir)
    assertOnePartWithSample(dir, 200L)
    val before = tree(Paths.get(dir))
    val manifest = Manifest.load(dir)
    intercept[Exception] {
      rows.write.format("mergetree").mode("overwrite").save(dir)
    }
    assert(tree(Paths.get(dir)) == before, "a refused overwrite must not touch the table")
    assert(Manifest.load(dir) == manifest)
    assert(spark.read.format("mergetree").load(dir).count() == 200L)
  }
}
