package graft

import graft.mergetree._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Granule fidelity (SURVEY §1.4): a parquet row group plays the role of
  * the reference's 8192-row granule (src/granule.h:10). The writer caps
  * row-group rows at config.granuleSize via parquet.block.row.count.limit;
  * the footers are the sparse index (min/max per row group == IndexEntry,
  * src/sparse_index.h:9-22). Verified by reading the footers back.
  */
class GranuleFidelitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  /** Every row group's row count across the part's files, empty ones
    * included: the footers as written, not as PartStats summarizes them.
    */
  private def rowGroupSizes(dir: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    PartStats.parquetFiles(java.nio.file.Paths.get(dir)).flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), spark.sessionState.newHadoopConf()))
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).toSeq
      finally r.close()
    }
  }

  test("row groups are capped at granuleSize and counted as granules") {
    val granule = 100
    val t = MergeTreeTable.create(spark,
      Files.createTempDirectory("mt_gran_").toString,
      MergeTreeConfig(granuleSize = granule))
    t.insertBatch(spark.range(1000).map(i => KVRow(f"g$i%05d", s"v$i", i)), 1)
    val part = t.parts.head
    val sizes = rowGroupSizes(s"${t.path}/part_${part.partId}")
    assert(sizes.sum == 1000)
    assert(sizes.forall(_ <= granule),
      s"row group exceeds granule cap: $sizes")
    assert(sizes.count(_ == granule) >= 9, s"expected ~10 full granules: $sizes")
    assert(part.granuleCount == sizes.length,
      "manifest granuleCount must equal actual row-group count")
    t.shutdown()
  }

  test("compression codec config reaches the part files") {
    val t = MergeTreeTable.create(spark,
      Files.createTempDirectory("mt_zstd_").toString,
      MergeTreeConfig(compression = "zstd"))
    t.insertBatch(spark.range(500).map(i => KVRow(f"c$i%04d", s"v$i" * 10, i)), 1)
    val dir = s"${t.path}/part_${t.parts.head.partId}"
    import scala.jdk.CollectionConverters._
    val codecs = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).flatMap { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toString),
            spark.sessionState.newHadoopConf()))
        try r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala.map(_.getCodec.name())).toList
        finally r.close()
      }.toSet
    assert(codecs == Set("ZSTD"), s"expected ZSTD part files, got $codecs")
    assert(t.query("c0000", "c0499").count() == 500) // still readable
    t.shutdown()
  }
}
