package graft.mergetree

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.api.Binary

import java.nio.file.Paths
import scala.collection.mutable.ArrayBuffer

/** Driver-local read of one KV part directory (the small-query
  * short-circuit's data path — see `MergeTreeConfig.localScanMaxRows`).
  * Applies the key range as a parquet FilterPredicate, so row groups outside
  * the range are skipped exactly like the distributed scan's pushed filter
  * (O7 granule pruning) and surviving rows are re-checked record-level by
  * parquet-mr. A part is a directory: it may hold N files when written by N
  * executors.
  */
private[mergetree] object LocalPartReader {

  def read(dir: String, range: Option[(String, String)]): Seq[KVRow] = {
    val files = PartStats.parquetFiles(Paths.get(dir))
    if (files.isEmpty) return Nil
    val filter: Option[FilterPredicate] = range.map { case (lo, hi) =>
      FilterApi.and(
        FilterApi.gtEq(FilterApi.binaryColumn("key"), Binary.fromString(lo)),
        FilterApi.ltEq(FilterApi.binaryColumn("key"), Binary.fromString(hi)))
    }
    val out = new ArrayBuffer[KVRow]()
    files.foreach { f =>
      val b = ParquetReader
        .builder[Group](new GroupReadSupport(), new HPath(f.toString))
        .withConf(MergeTreeTable.localFlushConf)
      val reader = filter.fold(b)(p => b.withFilter(FilterCompat.get(p))).build()
      try {
        var g = reader.read()
        while (g != null) {
          out += KVRow(g.getString("key", 0), g.getString("value", 0),
            g.getLong("timestamp", 0))
          g = reader.read()
        }
      } finally reader.close()
    }
    out.toSeq
  }
}
