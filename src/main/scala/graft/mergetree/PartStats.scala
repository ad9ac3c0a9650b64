package graft.mergetree

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Aggregated parquet-footer statistics for one KV part directory.
  *
  * This replaces the reference's post-write metadata computation
  * (src/part.cpp:125-161) AND round 1's second read-scan of every freshly
  * written part: parquet already persists per-row-group min/max/count in the
  * file footers, so part metadata is a footer-only read — O(files) tiny I/O
  * on the driver, no Spark job. At 100 TB this is the difference between
  * "write path = 1× data I/O" and "write path = 2× data I/O".
  *
  * `rowGroups` is the real granule count: with
  * `parquet.block.row.count.limit = granuleSize` each row group holds at most
  * granuleSize rows, mirroring the reference's 8192-row granule
  * (src/granule.h:10); the footer row-group stats ARE the sparse index
  * (src/sparse_index.h:9-22).
  *
  * The companion object is the one place either engine opens a parquet
  * footer ([[PartStats.footers]]) or lists a part's parquet files
  * ([[PartStats.parquetFiles]]). `minKey`/`maxKey` are null and the
  * timestamp range is widened to `[Long.MinValue, Long.MaxValue]` when the
  * footers carry no complete bound for the column (see [[Footers.bounds]]).
  */
case class PartStats(
    minKey: String,
    maxKey: String,
    minTs: Long,
    maxTs: Long,
    rows: Long,
    rowGroups: Long)

object PartStats {

  /** One column's footer min/max in one row group. Binary stats are
    * decoded as UTF-8 strings; numbers stay boxed as parquet-mr returns
    * them (Integer, Long, Float, Double).
    */
  final case class Bound(lo: Any, hi: Any) {
    /** "string", "long" (integral numbers), "double" (floating point) or
      * "other" (e.g. boolean, which no caller bounds on).
      */
    def kind: String = lo match {
      case _: String                                => "string"
      case _: java.lang.Double | _: java.lang.Float => "double"
      case _: Number                                => "long"
      case _                                        => "other"
    }
  }

  /** One populated row group: its rows and the requested columns that
    * carry a usable bound in it.
    */
  final case class RowGroup(rows: Long, bounds: Map[String, Bound])

  /** The populated row groups of one part directory, in file-list then
    * footer order, plus how many parquet files the directory holds.
    */
  final case class Footers(files: Int, groups: Seq[RowGroup]) {
    def rows: Long = groups.iterator.map(_.rows).sum

    /** Granule count; an all-empty part still counts one. */
    def rowGroups: Long = math.max(1L, groups.size.toLong)

    /** The part-wide bound of `col`, under the partial-stats rule: None
      * unless EVERY populated row group has a bound of one kind. Bounds
      * from partial stats would prune rows the stats-less groups hold
      * (parquet-mr omits binary min/max past its 4096-byte footer stats
      * cap, so long string keys trigger this; all-null groups carry none;
      * a NaN double bound is dropped per group, see [[footers]]), so the
      * part is unbounded instead. Correctness never depends on pruning.
      * Strings fold in UTF-8 byte order ([[KeyOrder]]), longs and doubles
      * numerically; the result is a String, java.lang.Long or
      * java.lang.Double pair.
      */
    def bounds(col: String): Option[Bound] = {
      val bs = groups.map(_.bounds.get(col))
      if (bs.isEmpty || bs.exists(_.isEmpty)) return None
      val all = bs.flatten
      val kind = all.head.kind
      if (all.exists(_.kind != kind)) None
      else kind match {
        case "string" =>
          Some(Bound(all.map(_.lo.toString).reduce(KeyOrder.min),
            all.map(_.hi.toString).reduce(KeyOrder.max)))
        case "long" =>
          val lo: Long = all.map(b => num(b.lo).longValue).reduce((x, y) => math.min(x, y))
          val hi: Long = all.map(b => num(b.hi).longValue).reduce((x, y) => math.max(x, y))
          Some(Bound(java.lang.Long.valueOf(lo), java.lang.Long.valueOf(hi)))
        case "double" =>
          val lo: Double = all.map(b => num(b.lo).doubleValue).reduce((x, y) => math.min(x, y))
          val hi: Double = all.map(b => num(b.hi).doubleValue).reduce((x, y) => math.max(x, y))
          Some(Bound(java.lang.Double.valueOf(lo), java.lang.Double.valueOf(hi)))
        case _ => None
      }
    }

    /** Per-row-group (min, max, rows) of `col`, CANONICALLY string-encoded
      * per the parquet physical type (Binary→UTF-8, numerics→toString — the
      * encoding BoundedRangeRepartition's bound lists decode). Groups
      * without a bound report nulls (callers treat them as always
      * overlapping: an estimate from partial stats must never UNDER-count).
      */
    def ranges(col: String): Seq[(String, String, Long)] =
      groups.map(g => g.bounds.get(col) match {
        case Some(b) => (String.valueOf(b.lo), String.valueOf(b.hi), g.rows)
        case None    => (null, null, g.rows)
      })
  }

  private def num(v: Any): Number = v.asInstanceOf[Number]

  /** One pass over the footers of every parquet file in `dir`
    * (non-recursive), keeping the bounds of `cols`. Row groups with no
    * rows (a 0-row file has none at all) are skipped. A column whose stats
    * are absent, all-null, or carry a NaN double bound (NaN poisons min/max
    * folds and orders above +Inf) gets no bound in that group.
    */
  def footers(conf: Configuration, dir: String, cols: Seq[String]): Footers = {
    val wanted = cols.toSet
    val files = parquetFiles(Paths.get(dir))
    val groups = files.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f.toString), conf))
      try reader.getFooter.getBlocks.asScala.toList.filter(_.getRowCount > 0).map { block =>
        RowGroup(block.getRowCount, block.getColumns.asScala.flatMap { c =>
          val name = c.getPath.toDotString
          if (wanted(name)) boundOf(c.getStatistics).map(name -> _) else None
        }.toMap)
      }
      finally reader.close()
    }
    Footers(files.size, groups)
  }

  private def boundOf(s: Statistics[_]): Option[Bound] =
    if (s == null || !s.hasNonNullValue) None
    else {
      def decode(v: Any): Any = v match {
        case b: Binary => b.toStringUsingUTF8
        case other     => other
      }
      val b = Bound(decode(s.genericGetMin), decode(s.genericGetMax))
      if (b.kind == "double" && (num(b.lo).doubleValue.isNaN || num(b.hi).doubleValue.isNaN)) None
      else Some(b)
    }

  /** KV part metadata from the footers of every parquet file under `dir`:
    * the `key` range (UTF-8 order) and the `timestamp` range.
    */
  def readDir(conf: Configuration, dir: String): PartStats = {
    val f = footers(conf, dir, Seq("key", "timestamp"))
    require(f.files > 0, s"no parquet files in $dir")
    val key = f.bounds("key").filter(_.kind == "string")
    val ts = f.bounds("timestamp").filter(_.kind == "long")
    PartStats(
      key.map(_.lo.toString).orNull, key.map(_.hi.toString).orNull,
      ts.fold(Long.MinValue)(b => num(b.lo).longValue),
      ts.fold(Long.MaxValue)(b => num(b.hi).longValue),
      f.rows, f.rowGroups)
  }

  /** Per-row-group (min, max, rows) of `colName` across the part's files
    * (see [[Footers.ranges]]) — the sparse index itself, for granule-level
    * in-range row estimates and learned write bounds. Footer-only driver
    * I/O; parts are immutable, so callers may cache the result per part.
    */
  def colRanges(conf: Configuration, dir: String, colName: String): Seq[(String, String, Long)] =
    footers(conf, dir, Seq(colName)).ranges(colName)

  /** The parquet files of one part directory, in listing order (none if
    * the directory is gone). Sidecars (`_keysample.json`, skip-index files)
    * and dot-prefixed temps are not parquet and never listed.
    */
  def parquetFiles(dir: Path): List[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally s.close()
    }
}
