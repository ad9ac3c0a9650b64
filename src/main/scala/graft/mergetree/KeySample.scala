package graft.mergetree

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** Per-part key sample (`keysample.json`, written into the part dir before
  * it is claimed, so it is atomic with the part itself).
  *
  * ~256 evenly-spaced keys from the part's sorted run = the key at every
  * rows/256-th rank — a quantile sketch of the PART, exact to one stride.
  * The sparse index (row-group min/max) cannot play this role on an
  * unclustered table: every part spans the whole key space with the same
  * distribution, so all parts' row-group boundaries collapse onto ~3
  * distinct percentile positions and no amount of footer math can cut
  * balanced range partitions from them (measured: a footer-only bounds
  * pass put 73% of a scan's rows into one partition; see
  * rangeSplitBounds). The sample costs nothing at memtable flush (rows are
  * in driver memory), one decimated column-pruned read at batch-part
  * write, and zero I/O at merge (input samples re-quantile into the
  * output's). ClickHouse's primary.idx is the same idea at granule rank;
  * per-part quantile samples survive part overlap, which is exactly where
  * granule bounds stop helping.
  */
private[graft] object KeySample {

  /** Leading underscore: Spark's file index skips `_`/`.`-prefixed files,
    * so the sidecar never surfaces in `spark.read.parquet(partDir)`.
    */
  val FileName = "_keysample.json"

  /** Sample width: 256 keys bounds the rank error at rows/256 per part —
    * ~0.4% of a part per split key, far inside the exchange's balance
    * tolerance — while keeping the sidecar ≈ a few KB.
    */
  val Size = 256

  final case class Sample(rows: Long, keys: Seq[String])

  /** Evenly-spaced picks (always including first and last) from a sorted
    * run already in memory — the flush path.
    */
  def evenly(sortedKeys: scala.collection.IndexedSeq[String], n: Int = Size): Seq[String] = {
    if (sortedKeys.isEmpty) return Nil
    val m = math.min(n, sortedKeys.length)
    (0 until m).map(i => sortedKeys(((sortedKeys.length - 1).toLong * i / math.max(1, m - 1)).toInt))
  }

  /** Weighted n-quantile keys of a (key, weight) multiset — used to fold
    * merge-input samples into the merged part's sample without touching
    * data. Points need not be pre-sorted.
    */
  def quantiles(points: Seq[(String, Double)], n: Int = Size): Seq[String] = {
    if (points.isEmpty) return Nil
    val sorted = points.sortBy(_._1)(KeyOrder.ordering)
    val total = sorted.iterator.map(_._2).sum
    if (total <= 0) return Nil
    val out = new ArrayBuffer[String](n)
    var cum = 0.0
    var k = 0
    sorted.foreach { case (key, w) =>
      cum += w
      while (k < n && cum >= total * (k + 0.5) / n) { out += key; k += 1 }
    }
    out.toSeq
  }

  /** n-way weighted split keys: the n−1 ascending bounds at the k/n
    * quantiles of a (key, weight) multiset (deduped — may return fewer).
    * Shared by the scan-side range exchange and the learned-bounds write
    * path.
    */
  def splitBounds(points: Seq[(String, Double)], n: Int): Seq[String] =
    splitBoundsGeneric(points, n)(KeyOrder.ordering)

  /** Append/monotonic-ingest detector — both engines' guard on learned
    * write bounds. `parts` are (minKey, maxKey, creationTime, partId) with
    * keys ordered by `cmp`. True when each of the (up to 3) most recently
    * created parts begins at or above the max key of everything created
    * before it. Random or stationary ingest breaks the staircase
    * immediately (every batch part spans the key space); compaction can
    * fake at most one step (bins are key-contiguous), so a single random
    * batch after an optimize resets the signal — worst case one extra
    * sampling pass per compaction cycle. Null part bounds (incomplete
    * footer stats) or keys `cmp` cannot parse can't tell: not a staircase,
    * keep the learned path.
    */
  def ingestStaircase(parts: Seq[(String, String, Long, Long)])(
      cmp: (String, String) => Int): Boolean = {
    if (parts.size < 2) return false
    if (parts.exists(p => p._1 == null || p._2 == null)) return false
    try {
      val byTime = parts.sortBy(p => (p._3, p._4))
      val from = math.max(1, byTime.size - 3)
      var olderMax = byTime.head._2
      var i = 1
      while (i < from) {
        if (cmp(byTime(i)._2, olderMax) > 0) olderMax = byTime(i)._2
        i += 1
      }
      var stair = true
      while (i < byTime.size) {
        val (lo, hi, _, _) = byTime(i)
        if (cmp(lo, olderMax) < 0) stair = false
        if (cmp(hi, olderMax) > 0) olderMax = hi
        i += 1
      }
      stair
    } catch { case _: NumberFormatException => false }
  }

  /** splitBounds in the KEY TYPE's own order for canonically-encoded
    * numeric points ("10" must sort after "9") — the write-side learned
    * bounds on tables ordered by a numeric lead key.
    */
  def splitBoundsTyped(points: Seq[(String, Double)], n: Int,
      dt: org.apache.spark.sql.types.DataType): Seq[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => splitBounds(points, n)
      case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType =>
        splitBoundsGeneric(points.map { case (k, w) => (k.toLong, w) }, n)
          .map(_.toString)
      case FloatType | DoubleType =>
        splitBoundsGeneric(points.map { case (k, w) => (k.toDouble, w) }, n)
          .map(_.toString)
      case _ => Nil
    }
  }

  private def splitBoundsGeneric[T](points: Seq[(T, Double)], n: Int)
      (implicit ord: Ordering[T]): Seq[T] = {
    if (points.isEmpty || n <= 1) return Nil
    val sorted = points.sortBy(_._1)
    val total = sorted.iterator.map(_._2).sum
    if (total <= 0) return Nil
    val bounds = new ArrayBuffer[T]()
    var cum = 0.0
    var k = 1
    sorted.foreach { case (key, w) =>
      while (k < n && cum >= total * k / n) {
        if (bounds.isEmpty || ord.gt(key, bounds.last)) bounds += key
        k += 1
      }
      cum += w
    }
    bounds.toSeq
  }

  def write(partDir: Path, sample: Sample): Unit = {
    import org.json4s.DefaultFormats
    import org.json4s.jackson.Serialization
    implicit val formats: org.json4s.Formats = DefaultFormats
    Files.writeString(partDir.resolve(FileName), Serialization.write(sample))
  }

  def load(partDir: String): Option[Sample] =
    scala.util.Try(MetaFiles.readJson[Sample](Paths.get(partDir, FileName))).toOption.flatten

  /** Driver-side ceiling for post-write sampling: reading the key column
    * of a bigger part on the driver would make the write path
    * driver-bound; such parts simply carry no sample and queries fall
    * back to granule bounds for them (per-part decision, mixed tables
    * fine).
    */
  val MaxDriverSampleRows = 4L * 1024 * 1024

  /** Decimated key-column read of a just-written part (column-pruned
    * parquet-mr projection — value/timestamp pages are never touched).
    * Files within a part are range-partitioned, so reading them in name
    * order preserves nothing we rely on: keys are re-sorted.
    */
  def fromPartDir(conf: Configuration, dir: String, rows: Long): Option[Sample] = {
    if (rows <= 0 || rows > MaxDriverSampleRows) return None
    val files = PartStats.parquetFiles(Paths.get(dir))
    val stride = math.max(1L, rows / Size)
    val keys = new ArrayBuffer[String]()
    val projConf = new Configuration(conf)
    projConf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      "message keysample { optional binary key (UTF8); }")
    try {
      files.foreach { f =>
        val reader = ParquetReader
          .builder[org.apache.parquet.example.data.Group](
            new GroupReadSupport(), new HPath(f.toString))
          .withConf(projConf)
          .build()
        try {
          var i = 0L
          var g = reader.read()
          while (g != null) {
            if (i % stride == 0) keys += g.getString("key", 0)
            i += 1
            g = reader.read()
          }
        } finally reader.close()
      }
    } catch { case _: Exception => return None } // sample is best-effort
    if (keys.isEmpty) None
    else Some(Sample(rows, evenly(keys.sortInPlace()(KeyOrder.ordering), Size)))
  }

  /** Executor-side decimated sample for parts past the driver ceiling
    * (rows > MaxDriverSampleRows): one column-pruned DISTRIBUTED read of
    * the fresh part, thinned to ≤ ~64k keys before the collect, then
    * quantiled down to Size on the driver. Keeps every part
    * sample-carrying at any size — without it, a part born large stayed
    * sampleless for life, its merged descendants inherited that (see
    * sampleHintOf), and rangeSplitBounds degraded to endpoint masses
    * forever (r14 advice). Cost: one bounded scan of the NEW part's key
    * column only, on the write path that just produced it.
    */
  def fromPartDirDistributed(spark: org.apache.spark.sql.SparkSession,
      dir: String, rows: Long): Option[Sample] = {
    if (rows <= 0) return None
    val cap = 64 * 1024
    val frac = math.min(1.0, cap.toDouble / rows)
    try {
      val keys = spark.read.parquet(dir).select("key")
        .sample(withReplacement = false, frac, seed = 42L)
        .collect().map(_.getString(0))
      if (keys.isEmpty) None
      else Some(Sample(rows, evenly(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(
          keys.sorted(KeyOrder.ordering)), Size)))
    } catch { case _: Exception => None } // sample is best-effort
  }
}
