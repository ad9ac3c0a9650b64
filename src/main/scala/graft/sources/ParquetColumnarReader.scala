package graft.sources

import graft.mergetree.HadoopConf

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

import java.nio.file.{Files, Paths}

/** Columnar scan of one parquet file through Spark's own vectorized parquet
  * reader (the engine behind every built-in parquet scan) — the DSv2
  * connectors hand it the file plus the pruned column set and key-range
  * FilterPredicate, and it returns ColumnarBatches that flow into
  * whole-stage codegen exactly like a native `spark.read.parquet` scan.
  * Row groups failing the predicate are skipped via footer statistics
  * (granule pruning, O7); record-level filtering stays off because the scan
  * declares every filter residual — Spark re-evaluates them post-scan.
  */
private[sources] class ParquetColumnarReader(
    file: String,
    requiredSchema: StructType,
    filter: Option[FilterPredicate])
    extends PartitionReader[ColumnarBatch] {

  // Own copy of the JVM-wide defaults: the keys below are per file.
  private val conf = HadoopConf.jobConf()
  locally {
    // The two schema keys Spark's ParquetReadSupport contract requires
    // (requested projection + full row schema used for name resolution).
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    conf.set("org.apache.spark.sql.parquet.row.requested_schema", requiredSchema.json)
    conf.set("org.apache.spark.sql.parquet.row.attributes", requiredSchema.json)
    // ParquetToSparkSchemaConverter reads these session keys with NO
    // defaults (Spark normally copies the whole session conf into the
    // task's hadoopConf; a standalone reader must supply them).
    conf.set("spark.sql.parquet.binaryAsString", "false")
    conf.set("spark.sql.parquet.int96AsTimestamp", "true")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    conf.set("spark.sql.parquet.fieldId.read.enabled", "false")
    conf.set("spark.sql.caseSensitive", "false")
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.setBoolean(ParquetInputFormat.RECORD_FILTERING_ENABLED, false)
    filter.foreach(ParquetInputFormat.setFilterPredicate(conf, _))
  }

  private val reader = {
    // Parts are written by this engine (modern parquet, INT64 timestamps):
    // no legacy rebase applies — CORRECTED reads values as stored.
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */ 4096)
    // mapred.FileSplit (a mapreduce.lib.input.FileSplit subclass): Spark's
    // reader base downcasts the split to the mapred flavor.
    val split = new org.apache.hadoop.mapred.FileSplit(
      new HPath(file), 0, Files.size(Paths.get(file)), Array.empty[String])
    r.initialize(split, new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    r.initBatch(new StructType(), InternalRow.empty)
    r.enableReturningBatches()
    r
  }

  override def next(): Boolean = reader.nextKeyValue()

  override def get(): ColumnarBatch =
    reader.getCurrentValue.asInstanceOf[ColumnarBatch]

  override def close(): Unit = reader.close()
}

/** Sequential chain of per-file columnar readers — the reader behind every
  * split of a DSv2 scan: a [[MergeTreePartition]] (consecutive part files
  * packed to Spark's split size) or a [[MergeTreeGroupedPartition]] (one
  * storage partition value's files). Empty file lists yield an empty
  * partition.
  */
private[graft] class ChainedColumnarReader(
    files: Array[String],
    required: StructType,
    filter: Option[FilterPredicate])
    extends PartitionReader[ColumnarBatch] {

  private var i = 0
  private var cur: ParquetColumnarReader = _

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (i >= files.length) return false
        cur = new ParquetColumnarReader(files(i), required, filter)
        i += 1
      }
      if (cur.next()) return true
      cur.close(); cur = null
    }
    false // unreachable
  }

  override def get(): ColumnarBatch = cur.get()

  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}
