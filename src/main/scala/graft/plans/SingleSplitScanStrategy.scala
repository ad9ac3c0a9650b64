package graft.plans

import graft.sources.SingleSplitScan

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation,
  DataSourceV2Strategy}
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Plans a mergetree scan that decided on one split
  * ([[graft.sources.SingleSplitScan]]) through Spark's own
  * `DataSourceV2Strategy`, then wraps its `BatchScanExec` in
  * [[SinglePartitionScanExec]]. DSv2's `Partitioning` API has no
  * single-partition form and `BatchScanExec` reports
  * `UnknownPartitioning(0)` even for one split, so without the wrapper
  * `EnsureRequirements` puts an exchange under every aggregate, sort,
  * window and join above a small read. Runtime filters stay on the inner
  * `BatchScanExec`; any other scan falls through to Spark's planning. A
  * query whose every scan is wrapped so then runs on the driver with no
  * Spark job ([[DriverLocalStrategy]]). Injected by `GraftExtensions`.
  */
case class SingleSplitScanStrategy(session: SparkSession) extends SparkStrategy {

  private lazy val dsv2 = new DataSourceV2Strategy(
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession])

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(_, _, r: DataSourceV2ScanRelation) if (r.scan match {
          case s: SingleSplitScan => s.singleSplit
          case _                  => false
        }) =>
      dsv2(plan).map(_.transformUp { case b: BatchScanExec => SinglePartitionScanExec(b) })
    case _ => Nil
  }
}

/** A one-split DSv2 scan reported as `SinglePartition`, which satisfies
  * every distribution but a broadcast: the operators above it plan no
  * exchange and run in the scan's task. Rows and batches pass through.
  */
case class SinglePartitionScanExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def supportsColumnar: Boolean = child.supportsColumnar
  override def vectorTypes: Option[Seq[String]] = child.vectorTypes
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = child.executeColumnar()
  override protected def withNewChildInternal(newChild: SparkPlan): SinglePartitionScanExec =
    copy(child = newChild)
}
