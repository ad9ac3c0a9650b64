package graft.plans

import graft.sources.SingleSplitScan

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, DynamicPruningSubquery, SortOrder,
  SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Command, LocalRelation, LogicalPlan,
  ReturnAnswer}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{InputAdapter, LeafExecNode, LocalTableScanExec,
  SQLExecution, SparkPlan, SparkStrategy, UnionExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.{CollectsOnDriver, DriverTask}

/** Plans a small query to run on the driver with no Spark job. Matches a
  * Dataset action's root (`ReturnAnswer`) when every leaf is a mergetree
  * scan that decided on one split ([[graft.sources.SingleSplitScan]]) or a
  * local relation, at least one such scan is present, and the plan has no
  * command, no streaming source and no subquery but dynamic pruning. The
  * query is then planned and prepared as usual minus AQE, and kept as the
  * inner plan of a [[DriverLocalExec]] leaf. Each broadcast build side of
  * one partition is wrapped in a `DriverLocalExec` too, so the dimension is
  * read on the driver and the join and its dynamic-pruning subquery share
  * that one build. The query is planned as before (AQE included) when the
  * prepared plan shuffles or computes more than one partition, e.g. a
  * union of two single-split scans. Injected by `GraftExtensions`.
  *
  * AQE stays off the inner plan because it has nothing to re-plan without
  * an exchange, and because `InsertAdaptiveSparkPlan` wraps every plan
  * that requires a distribution (each aggregate and global sort). A leaf
  * with an inner plan escapes it, as Spark's `CommandResultExec` does.
  */
case class DriverLocalStrategy(session: SparkSession) extends SparkStrategy {
  import DriverLocalStrategy._

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(child) if !planningInner.get && qualifies(child) =>
      planningInner.set(true)
      val inner = try DriverTask.prepare(session, child, buildOnDriver)
        finally planningInner.set(false)
      val shuffles = inner.collectFirstWithSubqueries { case s: ShuffleExchangeLike => s }
      if (shuffles.isEmpty && onePartition(inner)) DriverLocalExec(inner) :: Nil else Nil
    case _ => Nil
  }
}

object DriverLocalStrategy {

  /** Set while the inner plan is planned and prepared: the roots planned
    * meanwhile (the query's own, dynamic pruning's build side) plan as usual.
    */
  private val planningInner: ThreadLocal[Boolean] = ThreadLocal.withInitial(() => false)

  private def oneSplitScan(p: LogicalPlan): Boolean = p match {
    case r: DataSourceV2ScanRelation => r.scan match {
      case s: SingleSplitScan => s.singleSplit
      case _                  => false
    }
    case _ => false
  }

  private def qualifies(plan: LogicalPlan): Boolean = {
    val leaves = plan.collectLeaves()
    leaves.exists(oneSplitScan) &&
      leaves.forall(l => oneSplitScan(l) || l.isInstanceOf[LocalRelation]) &&
      !plan.isStreaming &&
      !plan.exists(p => p.isInstanceOf[Command] || p.expressions.exists(_.exists {
        case _: DynamicPruningSubquery => false
        case _: SubqueryExpression     => true
        case _                         => false
      }))
  }

  private def broadcast(p: SparkPlan): Boolean = p match {
    case _: BroadcastExchangeLike                          => true
    case ReusedExchangeExec(_, _: BroadcastExchangeLike) => true
    case InputAdapter(child)                               => broadcast(child)
    case _                                                 => false
  }

  /** True when `p`'s shape alone says it computes one partition: a
    * single-split scan or a one-row local scan does, a union (of two or
    * more) or an exchange does not, and any other operator does when all
    * its non-broadcast children do.
    */
  private def onePartition(p: SparkPlan): Boolean = p match {
    case _: SinglePartitionScanExec            => true
    case l: LocalTableScanExec                 => l.rows.size == 1
    case _: UnionExec | _: ShuffleExchangeLike => false
    case _ =>
      val each = p.children.filterNot(broadcast)
      each.nonEmpty && each.forall(onePartition)
  }

  /** Every broadcast whose build side computes one partition builds it on
    * the driver.
    */
  private def buildOnDriver(plan: SparkPlan): SparkPlan = plan.transformUpWithSubqueries {
    case b: BroadcastExchangeExec if onePartition(b.child) =>
      b.withNewChildren(Seq(DriverLocalExec(b.child)))
  }
}

/** A small query's prepared physical plan, run on the driver: the actions
  * (`executeCollect`, `executeTake`, `executeTail`, `executeToIterator`)
  * compute the inner plan's one partition in the calling thread as a task
  * would ([[org.apache.spark.sql.graft.DriverTask.run]]), so they start no
  * Spark job; as a broadcast's build side, it is what the broadcast
  * collects. `doExecute` returns the inner plan's RDD, so `.rdd`, caching
  * and writes run on the cluster as before. Should the inner RDD turn out
  * not to be one shuffle-free partition, the actions run it distributed.
  * EXPLAIN prints the inner plan under `DriverLocal`.
  */
case class DriverLocalExec(inner: SparkPlan) extends LeafExecNode with CollectsOnDriver {

  override def output: Seq[Attribute] = inner.output
  override def outputPartitioning: Partitioning = inner.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = inner.outputOrdering
  override def innerChildren: Seq[QueryPlan[_]] = Seq(inner)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = inner.execute()

  override def executeCollect(): Array[InternalRow] =
    onDriver(_.map(_.copy()).toArray).getOrElse(inner.executeCollect())

  override def executeTake(n: Int): Array[InternalRow] =
    if (n <= 0) Array.empty
    else onDriver(_.take(n).map(_.copy()).toArray).getOrElse(inner.executeTake(n))

  override def executeTail(n: Int): Array[InternalRow] =
    if (n <= 0) Array.empty else executeCollect().takeRight(n)

  override def executeToIterator(): Iterator[InternalRow] = executeCollect().iterator

  /** `rows` over the inner plan's partition, computed on the driver; None
    * when its RDD is not one partition free of shuffles.
    */
  private def onDriver(rows: Iterator[InternalRow] => Array[InternalRow])
      : Option[Array[InternalRow]] = {
    val rdd = inner.execute()
    if (!DriverTask.onePartitionNarrow(rdd)) None
    else {
      val out = DriverTask.run(rdd)(rows)
      longMetric("numOutputRows") += out.length
      Option(sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)).foreach(id =>
        SQLMetrics.postDriverMetricUpdates(sparkContext, id, metrics.values.toSeq))
      Some(out)
    }
  }

  override def resetMetrics(): Unit = {
    super.resetMetrics()
    inner.resetMetrics()
  }

  override protected def doCanonicalize(): SparkPlan = DriverLocalExec(inner.canonicalized)
}
