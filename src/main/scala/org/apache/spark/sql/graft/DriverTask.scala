package org.apache.spark.sql.graft

import org.apache.spark.{Dependency, Partition, ShuffleDependency, SparkEnv, SparkException,
  TaskContext, TaskContextImpl}
import org.apache.spark.internal.config.UNSAFE_EXCEPTION_ON_MEMORY_LEAK
import org.apache.spark.memory.{MemoryMode, TaskMemoryManager}
import org.apache.spark.rdd.{InputFileBlockHolder, RDD}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.reuse.ReuseExchangeAndSubquery
import org.apache.spark.util.Utils

import java.util.concurrent.atomic.AtomicLong

/** Bridge to the task machinery a driver-run partition needs
  * (`TaskContextImpl`, `TaskMemoryManager`, the block manager's per-task
  * locks, `QueryExecution`'s AQE-free preparation; all `private[spark]`
  * or `private[execution]`). Same pattern and rationale as
  * [[ColumnBridge]]: lives in the `org.apache.spark.sql` namespace solely
  * to satisfy the access qualifiers; nothing is modified or shadowed. Used
  * by `graft.plans.DriverLocalExec`.
  */
object DriverTask {

  /** Attempt ids for driver-run tasks: negative, so they never collide
    * with the scheduler's (which count up from 0) nor with the block
    * manager's non-task writer (-1024).
    */
  private val nextAttemptId = new AtomicLong(-2048L)

  /** Execution memory that driver-run tasks left allocated when they
    * ended, freed by force at the end (an executor logs it as a leak).
    */
  val leakedBytes = new AtomicLong(0L)

  /** The physical plan of query `plan`, prepared as Spark prepares a
    * subquery (subqueries, exchanges, codegen; no AQE), then `rewrite`,
    * then exchange and subquery reuse.
    */
  def prepare(session: SparkSession, plan: LogicalPlan, rewrite: SparkPlan => SparkPlan)
      : SparkPlan = {
    val s = session.asInstanceOf[classic.SparkSession]
    val prepared = QueryExecution.prepareExecutedPlan(
      s, QueryExecution.createSparkPlan(s.sessionState.planner, plan))
    ReuseExchangeAndSubquery(rewrite(prepared))
  }

  /** True when `rdd` is one partition computed from its inputs alone: no
    * shuffle anywhere in its lineage.
    */
  def onePartitionNarrow(rdd: RDD[_]): Boolean = {
    def narrow(deps: Seq[Dependency[_]]): Boolean = deps.forall {
      case _: ShuffleDependency[_, _, _] => false
      case d => narrow(d.rdd.dependencies)
    }
    rdd.getNumPartitions == 1 && narrow(rdd.dependencies)
  }

  /** `consume` over partition 0 of `rdd`, computed in the calling thread
    * as an executor runs a task: on a deserialized copy of the RDD and its
    * closures (operators keep per-task state in their plan nodes, e.g.
    * `SortExec`'s sorter, which must not land in the driver's plan), under
    * its own `TaskContext` and `TaskMemoryManager`, with the caller's local
    * properties (the SQL confs of the running execution). Completion
    * listeners run on success and on failure (failure listeners first),
    * and the task's memory and block locks are released before this
    * returns or throws. `consume` must copy what it keeps: rows are only
    * valid until the task ends.
    */
  def run[T, R](rdd: RDD[T])(consume: Iterator[T] => R): R = {
    val env = SparkEnv.get
    val closures = env.closureSerializer.newInstance()
    val (task, split) = closures.deserialize[(RDD[T], Partition)](
      closures.serialize((rdd, rdd.partitions(0))), Utils.getContextOrSparkClassLoader)
    val attemptId = nextAttemptId.getAndDecrement()
    val memory = new TaskMemoryManager(env.memoryManager, attemptId)
    val ctx = new TaskContextImpl(
      stageId = -1, stageAttemptNumber = 0, partitionId = 0, taskAttemptId = attemptId,
      attemptNumber = 0, numPartitions = 1, taskMemoryManager = memory,
      localProperties = Utils.cloneProperties(rdd.sparkContext.getLocalProperties),
      metricsSystem = env.metricsSystem)
    env.blockManager.registerTask(attemptId)
    TaskContext.setTaskContext(ctx)
    var failed = false
    try {
      val out = try consume(task.iterator(split, ctx)) catch {
        case e: Throwable =>
          failed = true
          try ctx.markTaskFailed(e) catch { case t: Throwable => e.addSuppressed(t) }
          try ctx.markTaskCompleted(Some(e)) catch { case t: Throwable => e.addSuppressed(t) }
          throw e
      }
      ctx.markTaskCompleted(None)
      out
    } finally {
      try {
        env.blockManager.memoryStore.releaseUnrollMemoryForThisTask(MemoryMode.ON_HEAP)
        env.blockManager.memoryStore.releaseUnrollMemoryForThisTask(MemoryMode.OFF_HEAP)
        val leaked = memory.cleanUpAllAllocatedMemory()
        env.blockManager.releaseAllLocksForTask(attemptId)
        if (leaked > 0) {
          leakedBytes.addAndGet(leaked)
          if (!failed && env.conf.get(UNSAFE_EXCEPTION_ON_MEMORY_LEAK)) {
            throw SparkException.internalError(
              s"Managed memory leak detected; size = $leaked bytes, driver-local task $attemptId")
          }
        }
      } finally {
        TaskContext.unset()
        InputFileBlockHolder.unset()
      }
    }
  }
}

/** A plan whose rows a broadcast collects through `executeCollect`: the
  * broadcast exchange above it builds its relation from the driver-run
  * rows instead of a collect job.
  */
trait CollectsOnDriver extends SparkPlan {
  override private[spark] def executeCollectIterator(): (Long, Iterator[InternalRow]) = {
    val rows = executeCollect()
    (rows.length.toLong, rows.iterator)
  }
}
