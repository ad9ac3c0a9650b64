package graft

import graft.plans.DriverLocalExec

import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Every node of an executed plan, for plan-shape assertions: AQE's
  * current plan and its query stages are walked like
  * `AdaptiveSparkPlanHelper` walks them, and so are the inner plans of
  * `DriverLocalExec` (a small query run on the driver) and of a command's
  * result.
  */
object PlanNodes {

  def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => all(a.executedPlan)
    case s: QueryStageExec        => all(s.plan)
    case d: DriverLocalExec       => all(d.inner)
    case c: CommandResultExec     => all(c.commandPhysicalPlan)
    case other                    => other.children.flatMap(all)
  })

  def collect[B](p: SparkPlan)(pf: PartialFunction[SparkPlan, B]): Seq[B] = all(p).collect(pf)
}
