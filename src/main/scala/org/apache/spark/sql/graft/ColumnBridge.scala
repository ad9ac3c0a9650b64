package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's `private[sql]` Column ⇄ Expression converters (Spark
  * 4 moved Column construction behind the connect/classic split). Lives in
  * the `org.apache.spark.sql` namespace solely to satisfy the access
  * qualifier — the standard connector-library pattern; no Spark internals
  * are modified or shadowed. Used by graft.functions to wrap native
  * codegen expressions (e.g. the dictionary map probe) as Columns without
  * routing through a UDF, and by the driver-served index probes to
  * evaluate Column spellings row by row without planning a Dataset.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `cols` resolved by the session's analyzer over a relation of
    * `input`'s columns, with runtime-replaceable forms replaced as the
    * optimizer replaces them, and bound to the columns' ordinals: each
    * result `eval`s on an InternalRow laid out as `input` (trailing extra
    * fields are ignored). This is the interpreted evaluation the optimizer
    * gives a projection over a local relation, without planning,
    * optimizing or running a Dataset. Resolve once, then evaluate per row;
    * a bound expression is not shared across threads.
    */
  def bound(spark: SparkSession, input: StructType, cols: Column*): Seq[Expression] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val attrs = DataTypeUtils.toAttributes(input)
    session.withActive {
      val plan = Project(cols.zipWithIndex.map { case (c, i) =>
        Alias(session.expression(c), s"_$i")() }, LocalRelation(attrs))
      val Project(resolved, _) = ReplaceExpressions(
        session.sessionState.analyzer.executeAndCheck(plan, new QueryPlanningTracker))
      resolved.map { case Alias(e, _) => BindReferences.bindReference(e, attrs) }
    }
  }
}
