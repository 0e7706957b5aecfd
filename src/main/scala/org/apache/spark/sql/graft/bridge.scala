package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.util.AccumulatorV2

/** Bridge into Spark's package-private Column ↔ Expression converters
  * (Spark 4 moved Column onto ColumnNode; libraries adding native
  * expressions need this hop) and accumulator registration.
  */
object bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column to a real catalyst Expression tree (the
    * lazy ColumnNodeExpression wrapper from toExpr is opaque to
    * analyzer rules that must rewrite attributes inside custom nodes).
    */
  def toExprEager(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** `c` over `plan`'s output: converted eagerly, with every column
    * name bound to the plan's attribute by the session's resolver —
    * how the column-level entry points of the custom logical nodes
    * build the expressions they hand to the planner.
    */
  def resolveOn(spark: SparkSession, plan: LogicalPlan, c: Column): Expression =
    toExprEager(spark, c).transformUp {
      case u: UnresolvedAttribute =>
        plan.output.find(a => spark.sessionState.conf.resolver(a.name, u.name))
          .getOrElse(throw new IllegalArgumentException(
            s"column ${u.name} not in ${plan.output.map(_.name).mkString(",")}"))
    }

  /** [[resolveOn]] as a sort key: `c`'s own order, ascending if none. */
  def sortOrderOn(spark: SparkSession, plan: LogicalPlan, c: Column): SortOrder =
    resolveOn(spark, plan, c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    }

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A sum-typed [[SQLMetric]] whose task values merge by max: a
    * "largest seen" figure, `set` by each task.
    */
  def maxMetric(sc: SparkContext, name: String): SQLMetric = {
    val m = new MaxMetric
    m.register(sc, Some(name), countFailedValues = false)
    m
  }

  private class MaxMetric extends SQLMetric("sum") {
    override def copy(): SQLMetric = { val m = new MaxMetric; m.set(value); m }
    override def merge(o: AccumulatorV2[Long, Long]): Unit = set(math.max(value, o.value))
  }
}
