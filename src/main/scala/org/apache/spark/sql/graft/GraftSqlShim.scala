package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Package-access shim: `classic.ExpressionUtils` (the Spark 4.x
  * Column ⇄ Expression bridge) and `classic.Dataset.ofRows` are
  * `private[sql]`, so library code outside `org.apache.spark.sql`
  * cannot name them. This one-file escape hatch re-exports exactly the
  * conversions the engine's custom codegen expressions and plan nodes
  * need — the same publicly-documented technique every Spark extension
  * library uses for Column construction from a Catalyst Expression.
  */
object GraftSqlShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The frame of a logical plan, analyzed in `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
