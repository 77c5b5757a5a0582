package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the package-private Expression <-> Column converters of the
  * classic Spark SQL API. Spark 4 removed the public `new Column(expr)`
  * constructor; `classic.ExpressionUtils` is `private[sql]`, so this
  * one-file shim in the sql package re-exports the two converters the
  * engine needs to expose custom Catalyst expressions as `Column`s,
  * plus the plan-to-DataFrame factory for its one custom plan node.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan: `Dataset.ofRows` is
    * `private[sql]`. `BatchEmbed.embedColumn` wraps its plan node with
    * it, so the embedding stays inside the caller's query. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
