package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSparkSession}

/** Minimal access shim for `private[sql]` entry points: `Dataset.ofRows`
  * builds a DataFrame from a hand-constructed LogicalPlan (the custom
  * operator path, SURVEY §7.3c), and `ExpressionUtils` converts between a
  * Column and the Catalyst expression behind it (the typed wrappers of
  * `graft.expr.GraftFunctions`). Standard extension-library pattern.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
