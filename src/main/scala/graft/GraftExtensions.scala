package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.expr.GraftFunctions
import graft.plans.{ContainmentJoinStrategy, RangeJoinRule}

/** Catalyst extension point: registers the engine's native expressions
  * and optimizer rules so any session — including one created by
  * `spark-submit --conf spark.sql.extensions=graft.GraftExtensions` on a
  * real cluster — gets them without touching the library API.
  *
  * Functions: every row of the [[GraftFunctions.table]].
  * [[RangeJoinRule]]: containment-join bucketing (X4), gated by
  * `spark.graft.rangeJoin.bucketWidth`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RangeJoinRule)
    e.injectPlannerStrategy(_ => ContainmentJoinStrategy)
    GraftFunctions.table.foreach { row =>
      e.injectFunction((new FunctionIdentifier(row.name),
        new ExpressionInfo(GraftFunctions.getClass.getName.stripSuffix("$"), row.name),
        row.build))
    }
  }
}
