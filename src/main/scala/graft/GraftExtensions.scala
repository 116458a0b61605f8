package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.expr.GraftFunctions

/** Catalyst extension point: registers the engine's native expressions
  * so any session — including one created by `spark-submit --conf
  * spark.sql.extensions=graft.GraftExtensions` on a real cluster — can
  * call them from SQL without touching the library API.
  *
  * It injects every row of the [[GraftFunctions.table]] and nothing
  * else: no optimizer rule and no planner strategy. A containment-join
  * plan is picked by the operator the caller chooses, never by session
  * state; the one custom strategy, [[graft.plans.ContainmentJoinStrategy]],
  * is registered by the only function that builds its logical node.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { row =>
      e.injectFunction((new FunctionIdentifier(row.name),
        new ExpressionInfo(GraftFunctions.getClass.getName.stripSuffix("$"), row.name),
        row.build))
    }
}
