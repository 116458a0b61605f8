package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** F3 — fixed-coefficient polynomial evaluation as a native Catalyst
  * expression with whole-stage codegen, the reference's DNSMOS polyfit
  * (`modules/models/dnsmos.py:91-104` — `np.poly1d` with baked-in
  * coefficients applied per score).
  *
  * Horner form, highest coefficient first:
  * `((c_n*x + c_{n-1})*x + ...)*x + c_0`. Both the interpreted and the
  * generated path evaluate in exactly this association order so results
  * are bit-identical to a SQL mirror written the same way.
  *
  * A Scala UDF would box every row and kill whole-stage codegen; this
  * expression inlines into the generated Java, so the polynomial costs
  * the same as hand-written column arithmetic (SURVEY §2.8 F3).
  */
case class Polyval(child: Expression, coeffs: Seq[Double])
    extends UnaryExpression {
  require(coeffs.nonEmpty, "polyval needs at least one coefficient")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_polyval"

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[Double]
    var acc = coeffs.head
    var i = 1
    while (i < coeffs.length) { acc = acc * x + coeffs(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => {
      // Double.toString round-trips exactly, so the generated literal is
      // the same double the interpreted path uses.
      coeffs.tail.foldLeft(s"(${coeffs.head}D)") { (acc, c) =>
        s"(($acc * $x) + (${c}D))"
      }
    })

  override protected def withNewChildInternal(newChild: Expression): Polyval =
    copy(child = newChild)
}

object Polyval {
  def register(spark: SparkSession, tag: String, coeffs: Seq[Double]): String =
    GraftFunctions.register(spark, GraftFunctions.polyvalRow(tag, coeffs))
}
