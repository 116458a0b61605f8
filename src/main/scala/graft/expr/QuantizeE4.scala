package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** The e4 embedding quantization `round(x · 10000) :: long` as ONE fused
  * expression over the whole array — the hot front door of every
  * quantized-similarity operator.
  *
  * The HOF form `transform(emb, x -> cast(round(cast(x as double) *
  * 10000d), long))` evaluates interpreted (lambda + boxing per element,
  * ~45 µs per 64-dim row on top of the rounding itself). This expression
  * is one loop per row with the IDENTICAL per-element arithmetic chain,
  * replicated from Spark's own `Round`/`Cast` implementations so every
  * consumer's output is bit-identical:
  *
  *   d = ((double) x) · 10000.0                      // exact widening
  *   r = NaN/Inf ? d                                 // Round passes thru
  *       : BigDecimal.valueOf(d).setScale(0, HALF_UP).doubleValue()
  *   out = (long) r                                  // Cast double→long
  *
  * (`scala.math.BigDecimal(d)` is `BigDecimal.decimal(d)` = the value of
  * `Double.toString(d)` — exactly `java.math.BigDecimal.valueOf(d)`; the
  * DECIMAL128 context never rounds a ≤17-digit literal.) Null elements
  * stay null, the `transform` contract.
  */
case class QuantizeE4(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType,
    containsNull = child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "graft_quant_e4"

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_quant_e4 needs array<float|double>, got ${t.sql}")
    }

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Any](n)
    val isF = elemIsFloat
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        val d = (if (isF) x.getFloat(i).toDouble else x.getDouble(i)) * 10000d
        val r =
          if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
          else java.math.BigDecimal.valueOf(d)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
        out(i) = r.toLong
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val r = ctx.freshName("r")
      val out = ctx.freshName("out")
      val get = if (elemIsFloat) s"(double) $a.getFloat($i)"
        else s"$a.getDouble($i)"
      // NOTE: no generated line may START with "||" (or any "|"): the
      // codegen Block machinery re-applies stripMargin-style trimming,
      // which silently ATE the operator and produced uncompilable Java —
      // Janino failed, and every consumer stage fell back to interpreted
      // execution (344 compile failures per bench session). Hence the
      // single-line condition + if/else form.
      s"""
         |int $n = $a.numElements();
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $d = ($get) * 10000d;
         |    double $r;
         |    if (java.lang.Double.isNaN($d) || java.lang.Double.isInfinite($d)) {
         |      $r = $d;
         |    } else {
         |      $r = java.math.BigDecimal.valueOf($d)
         |          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue();
         |    }
         |    $out[$i] = (long) $r;
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): QuantizeE4 =
    copy(child = newChild)
}

object QuantizeE4 {

  def register(spark: SparkSession): String = GraftFunctions.register(spark, GraftFunctions.QuantE4)
}
