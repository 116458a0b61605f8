package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Exact dot product of two long-array columns as a native codegen'd
  * Catalyst expression — the hot kernel of quantized-cosine similarity
  * (SURVEY §7.0: ANN/near-dup over `embeddings.embedding`).
  *
  * The `zip_with`+`aggregate` formulation materializes an intermediate
  * array per row pair; this expression is a single fused loop over the
  * two `ArrayData`s with no allocation, and inlines into whole-stage
  * codegen — the difference is the dominant cost of brute-force
  * similarity at 250k+ pairs per partition.
  */
case class LongArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): LongArrayDot = copy(left = newLeft, right = newRight)
}

object LongArrayDot {

  def register(spark: SparkSession): String = GraftFunctions.register(spark, GraftFunctions.Dot)
}
