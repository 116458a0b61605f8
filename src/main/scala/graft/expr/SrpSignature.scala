package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** The full bit-packed SRP signature as ONE fused expression:
  * bit j is set iff `Σ_i qv[i] · mat[j·dim + i] > 0`, `mat` the
  * row-major flattening of the `nBits × dim` ±1 projection matrix.
  *
  * The per-bit composition ([[LongArrayDot]] under a 60-term
  * `when(...).reduce(_+_)` chain) is arithmetically identical — same
  * ascending-i long accumulation per bit, exact — but plans as a ~4k
  * node expression tree whose generated code blows past the JIT-friendly
  * method size, so the whole stage ran interpreted: ~0.4 ms PER ROW on
  * 64-dim vectors. This form is one nested loop, inlines into
  * whole-stage codegen, and keeps every consumer's output bit-identical.
  *
  * Dimensions beyond `qv.length` contribute nothing (the dot truncates
  * to `min(qv.length, dim)`, matching LongArrayDot's min-length rule).
  */
case class SrpSignature(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_srp_sig"

  // first = qv (array<long>), second = flat matrix (array<long> literal),
  // third = nBits (int/long literal)
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val m = b.asInstanceOf[ArrayData]
    val nBits = c.asInstanceOf[Number].intValue()
    val dim = m.numElements() / nBits
    val n = math.min(x.numElements(), dim)
    var sig = 0L
    var j = 0
    while (j < nBits) {
      var acc = 0L
      var i = 0
      val off = j * dim
      while (i < n) { acc += x.getLong(i) * m.getLong(off + i); i += 1 }
      if (acc > 0L) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val dim = ctx.freshName("dim")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val sig = ctx.freshName("sig")
      val nb = ctx.freshName("nb")
      s"""
         |int $nb = (int) $c;
         |int $dim = $b.numElements() / $nb;
         |int $n = java.lang.Math.min($a.numElements(), $dim);
         |long $sig = 0L;
         |for (int $j = 0; $j < $nb; $j++) {
         |  long $acc = 0L;
         |  int $off = $j * $dim;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $a.getLong($i) * $b.getLong($off + $i);
         |  }
         |  if ($acc > 0L) $sig |= (1L << $j);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SrpSignature =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SrpSignature {

  def register(spark: SparkSession): String = GraftFunctions.register(spark, GraftFunctions.SrpSig)
}
