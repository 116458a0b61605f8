package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.types.{DataType, LongType}

/** The xy2d Hilbert index of two pre-bucketed `bits`-bit dimensions as
  * ONE fused expression — the loop body is the identical exact-long
  * arithmetic of [[graft.ops.Curation.hilbertKey]]'s `aggregate` HOF
  * fold (per level s: quadrant price d += s²·((3·rx) xor ry), then the
  * reflect+swap rotation), but higher-order functions evaluate
  * INTERPRETED with a per-level struct allocation per row (§1.2
  * per-task work), while this form is one branch-free-ish loop that
  * inlines into whole-stage codegen. Equivalence is pinned in OpsSpec
  * against both the HOF fold and the canonical C reference.
  */
case class HilbertKey(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hilbert_key"

  // first = b0 (long), second = b1 (long), third = bits (int/long literal)
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val bits = c.asInstanceOf[Number].intValue()
    val n1 = (1L << bits) - 1L
    var x = a.asInstanceOf[Number].longValue()
    var y = b.asInstanceOf[Number].longValue()
    var d = 0L
    var s = 1L << (bits - 1)
    while (s >= 1L) {
      val rx = if ((x & s) > 0L) 1L else 0L
      val ry = if ((y & s) > 0L) 1L else 0L
      d += s * s * ((rx * 3L) ^ ry)
      val nx = if (ry == 0L) { if (rx == 1L) n1 - y else y } else x
      val ny = if (ry == 0L) { if (rx == 1L) n1 - x else x } else y
      x = nx; y = ny
      s >>= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val bits = ctx.freshName("bits")
      val n1 = ctx.freshName("n1")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val rx = ctx.freshName("rx")
      val ry = ctx.freshName("ry")
      val t = ctx.freshName("t")
      s"""
         |int $bits = (int) $c;
         |long $n1 = (1L << $bits) - 1L;
         |long $x = (long) $a;
         |long $y = (long) $b;
         |long $d = 0L;
         |for (long $s = 1L << ($bits - 1); $s >= 1L; $s >>= 1) {
         |  long $rx = (($x & $s) > 0L) ? 1L : 0L;
         |  long $ry = (($y & $s) > 0L) ? 1L : 0L;
         |  $d += $s * $s * (($rx * 3L) ^ $ry);
         |  if ($ry == 0L) {
         |    long $t = ($rx == 1L) ? ($n1 - $y) : $y;
         |    $y = ($rx == 1L) ? ($n1 - $x) : $x;
         |    $x = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): HilbertKey =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object HilbertKey {

  def register(spark: SparkSession): String = GraftFunctions.register(spark, GraftFunctions.Hilbert)
}
