package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Perceptual difference hash (dHash) over an 8×9 grayscale grid
  * (row-major array of 72 ints): 64 horizontal brightness comparisons
  * packed as FOUR 16-bit bands — the image-near-dup fingerprint (a
  * resize/re-encode/brightness-shift of the same picture flips only a
  * few comparison bits). Bands instead of one 64-bit word keep every
  * value < 2^16: no sign/overflow hazards in either engine, and the band
  * IS the LSH bucket key. One fused expression for the same
  * reason as [[WinnowFingerprint]]: the HOF formulation
  * (transform × aggregate × element_at trees) costs seconds of plan
  * compilation per occurrence and is interpreted per element; this is
  * one static call, whole-stage-codegen friendly, and the kernel is a
  * 64-iteration integer loop.
  */
case class DHashBands(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_dhash"

  override protected def nullSafeEval(input: Any): Any =
    DHashBands.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.DHashBands.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): DHashBands =
    copy(child = newChild)
}

object DHashBands {

  def compute(grid: ArrayData): ArrayData = {
    require(grid.numElements() == 72, s"dhash needs an 8x9 grid, got ${grid.numElements()}")
    val g = new Array[Int](72)
    var i = 0
    while (i < 72) { g(i) = grid.getInt(i); i += 1 }
    val bands = new Array[Any](4)
    var b = 0
    while (b < 4) {
      var v = 0
      var t = 0
      while (t < 16) {
        val k = b * 16 + t
        val p = (k / 8) * 9 + (k % 8)
        if (g(p) > g(p + 1)) v |= 1 << t
        t += 1
      }
      bands(b) = v
      b += 1
    }
    new GenericArrayData(bands)
  }

  def register(spark: SparkSession): String = GraftFunctions.register(spark, GraftFunctions.DHash)
}
