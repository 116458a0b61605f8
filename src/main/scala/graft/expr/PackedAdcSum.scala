package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** The ADC INNER LOOP over nibble-packed quantization codes — the exact
  * kernel FAISS runs when scanning a scalar/product-quantized index
  * (Jégou et al., PAMI 2011 §V: per-query distance tables + table
  * lookups per code): `score = Σ_d lut[d·16 + code_d]`, where `codes`
  * holds 16 four-bit codes per long (`words[d >> 4] >>> (4·(d & 15))`)
  * and `lut` is the per-query lookup table with the reconstruction
  * (and the query multiplication) already folded in. The corpus side
  * therefore stays COMPRESSED through the whole scan — a 64-dim vector
  * is read as 4 longs (32 bytes, the true 4-bit-SQ footprint) instead
  * of 64 longs, an 8× cut in the memory bandwidth that dominates a
  * 100 TB embedding-store scan — and each dimension costs one shift,
  * one mask, one table load, one add. No per-row allocation; inlines
  * into whole-stage codegen.
  *
  * `lut.length` must be 16× the dimension count; dimensions beyond
  * `16·codes.length` read as code 0, matching the packer's zero-fill.
  */
case class PackedAdcSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_packed_adc"

  // left = packed code words (array<long>), right = per-query LUT
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val words = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    val dims = lut.numElements() / 16
    var acc = 0L
    var d = 0
    while (d < dims) {
      val w = if ((d >> 4) < words.numElements()) words.getLong(d >> 4) else 0L
      val c = ((w >>> (4 * (d & 15))) & 15L).toInt
      acc += lut.getLong(d * 16 + c)
      d += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val d = ctx.freshName("d")
      val dims = ctx.freshName("dims")
      val acc = ctx.freshName("acc")
      val w = ctx.freshName("w")
      val c = ctx.freshName("c")
      s"""
         |int $dims = $b.numElements() / 16;
         |long $acc = 0L;
         |for (int $d = 0; $d < $dims; $d++) {
         |  long $w = ($d >> 4) < $a.numElements() ? $a.getLong($d >> 4) : 0L;
         |  int $c = (int) (($w >>> (4 * ($d & 15))) & 15L);
         |  $acc += $b.getLong($d * 16 + $c);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PackedAdcSum = copy(left = newLeft, right = newRight)
}

object PackedAdcSum {

  def register(spark: SparkSession): String =
    GraftFunctions.register(spark, GraftFunctions.PackedAdc)
}
