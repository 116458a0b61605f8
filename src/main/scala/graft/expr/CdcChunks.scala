package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking (CDC, the rsync/LBFS rolling-boundary
  * family): canonicalize to lowercase [a-z0-9], slide a k=8 char
  * window with an O(1)-update polynomial rolling hash (base 31 mod
  * 1000003), and cut a chunk boundary wherever `hash % 64 == 0` —
  * boundaries depend only on LOCAL content, so an insertion or edit
  * re-chunks at most the window around it and every other chunk keeps
  * its identity (the property fixed-size chunking lacks, and the
  * reason dedup-by-chunk survives shifted text). Texts shorter than
  * the window are one chunk.
  *
  * One fused codegen expression for the same reason as
  * [[WinnowFingerprint]]: the rolling update is one multiply-add per
  * character, no per-window arrays, and `doGenCode` keeps the stage in
  * WholeStageCodegen. The hash is pure integer arithmetic so the
  * oracle recomputes boundaries exactly (per-window Σ c_j·B^(k−1−j)
  * mod M — equal to the rolling form by construction).
  */
case class CdcChunks(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_cdc"

  override protected def nullSafeEval(input: Any): Any =
    CdcChunks.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.CdcChunks.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {
  val K = 8
  val Base = 31L
  val Mod = 1000003L
  val Mask = 64L
  /** Base^(K-1) mod Mod — the outgoing-char coefficient. */
  private val TopPow: Long = {
    var p = 1L
    (1 until K).foreach(_ => p = p * Base % Mod)
    p
  }

  def compute(input: UTF8String): ArrayData = {
    val text = input.toString
    val sb = new java.lang.StringBuilder(text.length)
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c >= 'a' && c <= 'z' || c >= '0' && c <= '9') sb.append(c)
      else if (c >= 'A' && c <= 'Z') sb.append((c + 32).toChar)
      i += 1
    }
    val canon = sb.toString
    val n = canon.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    if (n < K)
      return new GenericArrayData(Array[Any](UTF8String.fromString(canon)))
    val chunks = new scala.collection.mutable.ArrayBuffer[Any](8)
    var h = 0L
    var start = 0
    i = 0
    while (i < n) {
      val cin = canon.charAt(i).toLong
      if (i < K) h = (h * Base + cin) % Mod
      else h = ((h - canon.charAt(i - K).toLong * TopPow % Mod + Mod * Mod) * Base + cin) % Mod
      if (i >= K - 1 && h % Mask == 0) {
        chunks += UTF8String.fromString(canon.substring(start, i + 1))
        start = i + 1
      }
      i += 1
    }
    if (start < n) chunks += UTF8String.fromString(canon.substring(start, n))
    new GenericArrayData(chunks.toArray)
  }

  def register(spark: SparkSession): String = GraftFunctions.register(spark, GraftFunctions.Cdc)
}
