package graft.expr

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The winnowing document fingerprint (MOSS; Schleimer et al. SIGMOD'03)
  * as ONE fused expression: canonicalize to lowercase [a-z0-9], md5 every
  * char `k`-gram, keep each length-`w` window's lexicographic minimum
  * hash, distinct.
  *
  * Exactly equivalent to the higher-order-function formulation
  * ([[graft.ops.TextOps.winnowGramHashes]] +
  * [[graft.ops.TextOps.winnowFingerprints]], cross-checked in OpsSpec)
  * and to the oracle SQL — but one `eval` per row instead of five nested
  * collection expressions interpreting per element: no per-gram boxing,
  * no intermediate GenericArrayData per window, one reused MessageDigest.
  * HOFs are never whole-stage-codegen'd in Spark, so the fused loop is
  * the difference between ~5 s and well under a second on 5k documents.
  *
  * Codegen does not fall back: `doGenCode` emits a single static call
  * into [[WinnowFingerprint.compute]], so the surrounding stage stays
  * one WholeStageCodegen span (a CodegenFallback expression would force
  * the whole stage into interpreted row-at-a-time mode).
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  require(k > 0 && w > 0, "winnow needs positive k and w")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override protected def nullSafeEval(input: Any): Any =
    WinnowFingerprint.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.WinnowFingerprint.compute($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)
}

object WinnowFingerprint {

  private val hexDigits = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(i * 2) = hexDigits((bytes(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexDigits(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** The fused winnowing kernel; called from interpreted eval AND from
    * generated code (static forwarder on the companion class). */
  def compute(input: UTF8String, k: Int, w: Int): ArrayData = {
    val text = input.toString
    // canon = lower(regexp_replace(text, "[^A-Za-z0-9]", "")) — ASCII
    // alnum kept, uppercase folded
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
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val md = MessageDigest.getInstance("MD5")
    val m = n - k + 1
    val grams = new Array[String](m)
    var g = 0
    while (g < m) {
      md.reset()
      grams(g) = hex(md.digest(
        canon.substring(g, g + k).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      g += 1
    }
    val seen = new java.util.LinkedHashSet[String]()
    if (m < w) {
      var best = grams(0)
      var j = 1
      while (j < m) { if (grams(j).compareTo(best) < 0) best = grams(j); j += 1 }
      seen.add(best)
    } else {
      var j = 0
      while (j <= m - w) {
        var best = grams(j)
        var t = j + 1
        while (t < j + w) { if (grams(t).compareTo(best) < 0) best = grams(t); t += 1 }
        seen.add(best)
        j += 1
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
    new GenericArrayData(out)
  }

  def register(spark: SparkSession, k: Int, w: Int): String =
    GraftFunctions.register(spark, GraftFunctions.winnowRow(k, w))
}
