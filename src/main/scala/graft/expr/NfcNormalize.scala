package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** L253 — Unicode NFC canonical composition as a native codegen'd
  * Catalyst expression: `java.text.Normalizer` (stdlib, implements
  * UAX #15) inlined into whole-stage codegen. The normalization pass a
  * text corpus needs BEFORE exact/fingerprint dedup: a composed `é`
  * (U+00E9) and its decomposed sibling `e`+U+0301 are different byte
  * strings — and different md5 fingerprints — for identical rendered
  * text, so un-normalized corpora under-deduplicate (and worse,
  * train/val splits can leak "distinct" strings that are canonically
  * equal). DuckDB ships the same UAX #15 transform as `nfc_normalize`,
  * making this one of the few ops whose REAL Unicode table behavior is
  * cross-checked between two independent engines rather than minted.
  *
  * A Scala UDF would box every row and break whole-stage codegen; this
  * expression is a single static call in the generated Java. NFC
  * chosen over NFKC: canonical equivalence only — compatibility
  * folding (ligatures, width variants) changes rendered text and
  * belongs in a separate, lossier gate.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"java.text.Normalizer.normalize($c.toString(), " +
        "java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {


  def register(spark: SparkSession): String = GraftFunctions.register(spark, GraftFunctions.Nfc)
}
