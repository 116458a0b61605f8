package graft.expr

import org.apache.spark.sql.{Column, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.types.DoubleType

/** The function table: one row per SQL-callable graft expression, its
  * SQL name and its Catalyst builder. Three consumers read each row:
  *
  *  - the typed Column wrappers below, which build the row's expression
  *    directly (so no caller registers anything or spells a name);
  *  - [[register]], for `selectExpr`/SQL use in an existing session;
  *  - [[graft.GraftExtensions]], which injects every row of [[table]]
  *    into each session it extends.
  *
  * Each expression's companion keeps a `register(spark, …)` that
  * forwards to [[register]] with its row.
  */
object GraftFunctions {

  final case class Row(name: String, build: Seq[Expression] => Expression)

  def winnowRow(k: Int, w: Int): Row =
    Row(s"graft_winnow_${k}_$w", e => WinnowFingerprint(e.head, k, w))

  /** A tag names one fixed polynomial: the same tag with other
    * coefficients is a caller bug, and [[register]] keeps the first. */
  def polyvalRow(tag: String, coeffs: Seq[Double]): Row =
    Row(s"graft_polyval_$tag", e => Polyval(Cast(e.head, DoubleType), coeffs))

  val Dot = Row("graft_dot", e => LongArrayDot(e(0), e(1)))
  val SrpSig = Row("graft_srp_sig", e => SrpSignature(e(0), e(1), e(2)))
  val QuantE4 = Row("graft_quant_e4", e => QuantizeE4(e(0)))
  val Hilbert = Row("graft_hilbert_key", e => HilbertKey(e(0), e(1), e(2)))
  val Nfc = Row("graft_nfc", e => NfcNormalize(e(0)))
  val Cdc = Row("graft_cdc", e => CdcChunks(e(0)))
  val DHash = Row("graft_dhash", e => DHashBands(e(0)))
  val PackedAdc = Row("graft_packed_adc", e => PackedAdcSum(e(0), e(1)))
  val Winnow84 = winnowRow(8, 4)
  val PolyvalMos = polyvalRow("mos", Seq(0.99, -2.5, 1.7, 0.06))

  val table: Seq[Row] =
    Seq(Dot, SrpSig, QuantE4, Hilbert, Nfc, Cdc, DHash, PackedAdc, Winnow84, PolyvalMos)

  /** Registers `row` in the session's function registry and returns its
    * name. Idempotent AND silent on re-registration:
    * `createOrReplaceTempFunction` logs a "replaced" warning per call,
    * which at one call per query build floods a bench run.
    */
  def register(spark: SparkSession, row: Row): String = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(row.name)))
      registry.createOrReplaceTempFunction(row.name, row.build, "built-in")
    row.name
  }

  private def call(row: Row, args: Column*): Column =
    GraftShim.column(row.build(args.map(GraftShim.expression)))

  /** Exact dot product of two long arrays ([[LongArrayDot]]). */
  def dot(a: Column, b: Column): Column = call(Dot, a, b)
  /** Bit-packed SRP signature of `qv` against a flat ±1 matrix ([[SrpSignature]]). */
  def srpSig(qv: Column, mat: Column, nBits: Column): Column = call(SrpSig, qv, mat, nBits)
  /** `round(x · 10000) :: long` over a float/double array ([[QuantizeE4]]). */
  def quantE4(v: Column): Column = call(QuantE4, v)
  /** Hilbert index of two `bits`-bit coordinates ([[HilbertKey]]). */
  def hilbertKey(b0: Column, b1: Column, bits: Column): Column = call(Hilbert, b0, b1, bits)
  /** Unicode NFC normalization ([[NfcNormalize]]). */
  def nfc(text: Column): Column = call(Nfc, text)
  /** Content-defined chunks of the canonical text ([[CdcChunks]]). */
  def cdc(text: Column): Column = call(Cdc, text)
  /** Four 16-bit dHash bands of an 8×9 grid ([[DHashBands]]). */
  def dhash(grid: Column): Column = call(DHash, grid)
  /** ADC score of nibble-packed codes against a per-query LUT ([[PackedAdcSum]]). */
  def packedAdc(codes: Column, lut: Column): Column = call(PackedAdc, codes, lut)
  /** Winnowing fingerprints, 8-grams in windows of 4 ([[WinnowFingerprint]]). */
  def winnow84(text: Column): Column = call(Winnow84, text)
  /** The DNSMOS polyfit polynomial ([[Polyval]]). */
  def polyvalMos(x: Column): Column = call(PolyvalMos, x)
}
