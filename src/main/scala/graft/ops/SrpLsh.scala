package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.GraftFunctions.srpSig

/** Deterministic signed-random-projection (SRP / "hyperplane") LSH for
  * cosine similarity — the candidate-generation stage of embedding
  * near-dup detection at 100 TB scale.
  *
  * Each of `bandBits · bands` pseudo-random ±1 projection vectors
  * contributes one signature bit (`sign(r · v)`); two vectors agree on a
  * bit with probability `1 − θ/π` (θ = their angle), so near-duplicates
  * share whole bit-bands with high probability. Candidates are generated
  * by an equi join on (band index, band value) — a shuffle on the band
  * key, never an all-pairs comparison — then verified with the exact
  * quantized cosine ([[Similarity.verifyPairs]]).
  *
  * Everything here is deterministic (fixed-seed ±1 coefficients, exact
  * integer dot products on quantized vectors), so the whole two-stage
  * pipeline can be mirrored verbatim in an external SQL engine for the
  * correctness oracle — same posture as [[Dedup.minhashLshPairs]]'s
  * md5-derived MinHash.
  */
object SrpLsh {

  val DefaultBandBits = 6
  val DefaultBands = 10

  /** Fixed-seed ±1 projection matrix: `nBits` rows of `dim` coefficients.
    * ±1 (not gaussian) keeps the projections in the exact long domain of
    * the quantized vectors; for SRP the sign statistics are equivalent.
    */
  def coefficients(nBits: Int, dim: Int, seed: Long = 20260812L): IndexedSeq[Array[Long]] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(nBits)(Array.fill(dim)(if (rnd.nextBoolean()) 1L else -1L))
  }

  /** Bit-packed SRP signature of a quantized long-array column: bit j is
    * set iff `coefficients(j) · qv > 0`. ONE fused [[graft.expr.SrpSignature]]
    * expression against the row-major flattened matrix — the former
    * per-bit `when(dot > 0)` chain planned ~4k expression nodes whose
    * generated code fell out of whole-stage codegen and ran ~0.4 ms per
    * row interpreted; this form is a compact nested loop with identical
    * (exact integer) arithmetic.
    */
  def signature(qv: Column, cs: IndexedSeq[Array[Long]]): Column =
    srpSig(qv, lit(cs.flatten.toArray), lit(cs.length))

  /** Pigeonhole-style band candidates over a (id, sig) signature table:
    * explode each signature into `bands` values of `bandBits` bits and
    * equi-join on (band, value). Output: distinct (a, b) with a < b.
    */
  def bandedCandidates(sig: DataFrame, idCol: String, bandBits: Int, bands: Int): DataFrame =
    bandedCandidatesBySpec(sig, idCol, "sig",
      Seq.tabulate(bands)(b => (b * bandBits, bandBits)))

  /** The general band join over explicit (bitOffset, bitWidth) band
    * specs — shared by the equal-width SRP bands and the uneven
    * pigeonhole partition of [[Dedup.simhashPairs]]. Every spec'd band
    * must cover at least one real signature bit, or its value is
    * constant and the equi join degenerates to all-pairs.
    */
  private[ops] def bandedCandidatesBySpec(sig: DataFrame, idCol: String,
      sigCol: String, spec: Seq[(Int, Int)]): DataFrame = {
    require(spec.forall(_._2 > 0), "every band needs at least one bit")
    val bandCols = spec.map { case (off, w) =>
      expr(s"shiftright($sigCol, $off) & ${(1L << w) - 1}")
    }
    val banded = sig.select(col(idCol),
      posexplode(array(bandCols: _*)).as(Seq("band", "bv")))
    banded.select(col(idCol).as("a"), col("band"), col("bv"))
      .join(banded.select(col(idCol).as("b"), col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** The coefficient matrix as a DuckDB list-of-lists literal, so the
    * oracle SQL computes bit-identical signatures.
    */
  def sqlCoefficientLiteral(cs: IndexedSeq[Array[Long]]): String =
    cs.map(_.mkString("[", ",", "]")).mkString("[", ",", "]") + "::BIGINT[][]"
}
