package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.GraftFunctions.{dot, packedAdc, quantE4}

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Exactness strategy: embeddings are quantized to integer units
  * (`round(x * 10000)` per dimension), so dot products and norms are
  * exact longs and the cosine is a single double division — bit-identical
  * across engines and summation orders, which makes brute-force results
  * oracle-checkable and rank order deterministic.
  *
  * Scale strategy: brute-force top-k is the correctness baseline
  * (queries × corpus, fine when one side broadcasts); the LSH/IVF-style
  * variants in [[MLlibOps]] bucket the corpus so candidate generation is
  * an equi join on the bucket key.
  */
object Similarity {

  /** (id, qv) with qv = integer-quantized embedding. One fused
    * [[graft.expr.QuantizeE4]] pass — the HOF `transform` form evaluated
    * interpreted per element (§4); output bit-identical. */
  def quantize(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol), quantE4(col(embCol)).as("qv"))

  // |qv|² as the fused self dot — the HOF `aggregate` form evaluates
  // interpreted (boxed per element); graft_dot(qv, qv) is the same exact
  // long and inlines into whole-stage codegen (§4).
  private def sqNorm(qv: Column): Column = dot(qv, qv)

  /** NEAREST-CENTROID CLASSIFIER (prototype classification / cluster
    * assignment — the label-propagation primitive for semi-supervised
    * corpus tagging): each label's centroid is the element-wise SUM of
    * its quantized vectors — cosine is scale-invariant, so the
    * unnormalized sum IS the mean direction and the centroid stays an
    * exact long vector (no division, no drift) — and every vector takes
    * the label of its highest-cosine centroid, ties to the smaller
    * label.
    *
    * Scale shape: the centroid aggregation is `dim` parallel SUMs — a
    * true partial-merge aggregate, map-side-combined, one row per label
    * out; the tiny centroid table broadcasts; scoring is one fused-dot
    * projection per (vector, label) with a per-vector argmax window. No
    * shuffle of the embedding side beyond the label aggregation.
    */
  def centroidClassify(emb: DataFrame, idCol: String, embCol: String,
                       labelCol: String, dim: Int): DataFrame = {
    val q = emb.select(col(idCol), col(labelCol),
      quantE4(col(embCol)).as("qv"))
    val cents = q.groupBy(col(labelCol))
      .agg(array((0 until dim).map(i => sum(col("qv").getItem(i))): _*).as("cv"))
      .withColumn("cnorm",
        sqrt(aggregate(col("cv"), lit(0L), (acc, x) => acc + x * x).cast("double")))
      .select(col(labelCol).as("c_label"), col("cv"), col("cnorm"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("c_label"))
    q.crossJoin(broadcast(cents))
      .withColumn("score",
        dot(col("qv"), col("cv")).cast("double") / col("cnorm"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col(labelCol), col("c_label").as("pred_label"),
        (col(labelCol) === col("c_label")).as("correct"))
  }

  /** SCALAR-QUANTIZED ANN TOP-K with asymmetric distance computation —
    * the FAISS `SQ` shape (Jégou et al., PAMI 2011 §III for the
    * asymmetric trick): the corpus is compressed to one `levels`-ary
    * code per dimension (4 bits/dim at the default 16 — a 64-dim vector
    * is 32 bytes instead of 256), and queries score against the CODES'
    * reconstruction, never the original floats — the query side stays
    * full-precision, the corpus side stays compressed, which is what
    * lets a 100 TB embedding store scan from codes resident in memory.
    *
    * Stage 1 (one pass, map-side-combined agg on `dim` keys): per-dim
    * `mn`/width over the quantized corpus. Stage 2: per-vector codes
    * `c_d = (x_d − mn_d)·levels div w_d` — computed EXACTLY in integer
    * domain by subtracting the remainder before dividing (`(a − a mod
    * w)/w`), no float floor. Scoring uses the scaled reconstruction
    * `recon2L_d = 2·levels·mn_d + (2c_d + 1)·w_d` (= 2·levels × the
    * code cell's midpoint, kept integral): `score2L = Σ q_d·recon2L_d`
    * via the fused [[graft.expr.LongArrayDot]], so the approximate
    * score is an exact long, bit-stable cross-engine — ANN ranks are
    * deterministic and oracle-checkable, the same posture as the SRP
    * and IVF paths. recon2L is derived from codes once per corpus
    * vector and shared by every query (ADC's per-query LUT folded into
    * one data-independent array). Top-k per query via the
    * bounded-state [[graft.expr.TopKAgg]] (value desc, id asc) —
    * at most k pairs per query per map partition reach the shuffle.
    *
    * `queries`/`corpus`: (idCol, qv) from [[quantize]]. Output:
    * (query_id, rnk, neighbor_id, score2l).
    */
  /** One-row per-dimension (mins, widths) table over the quantized
    * corpus — stage 1 of both SQ-ADC flavors (a map-side-combined agg
    * on `dim` keys).
    */
  private def sqStats(corpus: DataFrame): DataFrame = {
    val dims = corpus.select(posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"),
        (max(col("x")) - min(col("x")) + lit(1L)).as("w"))
    dims
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("w"))))
        .as("st"))
      .select(transform(col("st"), s => s.getField("mn")).as("mins"),
        transform(col("st"), s => s.getField("w")).as("widths"))
  }

  /** Per-dimension SQ code (0..levels−1) for each element of `qv`,
    * exactly: the remainder is subtracted before dividing, so the
    * integral floor never passes through float.
    */
  private def sqCodes(levels: Int): (Column, Column) => Column = (qv, mw) =>
    zip_with(qv, mw, (x, s) => {
      val a = (x - s.getField("mins")) * lit(levels.toLong)
      ((a - pmod(a, s.getField("widths"))) / s.getField("widths")).cast("long")
    })

  def sqAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                k: Int, levels: Int = 16): DataFrame = {
    val stats = sqStats(corpus)
    val recon = corpus.crossJoin(broadcast(stats))
      .withColumn("recon2l",
        zip_with(col("qv"), arrays_zip(col("mins"), col("widths")), (x, mw) => {
          val a = (x - mw.getField("mins")) * lit(levels.toLong)
          // exact integral floor: (a - a mod w) / w divides evenly
          val c = ((a - pmod(a, mw.getField("widths"))) / mw.getField("widths"))
            .cast("long")
          lit(2L * levels) * mw.getField("mins") +
            (c * lit(2L) + lit(1L)) * mw.getField("widths")
        }))
      .select(col(idCol).as("neighbor_id"), col("recon2l"))
    val topk = udaf(new graft.expr.TopKAgg(k))
    recon
      .crossJoin(broadcast(
        queries.select(col(idCol).as("query_id"), col("qv").as("qq"))))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score2l", dot(col("qq"), col("recon2l")))
      .groupBy(col("query_id"))
      .agg(topk(col("score2l"), col("neighbor_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("neighbor_id"), col("col.value").as("score2l"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** SQ-ADC TOP-K OVER NIBBLE-PACKED CODES — the same integer scores as
    * [[sqAdcTopK]] from a plan that keeps the corpus COMPRESSED through
    * the scan: codes pack 16 per long (4 longs per 64-dim vector — the
    * true 4-bit-SQ footprint, an 8× memory-bandwidth cut), the per-query
    * reconstruction·query products fold into a 16·dim lookup table
    * built once per query row, and the inner loop is the native
    * [[graft.expr.PackedAdcSum]] expression — one shift, one mask, one
    * table load, one add per dimension, inside whole-stage codegen
    * (FAISS's ADC scan re-expressed as a Catalyst expression). Returns
    * bit-identical rows to [[sqAdcTopK]], so the two plans share one
    * oracle.
    */
  def sqAdcPackedTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                      k: Int): DataFrame = {
    val levels = 16 // nibble packing is exactly 4 bits per dimension
    val stats = sqStats(corpus)
    val packed = corpus.crossJoin(broadcast(stats))
      .withColumn("codes",
        sqCodes(levels)(col("qv"), arrays_zip(col("mins"), col("widths"))))
      .withColumn("packed", transform(
        sequence(lit(0),
          call_function("shiftright", size(col("codes")) - lit(1), lit(4))),
        w => aggregate(sequence(lit(0), lit(15)), lit(0L), (acc, p) =>
          // try_element_at: past-the-end dims zero-fill (ANSI
          // element_at throws out of bounds)
          acc + call_function("shiftleft",
            coalesce(try_element_at(col("codes"), w * lit(16) + p + lit(1)),
              lit(0L)),
            p * lit(4)))))
      .select(col(idCol).as("neighbor_id"), col("packed"))
    val qlut = queries.crossJoin(broadcast(stats))
      .withColumn("qlut",
        flatten(transform(sequence(lit(0), size(col("qv")) - lit(1)), d =>
          transform(sequence(lit(0), lit(15)), c =>
            element_at(col("qv"), d + lit(1)) *
              (lit(2L * levels) * element_at(col("mins"), d + lit(1)) +
                (c.cast("long") * lit(2L) + lit(1L)) *
                  element_at(col("widths"), d + lit(1)))))))
      .select(col(idCol).as("query_id"), col("qlut"))
    val topk = udaf(new graft.expr.TopKAgg(k))
    packed
      .crossJoin(broadcast(qlut))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score2l", packedAdc(col("packed"), col("qlut")))
      .groupBy(col("query_id"))
      .agg(topk(col("score2l"), col("neighbor_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("neighbor_id"), col("col.value").as("score2l"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** All pairs (a < b) with exact quantized cosine — the verify kernel.
    * The dot product is the fused-loop [[LongArrayDot]] expression, not
    * `zip_with`+`aggregate`: no per-pair intermediate array, stays in
    * whole-stage codegen.
    */
  def cosinePairs(q: DataFrame, idCol: String): DataFrame = {
    val withN = q.withColumn("nn", sqNorm(col("qv")))
    val a = withN.select(col(idCol).as("a"), col("qv").as("qa"), col("nn").as("na"))
    val b = withN.select(col(idCol).as("b"), col("qv").as("qb"), col("nn").as("nb"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("dot", dot(col("qa"), col("qb")))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .select(col("a"), col("b"), col("dot"), col("cos"))
  }

  /** Brute-force cosine top-k: for each query row, the k nearest corpus
    * rows (self excluded), deterministically tie-broken. The query side
    * is expected to be small — broadcast it so the corpus streams by
    * without a shuffle.
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 k: Int): DataFrame =
    rankTopK(broadcastScored(queries, corpus, idCol), k)

  /** Contrastive HARD-NEGATIVE mining — the negative-selection recipe
    * for contrastive embedding training (DPR, SimCSE: the informative
    * negatives are the similar-but-not-matching ones): for each query,
    * the top-k candidates whose cosine lies in [`lo`, `hi`) — above
    * random similarity, below the near-dup band (a near-dup "negative"
    * is a mislabeled positive that poisons the loss). Same broadcast
    * brute scoring as [[cosineTopK]]; at corpus scale generate
    * candidates with [[ivfTopK]]/[[srpNearDupPairs]] first and band-
    * filter those — the band is a post-filter either way.
    */
  def hardNegativesTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                        k: Int, lo: Double, hi: Double): DataFrame =
    rankTopK(broadcastScored(queries, corpus, idCol)
      .filter(col("cos") >= lo && col("cos") < hi), k)

  /** All (query, candidate) cosine scores with the query side broadcast
    * — the corpus streams by without a shuffle. */
  private def broadcastScored(queries: DataFrame, corpus: DataFrame,
                              idCol: String): DataFrame = {
    val qn = queries.withColumn("na", sqNorm(col("qv")))
      .select(col(idCol).as("query_id"), col("qv").as("qa"), col("na"))
    val cn = corpus.withColumn("nb", sqNorm(col("qv")))
      .select(col(idCol).as("neighbor_id"), col("qv").as("qb"), col("nb"))
    cn.crossJoin(broadcast(qn))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dot(col("qa"), col("qb")))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
  }

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("dot"), col("cos"))
  }

  /** IVF-probe ANN top-k — the scale path for similarity SEARCH (vs
    * [[cosineTopK]]'s brute broadcast baseline): corpus vectors are
    * assigned to their nearest seed cell once (rank 1), each query
    * probes its `nProbe` nearest cells, and only those cells' members
    * are ranked exactly. Per-query dot products drop from |corpus| to
    * the probed cells' population (≈ nProbe/nCells of the corpus);
    * recall misses only true neighbors living outside the probed cells.
    * Candidate generation is an equi join on the cell id — partitioned
    * by cell on both sides, no cross join past the tiny broadcast seed
    * table. Same deterministic seed scheme as [[ivfNearDupPairs]], so
    * an external SQL engine mirrors the whole path bit-for-bit.
    */
  /** The nCells fixed seed rows with their norms — the IVF coarse
    * quantizer shared by [[ivfTopK]], [[ivfPqTopK]], [[ivfNearDupPairs]]. */
  private def ivfSeeds(corpus: DataFrame, idCol: String, nCells: Int): DataFrame =
    corpus.filter(col(idCol) < nCells)
      .select(col(idCol).as("seed_id"), col("qv").as("sv"))
      .withColumn("snorm", sqrt(sqNorm(col("sv")).cast("double")))

  /** Each row's n highest-cosine seed cells (ties to the smaller seed):
    * (idCol, cell). The seed table broadcasts. */
  private def nearestCells(df: DataFrame, seeds: DataFrame, idCol: String,
                           n: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("seed_id"))
    df.select(col(idCol), col("qv")).crossJoin(broadcast(seeds))
      .withColumn("score",
        dot(col("qv"), col("sv")).cast("double") / col("snorm"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .select(col(idCol), col("seed_id").as("cell"))
  }

  /** IVF CELL OCCUPANCY PROFILE — the index-health / embedding-coverage
    * diagnostic read before an IVF rollout: per cell, the member count
    * and corpus share. Skewed occupancy means per-query probe cost
    * varies wildly and the same-cell candidate bound Σ|cell|²
    * concentrates in the hot cells; more cells or better seeds are
    * decided from exactly this table. Assignment is the rank-1 nearest
    * seed (ties to the smaller seed) — the deterministic quantized
    * scheme every ivf* operator shares, so the profile describes the
    * real index. One hash agg; the share is the single division.
    *
    * Output: (cell, n_vecs, share).
    */
  def ivfCellProfile(corpus0: DataFrame, idCol: String, embCol: String,
                     nCells: Int = 16): DataFrame = {
    val corpus = quantize(corpus0, idCol, embCol)
    val seeds = ivfSeeds(corpus, idCol, nCells)
    val counts = nearestCells(corpus, seeds, idCol, 1)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    val total = counts.agg(sum(col("n_vecs")).as("__tot"))
    counts.crossJoin(broadcast(total))
      .select(col("cell"), col("n_vecs"),
        (col("n_vecs").cast("double") / col("__tot").cast("double")).as("share"))
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, k: Int,
              nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val seeds = ivfSeeds(corpus, idCol, nCells)
    val cells = nearestCells(corpus, seeds, idCol, 1)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    val probes = nearestCells(queries, seeds, idCol, nProbe)
      .select(col(idCol).as("query_id"), col("cell"))
    // rank-1 corpus assignment => a (query, neighbor) arises from at most
    // one probed cell: no distinct needed
    val cand = probes.join(cells, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val scored = cand
      .join(queries.withColumn("na", sqNorm(col("qv")))
        .select(col(idCol).as("query_id"), col("qv").as("qa"), col("na")),
        "query_id")
      .join(corpus.withColumn("nb", sqNorm(col("qv")))
        .select(col(idCol).as("neighbor_id"), col("qv").as("qb"), col("nb")),
        "neighbor_id")
      .withColumn("dot", dot(col("qa"), col("qb")))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("dot"), col("cos"))
  }

  /** IVF-PQ ANN top-k — the full FAISS IndexIVFPQ shape (Jégou 2011):
    * the coarse quantizer ([[ivfSeeds]]/[[nearestCells]]) routes each
    * query to its `nProbe` nearest of `nCells` inverted lists, and
    * within the probed population scoring runs over PQ RECONSTRUCTIONS
    * ([[pqRecon]]) instead of full vectors — candidate volume drops to
    * ~nProbe/nCells of the corpus AND each candidate read is m codes,
    * not dim floats. The two mechanisms compose without interaction:
    * cells bound WHO is scored, PQ bounds WHAT a score costs.
    *
    * Scale shape: both quantizers are broadcast tables; candidates are
    * an equi join on the cell id; scores are exact longs (fused dot on
    * integer reconstructions); per-query top-k is the bounded-state
    * TopKAgg. Deterministic end-to-end, mirrored relationally.
    *
    * Output: (query_id, rnk, neighbor_id, score_pq).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String, k: Int,
                nCells: Int = 16, nProbe: Int = 4, dim: Int = 64,
                m: Int = 8, nCodes: Int = 16): DataFrame = {
    val seeds = ivfSeeds(corpus, idCol, nCells)
    val cells = nearestCells(corpus, seeds, idCol, 1)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    val probes = nearestCells(queries, seeds, idCol, nProbe)
      .select(col(idCol).as("query_id"), col("cell"))
    // rank-1 corpus assignment => at most one probed cell per pair
    val cand = probes.join(cells, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val recon = pqRecon(corpus, idCol, dim, m, nCodes)
      .select(col(idCol).as("neighbor_id"), col("recon"))
    val topk = udaf(new graft.expr.TopKAgg(k))
    cand
      .join(recon, "neighbor_id")
      .join(broadcast(
        queries.select(col(idCol).as("query_id"), col("qv").as("qq"))),
        "query_id")
      .withColumn("score_pq", dot(col("qq"), col("recon")))
      .groupBy(col("query_id"))
      .agg(topk(col("score_pq"), col("neighbor_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("neighbor_id"), col("col.value").as("score_pq"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Embedding near-dup pairs above a cosine threshold — the exhaustive
    * exact kernel. This is the *verification baseline* (oracle-checkable
    * at test scale); the production path generates candidates with LSH
    * ([[srpNearDupPairs]] or [[MLlibOps.annVerifiedNearDups]]) and only
    * verifies those.
    */
  def nearDupPairs(q: DataFrame, idCol: String, minCos: Double): DataFrame =
    cosinePairs(q, idCol).filter(col("cos") >= minCos)

  /** Verify candidate (a, b) pairs with the exact quantized cosine: join
    * the pair list back to the vectors on the two equi id keys and keep
    * pairs at or above `minCos`. Precision is exact regardless of how the
    * candidates were generated; only recall depends on the candidate
    * stage. `q`: (id, qv) from [[quantize]].
    */
  def verifyPairs(cand: DataFrame, q: DataFrame, idCol: String, minCos: Double): DataFrame = {
    val withN = q.withColumn("nn", sqNorm(col("qv")))
    cand
      .join(withN.select(col(idCol).as("a"), col("qv").as("qa"), col("nn").as("na")), "a")
      .join(withN.select(col(idCol).as("b"), col("qv").as("qb"), col("nn").as("nb")), "b")
      .withColumn("dot", dot(col("qa"), col("qb")))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cos") >= minCos)
      .select(col("a"), col("b"), col("dot"), col("cos"))
  }

  /** Embedding near-dup detection, 100 TB shape: deterministic SRP-LSH
    * band candidates ([[SrpLsh]]) verified by the exact quantized cosine.
    * No cross join anywhere — candidate generation shuffles on the band
    * key, verification on the pair ids. Recall follows the standard LSH
    * S-curve in the pair cosine (≈ `1−(1−p^r)^L`, p = 1−θ/π); precision
    * is exact.
    */
  def srpNearDupPairs(emb: DataFrame, idCol: String, embCol: String, minCos: Double,
                      dim: Int, bandBits: Int = SrpLsh.DefaultBandBits,
                      bands: Int = SrpLsh.DefaultBands): DataFrame = {
    val q = quantize(emb, idCol, embCol).cache()
    q.count() // eager: feeds the signature and both verify sides
    verifyPairs(srpCandidates(q, idCol, dim, bandBits, bands), q, idCol, minCos)
  }

  /** The SRP band CANDIDATE pairs alone (pre-verify) — the surface a
    * measured-recall audit compares against exhaustive truth (the
    * `sim_ann_recall` query): recall printed per corpus beats the
    * 1−(1−p^r)^L S-curve assumed per paper. `q`: (id, qv).
    */
  def srpCandidates(q: DataFrame, idCol: String, dim: Int,
                    bandBits: Int = SrpLsh.DefaultBandBits,
                    bands: Int = SrpLsh.DefaultBands): DataFrame = {
    val cs = SrpLsh.coefficients(bandBits * bands, dim)
    // eager: the 60-projection signature feeds BOTH sides of the band
    // self-join — uncached it would be computed twice
    val sig = q.select(col(idCol), SrpLsh.signature(col("qv"), cs).as("sig")).cache()
    sig.count()
    SrpLsh.bandedCandidates(sig, idCol, bandBits, bands)
  }

  /** IVF-style ANN: assign every vector to its nearest centroid cell
    * (argmax cosine against a small broadcast centroid table — here the
    * first `nCells` corpus vectors as deterministic seeds; at scale the
    * centroids come from a seeded KMeans fit), generate candidates as
    * same-cell pairs (an equi join on the cell id), verify exactly.
    * Candidate volume is Σ|cell|² instead of n² — the inverted-file
    * shape; recall misses only cross-cell pairs (probe > 1 cells to
    * trade cost for recall). Fully relational, so an external SQL engine
    * mirrors it verbatim.
    */
  /** PRODUCT-QUANTIZATION ADC top-k (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search") — the compression step
    * between scalar quantization ([[sqAdcTopK]]: one code per DIMENSION)
    * and full vectors: the 64-dim space splits into `m` subspaces, each
    * subvector snaps to its nearest of `nCodes` codebook entries, so a
    * vector stores `m` small codes (8 bytes at m=8/nCodes=16 vs 256
    * bytes of floats — the memory ratio that lets a 100 TB corpus's
    * index live in RAM). Queries stay full precision (asymmetric
    * distance computation): score = query · reconstruction.
    *
    * Codebooks here are the subvectors of the `nCodes` fixed SEED rows
    * (`idCol < nCodes`) so an external engine mirrors training
    * relationally — the same contrast as IVF ([[ivfNearDupPairs]] seed
    * rows vs `MLlibOps.kmeansCells` fitted centroids): at 100 TB these
    * become per-subspace k-means codebooks; encode/ADC below is
    * unchanged.
    *
    * Scale shape: the codebook table (m·nCodes tiny rows) BROADCASTS;
    * encode is a map-side `min(struct(d2, code, cvec))` partial agg —
    * the corpus never shuffles by more than (id, sub) keys; scoring
    * reuses the fused integer dot against broadcast queries and the
    * bounded-state TopKAgg. All integer math end-to-end.
    *
    * Output: (query_id, rnk, neighbor_id, score_pq).
    */
  /** PQ encode + reconstruct: (idCol, recon) with recon = the
    * concatenation of each subspace's nearest codebook entry — the
    * shared stage of [[pqAdcTopK]] and [[ivfPqTopK]]. Codebook
    * broadcasts; encode is a map-side argmin partial agg.
    */
  private def pqRecon(corpus: DataFrame, idCol: String,
                      dim: Int, m: Int, nCodes: Int): DataFrame = {
    require(dim % m == 0, s"need m | dim, got dim=$dim m=$m")
    val sub = dim / m
    val toSubs = expr(
      s"posexplode(transform(sequence(0, ${m - 1}), j -> slice(qv, j * $sub + 1, $sub)))")
    val books = corpus.filter(col(idCol) < nCodes)
      .select(col(idCol).as("code"), col("qv"))
      .select(col("code"), toSubs)
      .select(col("pos").as("sub_id"), col("code"), col("col").as("cvec"),
        dot(col("col"), col("col")).as("cn2"))
    val codes = corpus.select(col(idCol), toSubs)
      .select(col(idCol), col("pos").as("sub_id"), col("col").as("v"))
      .join(broadcast(books), "sub_id")
      // d2 = |v|² + |c|² − 2·v·c — the exact long identity for
      // Σ(x−y)²; three fused dots (|c|² staged on the tiny book side)
      // replace the interpreted zip_with+aggregate HOF pair (§4)
      .withColumn("d2",
        dot(col("v"), col("v")) + col("cn2")
          - lit(2L) * dot(col("v"), col("cvec")))
      // argmin as a partial-merge agg, not a window: struct ordering is
      // (d2, code)-lexicographic and code is unique -> deterministic
      .groupBy(col(idCol), col("sub_id"))
      .agg(min(struct(col("d2"), col("code"), col("cvec"))).as("best"))
    codes.groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub_id"), col("best.cvec").as("cvec")))),
        s => s.getField("cvec"))).as("recon"))
  }

  /** L242 — PQ QUANTIZATION-DISTORTION AUDIT: per subspace, the exact
    * squared error between each vector's slice and its assigned
    * codeword (the same 16-seed-codebook assignment [[pqRecon]] and
    * the ADC scorers use) — the index-health table read before
    * trusting PQ scores: a subspace whose distortion dwarfs the others
    * is under-coded there (rotate, re-train, or raise nCodes), and
    * distortion DRIFT between corpus snapshots means the frozen
    * codebook no longer fits the data. All integers exact (quantized
    * e4 components; d2 sums bounded by n·sub·(2·maxq)²).
    *
    * Scale shape: the pqRecon assignment join (broadcast codebooks,
    * map-side argmin agg) + one ≤ m-row rollup — no new shuffle
    * beyond the encode itself.
    *
    * Output: (sub_id, n_vecs, sum_d2, max_d2).
    */
  def pqDistortion(corpus: DataFrame, idCol: String, dim: Int = 64,
      m: Int = 8, nCodes: Int = 16): DataFrame = {
    require(dim % m == 0, s"need m | dim, got dim=$dim m=$m")
    val sub = dim / m
    val toSubs = expr(
      s"posexplode(transform(sequence(0, ${m - 1}), j -> slice(qv, j * $sub + 1, $sub)))")
    val books = corpus.filter(col(idCol) < nCodes)
      .select(col(idCol).as("code"), col("qv"))
      .select(col("code"), toSubs)
      .select(col("pos").as("sub_id"), col("code"), col("col").as("cvec"),
        dot(col("col"), col("col")).as("cn2"))
    corpus.select(col(idCol), toSubs)
      .select(col(idCol), col("pos").as("sub_id"), col("col").as("v"))
      .join(broadcast(books), "sub_id")
      // d2 = |v|² + |c|² − 2·v·c — the exact long identity for
      // Σ(x−y)²; three fused dots (|c|² staged on the tiny book side)
      // replace the interpreted zip_with+aggregate HOF pair (§4)
      .withColumn("d2",
        dot(col("v"), col("v")) + col("cn2")
          - lit(2L) * dot(col("v"), col("cvec")))
      .groupBy(col(idCol), col("sub_id"))
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .groupBy(col("sub_id"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("best.d2")).as("sum_d2"), max(col("best.d2")).as("max_d2"))
      .select(col("sub_id").cast("long").as("sub_id"), col("n_vecs"),
        col("sum_d2"), col("max_d2"))
  }

  def pqAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                k: Int, dim: Int = 64, m: Int = 8, nCodes: Int = 16): DataFrame = {
    val topk = udaf(new graft.expr.TopKAgg(k))
    pqRecon(corpus, idCol, dim, m, nCodes)
      .crossJoin(broadcast(
        queries.select(col(idCol).as("query_id"), col("qv").as("qq"))))
      .filter(col("query_id") =!= col(idCol))
      .withColumn("score_pq", dot(col("qq"), col("recon")))
      .groupBy(col("query_id"))
      .agg(topk(col("score_pq"), col(idCol)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("neighbor_id"), col("col.value").as("score_pq"))
      .orderBy(col("query_id"), col("rnk"))
  }

  def ivfNearDupPairs(emb: DataFrame, idCol: String, embCol: String,
                      minCos: Double, nCells: Int = 16): DataFrame = {
    val q = quantize(emb, idCol, embCol).cache()
    q.count() // eager: feeds the seed table, cell assignment, and verify
    verifyPairs(ivfCandidates(q, idCol, nCells), q, idCol, minCos)
  }

  /** The rank-1 IVF cell assignment (id, cell) every ivf* operator
    * shares: nearest of the `nCells` seed vectors by quantized cosine,
    * ties to the smaller seed. Row-local given the broadcast seeds, so a
    * SLICE of the corpus gets exactly the full corpus's assignments
    * restricted to it — which is what lets one session-memoized table
    * serve full-corpus dedup AND the bounded recall audit. Caller
    * caches (both sides of the candidate self-join read it).
    */
  def ivfCells(q: DataFrame, idCol: String, nCells: Int = 16): DataFrame = {
    val seeds = q.filter(col(idCol) < nCells)
      .select(col(idCol).as("seed_id"), col("qv").as("sv"))
      .withColumn("snorm", sqrt(sqNorm(col("sv")).cast("double")))
    val scored = q.select(col(idCol), col("qv"))
      .crossJoin(broadcast(seeds))
      .withColumn("score",
        dot(col("qv"), col("sv")).cast("double") / col("snorm"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("seed_id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("seed_id").as("cell"))
  }

  /** L113 — IVF CODEBOOK TRAINING (the FAISS `train` step): Lloyd
    * iterations on the unit sphere over the quantized corpus, starting
    * from the first-nCells seed init every ivf* operator uses. The
    * refinement loop is the production answer to a skewed
    * [[ivfCellProfile]]: centroids re-seat to their members' mean
    * direction and occupancy evens out. Centroids are EXACT INTEGER SUM
    * vectors throughout — cosine against a cell mean equals cosine
    * against the cell SUM (the positive 1/n scaling cancels), so no
    * float centroid ever exists, there is no accumulation drift, and an
    * external engine replays training bit-for-bit. Assignment: argmax
    * of score = exact-long dot / sqrt(exact-long norm²) (one IEEE sqrt
    * + one division, same association in the oracle), ties to the
    * smaller cell id; a cell that loses every member vanishes (no
    * respawn — deterministic).
    *
    * Scale shape per iteration: broadcast ≤ nCells sum vectors; one
    * fused-dot argmax pass over the corpus; one map-side-combined
    * dim-parallel SUM per cell. `iters` is small and fixed — the loop
    * is driver-side plan composition, never driver-side data.
    *
    * Output: (cell, n_vecs, csum_sq) — final-assignment member count
    * and Σ component² of the final integer sum-centroid per surviving
    * cell. `q`: (idCol, qv) from [[quantize]].
    */
  def ivfTrain(q: DataFrame, idCol: String, dim: Int, nCells: Int = 16,
               iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var cents = q.filter(col(idCol) < nCells)
      .select(col(idCol).as("cell"), col("qv").as("cv"),
        lit(1L).as("n_vecs"))
    var it = 0
    while (it < iters) {
      val scored = q.select(col(idCol), col("qv"))
        .crossJoin(broadcast(cents.withColumn("cnorm",
          sqrt(aggregate(col("cv"), lit(0L), (a, x) => a + x * x).cast("double")))
          .select(col("cell"), col("cv"), col("cnorm"))))
        .withColumn("score",
          dot(col("qv"), col("cv")).cast("double") / col("cnorm"))
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("score").desc, col("cell"))
      cents = scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .groupBy(col("cell"))
        .agg(array((0 until dim).map(i => sum(col("qv").getItem(i))): _*).as("cv"),
          count(lit(1)).as("n_vecs"))
      it += 1
    }
    cents.select(col("cell"), col("n_vecs"),
      aggregate(col("cv"), lit(0L), (a, x) => a + x * x).as("csum_sq"))
  }

  /** L118 — MARGIN-BASED CROSS-SIDE PAIR MINING (Artetxe & Schwenk
    * 2019 — the CCMatrix/LASER bitext-mining criterion): align items
    * across two corpus sides (languages, modalities, snapshot
    * generations) by requiring a pair to be (a) MUTUAL best among
    * candidates in both directions and (b) a clear winner by the RATIO
    * MARGIN best/runner-up ≥ `minMargin` — the margin test is what
    * kills hub vectors (items near everything) that an absolute cosine
    * threshold happily admits, and mutuality kills asymmetric
    * hub-spoke matches.
    *
    * Candidates are same-IVF-cell cross-side pairs (the [[ivfCells]]
    * broadcast-seed assignment — at production scale the [[ivfTrain]]
    * codebook drops in unchanged) — NEVER all-pairs; scoring is the
    * exact quantized cosine (one long dot, two IEEE sqrts, one
    * division — the [[verifyPairs]] idiom, bit-replayable). Both
    * direction argmaxes are row_number windows over the candidate set,
    * keyed by the pair endpoints; ties break to the smaller id. A best
    * match with NO runner-up in its cell has no measurable margin and
    * is dropped (deterministic; at mining scale cells are never
    * singleton). Runner-up cosine must be > 0 — a ratio against a
    * non-positive runner-up is meaningless.
    *
    * Output: (a, b, cos, margin) accepted pairs, a from side 0, b from
    * side 1.
    */
  def marginMine(emb: DataFrame, idCol: String, embCol: String,
                 sideCol: String, minMargin: Double,
                 nCells: Int = 16): DataFrame = {
    val q = quantize(emb, idCol, embCol)
      .join(emb.select(col(idCol), col(sideCol).cast("int").as("__side")),
        idCol)
      .cache()
    q.count() // eager: feeds the seed table, cell assignment, both sides
    // cache: qa and qb below both read the cell assignment, and the
    // row_number window over the broadcast-seed cross join would
    // otherwise be recomputed per side (the ivfCandidates pattern).
    val cells = ivfCells(q.select(col(idCol), col("qv")), idCol, nCells).cache()
    cells.count()
    val withAll = q.join(cells, idCol).withColumn("nn", sqNorm(col("qv")))
    val qa = withAll.filter(col("__side") === 0)
      .select(col(idCol).as("a"), col("qv").as("qa"), col("nn").as("na"),
        col("cell"))
    val qb = withAll.filter(col("__side") === 1)
      .select(col(idCol).as("b"), col("qv").as("qb"), col("nn").as("nb"),
        col("cell"))
    val scored = qa.join(qb, "cell")
      .withColumn("dot", dot(col("qa"), col("qb")))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .select(col("a"), col("b"), col("cos"))
    val wa = Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b"))
    val ranked = scored.withColumn("__ra", row_number().over(wa))
    val best = ranked.filter(col("__ra") === 1)
      .select(col("a"), col("b"), col("cos").as("c1"))
    val runner = ranked.filter(col("__ra") === 2)
      .select(col("a"), col("cos").as("c2"))
    val wb = Window.partitionBy(col("b")).orderBy(col("cos").desc, col("a"))
    val bBest = scored.withColumn("__rb", row_number().over(wb))
      .filter(col("__rb") === 1)
      .select(col("b").as("rb"), col("a").as("ra"))
    best.join(runner, "a")
      .join(bBest, col("b") === col("rb") && col("a") === col("ra"))
      .filter(col("c2") > 0d && col("c1") / col("c2") >= minMargin)
      .select(col("a"), col("b"), col("c1").as("cos"),
        (col("c1") / col("c2")).as("margin"))
  }

  /** L121 — DBSCAN DENSITY CLUSTERING (Ester et al. 1996) over a
    * similarity pair graph — the noise-robust cluster labeling between
    * near-dup pair generation and canonical selection: where CC (L19)
    * labels EVERY pair endpoint and LPA (L116) votes, DBSCAN demands
    * DENSITY — only nodes with ≥ `minPts` neighbors above the cosine
    * gate (core points) form clusters, sparse bridge nodes become
    * border members of one cluster instead of gluing two, and isolated
    * matches drop as noise entirely. ε is implicit in the pair table's
    * cosine threshold (candidates from IVF cells — the documented
    * bounded-recall flavor, same as SemDeDup), so the input IS the
    * ε-neighborhood graph and clustering is pure graph algebra:
    * degree count → core gate → connected components over CORE-CORE
    * edges only → border assignment to the min core-neighbor cluster.
    * All integer, deterministic (CC labels are min node ids).
    *
    * Scale shape: one symmetrize + degree aggregation, two keyed
    * semi/anti joins, the O(log² n) star-contraction CC on the (much
    * smaller) core subgraph, one min-aggregation for borders. Nothing
    * quadratic beyond the pair table the caller already bounded.
    *
    * Output: (node, role 'core'|'border', cluster) — noise omitted.
    */
  def dbscanClusters(pairs: DataFrame, aCol: String, bCol: String,
                     minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val sym = pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .unionByName(
        pairs.select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v")))
      .localCheckpoint(true)
    // eager cache: the core set feeds FOUR plan branches (both ends of
    // the core-edge filter, the border anti join, the label base) —
    // uncached, the symmetric-degree aggregate ran once per branch
    val core = sym.groupBy(col("u")).agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") >= minPts).select(col("u").as("node"))
      .cache()
    core.count()
    val coreEdges = sym
      .join(core.select(col("node").as("u")), "u")
      .join(core.select(col("node").as("v")), "v")
      .filter(col("u") < col("v"))
      .select(col("u").as("a"), col("v").as("b"))
    val cc = Dedup.connectedComponents(coreEdges, "a", "b")
    val coreLbl = core
      .join(cc.withColumnRenamed("id", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("cluster"))
    val borderLbl = sym
      .join(coreLbl.select(col("node").as("v"), col("cluster")), "v")
      .join(core.select(col("node").as("u")), Seq("u"), "left_anti")
      .groupBy(col("u").as("node")).agg(min(col("cluster")).as("cluster"))
    coreLbl.withColumn("role", lit("core"))
      .unionByName(borderLbl.withColumn("role", lit("border")))
      .select(col("node"), col("role"), col("cluster"))
  }

  /** Same-cell candidate pairs from a (cached) [[ivfCells]] table. */
  def ivfCandidatesFrom(cells: DataFrame, idCol: String): DataFrame =
    cells.select(col(idCol).as("a"), col("cell"))
      .join(cells.select(col(idCol).as("b"), col("cell")), Seq("cell"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))

  /** [[ivfCellProfile]] over a precomputed [[ivfCells]] assignment. */
  def ivfCellProfileFrom(cells: DataFrame): DataFrame = {
    val counts = cells.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    val total = counts.agg(sum(col("n_vecs")).as("__tot"))
    counts.crossJoin(broadcast(total))
      .select(col("cell"), col("n_vecs"),
        (col("n_vecs").cast("double") / col("__tot").cast("double")).as("share"))
  }

  /** The IVF same-cell CANDIDATE pairs alone (pre-verify) — recall
    * misses exactly the cross-cell pairs; audited against exhaustive
    * truth by `sim_ann_recall`. `q`: (id, qv).
    */
  def ivfCandidates(q: DataFrame, idCol: String, nCells: Int = 16): DataFrame = {
    val cells = ivfCells(q, idCol, nCells).cache()
    cells.count() // eager: both sides of the candidate self-join reuse it
    ivfCandidatesFrom(cells, idCol)
  }

  /** L126 — SEMANTIC DECONTAMINATION: the embedding-space counterpart
    * of n-gram benchmark decontamination ([[Curation.decontaminate]]).
    * Paraphrased eval leakage shares no shingles with the benchmark but
    * sits close in embedding space, so the scan flags every corpus
    * vector whose cosine to ANY probe (benchmark/eval) vector reaches
    * `minCos`. Probe membership here is the deterministic id predicate
    * `id % probeMod == 0` (a stand-in for the real eval-set id list).
    *
    * Scale shape: both sides take their cell from the SAME precomputed
    * IVF assignment (`cells`), so candidate generation is an equi join
    * on the cell id with the tiny probe side — per corpus vector the
    * work is its cell's probe population, never |probes|, and nothing
    * resembling a cross join exists. Exact cosine verify then an argmax
    * per flagged vector: (vec_id, nearest_probe, dot, cos, n_hits) —
    * the removal list with the evidence a leakage audit wants. Recall
    * misses only cross-cell pairs, the same envelope `sim_ann_recall`
    * audits for this assignment.
    */
  def semanticDecontaminate(cells: DataFrame, q: DataFrame, idCol: String,
                            probeMod: Long, minCos: Double): DataFrame = {
    val probes = cells.filter(pmod(col(idCol), lit(probeMod)) === 0L)
      .select(col(idCol).as("b"), col("cell"))
    val corpus = cells.filter(pmod(col(idCol), lit(probeMod)) =!= 0L)
      .select(col(idCol).as("a"), col("cell"))
    val hits = verifyPairs(
      corpus.join(probes, Seq("cell")).select(col("a"), col("b")),
      q, idCol, minCos)
    val byDoc = Window.partitionBy(col("a"))
    hits
      .withColumn("n_hits", count(lit(1)).over(byDoc))
      .withColumn("__rn",
        row_number().over(byDoc.orderBy(col("cos").desc, col("b"))))
      .filter(col("__rn") === 1)
      .select(col("a").as("vec_id"), col("b").as("nearest_probe"),
        col("dot"), col("cos"), col("n_hits"))
  }

  /** L132 — GREEDY k-CENTER CORESET (farthest-point sampling), the
    * classic data-pruning / representative-selection baseline: start
    * from the smallest id, then k−1 times add the point most DIFFERENT
    * from everything selected so far — argmin over the corpus of the
    * max cosine to the selected set, ties to the smaller id. The
    * selected k points 2-approximate the optimal k-center cover.
    *
    * Scale shape: each of the k−1 waves is ONE corpus pass — the ≤ k
    * selected rows broadcast (anti-join to exclude them, cross to
    * score), the per-point max is a map-side-combined aggregate, and
    * the argmin is `TakeOrderedAndProject` (a reduce, not a sort). k is
    * small and fixed; the loop composes plans, never moves data through
    * the driver, and each wave's 4-row result is localCheckpoint-
    * truncated so wave w never re-runs wave w−1's pass. All scores are
    * exact-long dots + one double division — the oracle unrolls every
    * wave and must match bit-for-bit.
    *
    * Output: (rank, id, sel_cos) — sel_cos is the winning max-cosine
    * (the selection score; −1.0 for the seed, which has no prior set).
    */
  def coresetGreedy(q: DataFrame, idCol: String, k: Int = 4): DataFrame = {
    val withN = q.withColumn("nn", sqNorm(col("qv")))
    var reps = withN.orderBy(col(idCol)).limit(1)
      .select(col(idCol).as("rep_id"), col("qv").as("rqv"), col("nn").as("rnn"),
        lit(1L).as("rank"), lit(-1.0).as("sel_cos"))
      .localCheckpoint(true)
    var step = 2
    while (step <= k) {
      val repsB = broadcast(reps.select(col("rep_id"), col("rqv"), col("rnn")))
      val mc = withN
        .join(repsB.select(col("rep_id")), col(idCol) === col("rep_id"), "left_anti")
        .crossJoin(repsB)
        .withColumn("c", dot(col("qv"), col("rqv")).cast("double") /
          (sqrt(col("nn").cast("double")) * sqrt(col("rnn").cast("double"))))
        .groupBy(col(idCol)).agg(max(col("c")).as("mc"))
      val winner = mc.join(withN, idCol)
        .orderBy(col("mc"), col(idCol)).limit(1)
        .select(col(idCol).as("rep_id"), col("qv").as("rqv"), col("nn").as("rnn"),
          lit(step.toLong).as("rank"), col("mc").as("sel_cos"))
      reps = reps.unionByName(winner).localCheckpoint(true)
      step += 1
    }
    reps.select(col("rank"), col("rep_id").as(idCol), col("sel_cos"))
  }

  /** L133 — LATE-INTERACTION (ColBERT-style MaxSim) RETRIEVAL: each
    * side is a BAG of sub-vectors and the pair score is
    * `Σ_i max_j dot(q_i, d_j)` — per query sub-vector, the best-
    * matching doc sub-vector, summed. The aggregation shape single-
    * vector cosine can't express: a near-dup of one query FACET scores
    * that facet fully even when the doc's other facets differ. Here
    * the sub-vector bags come from an even split of the quantized
    * embedding into `nSub` slices (the multi-vector shape; a real
    * deployment feeds per-token vectors through the same plan).
    *
    * Kept EXACT end-to-end: raw integer dots (late interaction over
    * pre-normalized embeddings uses dots, not cosines), max over longs,
    * sum over longs — both order-free, so partial aggregation commutes
    * and an external engine matches bit-for-bit (a double-sum here
    * would be association-sensitive across partitions).
    *
    * Scale shape: the query bag broadcasts; the corpus explodes ×nSub
    * once and streams through one fused-dot projection, a max
    * aggregate, a sum aggregate, and a per-query top-k window — no
    * shuffle of the corpus beyond the two map-side-combined aggregates
    * keyed by (query, doc).
    */
  def lateInteractionTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                          dim: Int, nSub: Int, k: Int): DataFrame = {
    val w = dim / nSub
    def sub(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id),
        posexplode(array((0 until nSub).map(i =>
          slice(col("qv"), i * w + 1, w)): _*)).as(Seq(s"${id}_i", s"${id}_sub")))
    val qs = sub(queries, "query_id")
    val ds = sub(corpus, "neighbor_id")
    val maxSim = ds.crossJoin(broadcast(qs))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("d", dot(col("query_id_sub"), col("neighbor_id_sub")))
      .groupBy(col("query_id"), col("neighbor_id"), col("query_id_i"))
      .agg(max(col("d")).as("ms"))
    val scored = maxSim.groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("ms")).as("score"))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(win).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("score"))
  }

  /** L136 — DIMENSION-TRUNCATION RECALL AUDIT (the Matryoshka/MRL
    * question): serving truncated embeddings is the standard
    * latency/storage lever — this measures what it costs, per query:
    * top-k under the full vectors vs top-k under the first `prefixDim`
    * dimensions, reporting the overlap count and recall. The audit
    * shape of `sim_ann_recall` applied to dimensionality instead of
    * candidate generation.
    *
    * Scale shape: two [[cosineTopK]] broadcast passes (the truncated
    * side re-slices `qv` — no second quantize pass) and one equi join
    * on (query, neighbor); queries with zero overlap still report via
    * the left join from the query id list.
    */
  def truncationRecall(queries: DataFrame, corpus: DataFrame, idCol: String,
                       prefixDim: Int, k: Int): DataFrame = {
    def trunc(df: DataFrame): DataFrame =
      df.select(col(idCol), slice(col("qv"), 1, prefixDim).as("qv"))
    val fullTop = cosineTopK(queries, corpus, idCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val truncTop = cosineTopK(trunc(queries), trunc(corpus), idCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val common = fullTop.join(truncTop, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_common"))
    queries.select(col(idCol).as("query_id"))
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (coalesce(col("n_common"), lit(0L)).cast("double")
          / lit(k).cast("double")).as("recall"))
  }

  /** L141 — PROTOTYPICALITY PRUNING (the D4 / SSL-prototypes step that
    * follows SemDeDup): within each IVF cell, rank members by cosine
    * to the cell's EXACT integer sum-centroid (cosine against the sum
    * equals cosine against the mean — the positive scaling cancels, so
    * no float centroid ever exists) and flag the top `1/dropDenom`
    * most prototypical for removal — near-centroid points are the
    * cluster's redundant core; keeping the diverse shell is the
    * documented data-efficiency win.
    *
    * Scale shape: the centroid aggregation is `dim` map-side-combined
    * SUMs (one row per cell); the tiny centroid table broadcasts; the
    * scoring pass is one fused dot per member; the rank is a per-cell
    * window. The drop rule `rank · dropDenom ≤ cellSize` is exact
    * integer arithmetic.
    */
  def prototypicalPrune(cells: DataFrame, q: DataFrame, idCol: String,
                        dim: Int, dropDenom: Int): DataFrame = {
    val joined = cells.join(q.withColumn("nn", sqNorm(col("qv"))), idCol)
    val cents = joined.groupBy(col("cell"))
      .agg(array((0 until dim).map(i => sum(col("qv").getItem(i))): _*).as("cv"),
        count(lit(1)).as("cn"))
      .withColumn("cnorm",
        sqrt(aggregate(col("cv"), lit(0L), (a, x) => a + x * x).cast("double")))
    val scored = joined.join(broadcast(cents), Seq("cell"))
      .withColumn("proto", dot(col("qv"), col("cv")).cast("double")
        / (sqrt(col("nn").cast("double")) * col("cnorm")))
    val win = Window.partitionBy(col("cell"))
      .orderBy(col("proto").desc, col(idCol))
    scored.withColumn("rnk", row_number().over(win).cast("long"))
      .select(col("cell"), col(idCol), col("rnk"), col("proto"),
        (col("rnk") * dropDenom <= col("cn")).as("dropped"))
  }

  final case class MmrCand(queryId: Long, neighborId: Long, rel: Double,
                           qv: Array[Long], nn: Long)
  final case class MmrPick(query_id: Long, sel_rank: Long, neighbor_id: Long,
                           mmr: Double)

  /** L127 — MMR DIVERSIFIED TOP-K (Maximal Marginal Relevance, the
    * classic retrieval re-ranker): plain top-k over a near-dup-heavy
    * corpus returns k copies of the same document; MMR greedily picks
    * `selectK` results from the top-`poolK` relevance pool, scoring
    * each remaining candidate by `rel − max_{s∈S} cos(d, s)` (λ = ½ up
    * to the common positive scale) so the second pick is pushed away
    * from the first — RAG context assembly and eval-set selection both
    * run exactly this.
    *
    * Scale shape: the relevance pool comes from [[cosineTopK]] (query
    * side broadcast; at corpus scale feed [[ivfTopK]] output instead —
    * the re-rank stage is identical) and the greedy loop runs inside
    * `flatMapGroups` over ONE query's ≤ poolK candidates — bounded
    * state, no cross join, no driver involvement. All similarities are
    * exact-long dots over the quantized vectors with one double
    * division, so every greedy decision — including ties, which break
    * to the smaller id — replays bit-identically in an external engine.
    */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              poolK: Int, selectK: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val pool = cosineTopK(queries, corpus, idCol, poolK)
    pool
      .join(corpus.select(col(idCol).as("neighbor_id"), col("qv"),
        sqNorm(col("qv")).as("nn")), "neighbor_id")
      .select(col("query_id").as("queryId"), col("neighbor_id").as("neighborId"),
        col("cos").as("rel"), col("qv"), col("nn"))
      .as[MmrCand]
      .groupByKey(_.queryId)
      .flatMapGroups { (qid: Long, it: Iterator[MmrCand]) =>
        val remaining = scala.collection.mutable.ArrayBuffer(it.toSeq: _*)
        val selected = scala.collection.mutable.ArrayBuffer[MmrCand]()
        val out = scala.collection.mutable.ArrayBuffer[MmrPick]()
        def cosOf(d: MmrCand, s: MmrCand): Double = {
          var dot = 0L; var i = 0
          while (i < d.qv.length) { dot += d.qv(i) * s.qv(i); i += 1 }
          dot.toDouble / (math.sqrt(d.nn.toDouble) * math.sqrt(s.nn.toDouble))
        }
        var rank = 1L
        while (rank <= selectK && remaining.nonEmpty) {
          var bestIdx = -1; var bestScore = 0.0
          var i = 0
          while (i < remaining.length) {
            val d = remaining(i)
            val m =
              if (selected.isEmpty) d.rel
              else d.rel - selected.iterator.map(cosOf(d, _)).max
            if (bestIdx < 0 || m > bestScore ||
              (m == bestScore && d.neighborId < remaining(bestIdx).neighborId)) {
              bestIdx = i; bestScore = m
            }
            i += 1
          }
          val pick = remaining.remove(bestIdx)
          selected += pick
          out += MmrPick(qid, rank, pick.neighborId, bestScore)
          rank += 1
        }
        out.iterator
      }
      .toDF()
  }

  /** L264 — 1-BIT BINARY QUANTIZATION recall audit (the BQ/RaBitQ
    * family): every dimension collapses to `sign(q_d·n − Σ_d)` (the
    * division-free mean threshold — comparing q_d·n against the dim
    * sum avoids the div-vs-floor cross-engine trap on negative means),
    * and the 64 bits PACK INTO ONE LONG, so candidate scoring is
    * `bit_count(code XOR qcode)` — one popcount per candidate instead
    * of a 64-term dot product. That 32×-compression + popcount scan is
    * the modern first stage for billion-vector ANN (quantized codes
    * resident in memory, float vectors on disk for the re-rank); this
    * op audits what the Hamming radius buys: per query, the candidate
    * set `ham ≤ maxHamming` against the exact-cosine truth `cos ≥ τ`
    * over the same slice.
    *
    * Scale shape: the code table is one projection (stats broadcast);
    * the audit scan broadcasts the bounded query slice (the L105
    * posture) — at production scale the popcount scan shards
    * embarrassingly and the truth pass is exactly what it replaces.
    *
    * Input `q`: (idCol, qv) from [[quantize]]. Output per query:
    * (qid, n_scored, n_cand, n_true, n_common, recall; −1 when the
    * query has no true partners).
    */
  def binaryQuantAudit(q: DataFrame, idCol: String, dim: Int,
      nQueries: Long, maxHamming: Int, cosTau: Double): DataFrame = {
    require(dim >= 1 && dim <= 64,
      s"single-word packed codes cover dim <= 64, got $dim")
    val stats = q.agg(count(lit(1)).as("n"),
      array((0 until dim).map(i => sum(element_at(col("qv"), i + 1))): _*)
        .as("sv"))
    val coded = q.crossJoin(broadcast(stats))
      .select(col(idCol), col("qv"),
        expr(s"aggregate(transform(sequence(0, ${dim - 1}), " +
          "i -> IF(element_at(qv, i + 1) * n > element_at(sv, i + 1), " +
          "shiftleft(1L, i), 0L)), 0L, (acc, x) -> acc | x)").as("code"),
        sqNorm(col("qv")).as("nn"))
    val queries = coded.filter(col(idCol) < nQueries)
      .select(col(idCol).as("qid"), col("code").as("qcode"),
        col("qv").as("qqv"), col("nn").as("qnn"))
    coded.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("qid"))
      .withColumn("ham", expr("bit_count(code ^ qcode)"))
      .withColumn("cos", dot(col("qv"), col("qqv"))
        .cast("double")
        / (sqrt(col("nn").cast("double")) * sqrt(col("qnn").cast("double"))))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("ham") <= maxHamming, 1L).otherwise(0L)).as("n_cand"),
        sum(when(col("cos") >= cosTau, 1L).otherwise(0L)).as("n_true"),
        sum(when(col("ham") <= maxHamming && col("cos") >= cosTau, 1L)
          .otherwise(0L)).as("n_common"))
      .withColumn("recall",
        when(col("n_true") > 0L,
          col("n_common").cast("double") / col("n_true").cast("double"))
          .otherwise(lit(-1d)))
      .orderBy(col("qid"))
  }
}
