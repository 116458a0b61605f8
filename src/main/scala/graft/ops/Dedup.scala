package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over document collections: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. Designed scale-first:
  *
  *  - exact dedup is one hash-aggregate on a fingerprint;
  *  - the Jaccard path only ever joins on a shingle/bucket/id equi key,
  *    so Catalyst plans hash joins — no quadratic cross products;
  *  - MinHash+LSH bounds candidate generation: collisions require two
  *    docs to agree on a band's minimum hash, which happens with
  *    probability ≈ Jaccard per band — random pairs virtually never
  *    collide, so the verify stage touches O(near-dups), not O(n²).
  */
object Dedup {

  /** Exact-duplicate groups by fingerprint: (fingerprint, n_dups,
    * canonical = min id). Input: (id, fp).
    */
  def exactGroups(df: DataFrame, idCol: String, fpCol: String): DataFrame =
    df.groupBy(col(fpCol))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("canonical"))
      .filter(col("n_dups") > 1)

  /** Per-document shingle lists `(id, __sh)`. `sd` is distinct per
    * (id, shingle), so a list holds each shingle once and its size is the
    * document's shingle count.
    */
  private def shingleSets(sd: DataFrame, idCol: String): DataFrame =
    sd.filter(col(idCol).isNotNull)
      .groupBy(col(idCol)).agg(collect_list(col("shingle")).as("__sh"))

  /** (a, b, common, na, nb) for candidate pairs against per-document
    * shingle lists ([[shingleSets]]): each pair joins its two documents'
    * lists once and counts commons as `size(array_intersect(…))`, in
    * either orientation. Pairs sharing no shingle are dropped, as a join
    * on the shared shingle would drop them, whatever the threshold.
    */
  private def setCommons(cand: DataFrame, sets: DataFrame,
                         idCol: String): DataFrame =
    cand
      .join(sets.select(col(idCol).as("a"), col("__sh").as("__sa")), "a")
      .join(sets.select(col(idCol).as("b"), col("__sh").as("__sb")), "b")
      .select(col("a"), col("b"), evalOnce(
        size(array_intersect(col("__sa"), col("__sb"))).cast("long").as("common"),
        size(col("__sa")).cast("long").as("na"),
        size(col("__sb")).cast("long").as("nb")))
      .filter(col("common") > 0L)

  /** `gate` over [[setCommons]], its survivors behind a hash exchange on
    * (a, b). A sort downstream samples its input stage by running it once
    * more before it shuffles; the exchange ends the stage that
    * intersects every candidate's lists, so that extra run reads only
    * the gate's survivors.
    */
  private def setVerify(cand: DataFrame, sets: DataFrame, idCol: String)(
      gate: DataFrame => DataFrame): DataFrame =
    gate(setCommons(cand, sets, idCol)).repartition(col("a"), col("b"))

  /** The named columns `cols`, computed once per row behind a one-row
    * `inline`. A gate on a plain projected column is pushed into the
    * join condition below it, with the column's expression substituted
    * at every reference: the Jaccard gate would intersect each pair's
    * lists three times, and the projection once more. A filter is never
    * pushed below the generator that produces its columns.
    */
  private def evalOnce(cols: Column*): Column = inline(array(struct(cols: _*)))

  /** Jaccard for candidate pairs: one `groupBy(id)` builds each
    * document's shingle list, the pair list joins it once on `a` and once
    * on `b`, and `common` is the size of the two lists' intersection —
    * so the verify moves one row per pair, never one row per shared
    * shingle. Input `cand`: (a, b) in either orientation; `sd`:
    * (id, shingle) distinct. Output: (a, b, common, jaccard).
    */
  def jaccardVerify(cand: DataFrame, sd0: DataFrame, idCol: String,
                    minJaccard: Double,
                    pruneToCandidates: Boolean = false): DataFrame = {
    // §3.2 semi-join pre-filter, OPT-IN: when the candidate pair set
    // touches few distinct docs (prefix-filter candidates, an
    // incremental batch probing a big corpus), dropping non-candidate
    // docs from the shingle table before the list aggregate cuts the
    // shuffled bytes to the candidate slice; when candidates cover most
    // docs (SNM's every-doc windows), the extra pass is pure overhead —
    // callers choose. A pair only reads its two endpoints' lists, so the
    // restriction is exact. The pruned form reads the candidate set
    // twice (id enumeration + the list joins) and the pruned lists
    // twice (the `a` and `b` joins): eager-cache both, so the caller's
    // candidate pipeline and the pruned list aggregate each run once
    // (Spark does not reuse an exchange whose input is a cached
    // relation, so a lazy plan aggregates the lists once per side).
    val (cnd, sets) = if (!pruneToCandidates) (cand, shingleSets(sd0, idCol)) else {
      val c = cand.cache()
      c.count()
      val ids = c.select(col("a").as(idCol))
        .unionByName(c.select(col("b").as(idCol))).distinct()
      val l = shingleSets(sd0.join(ids, Seq(idCol), "left_semi"), idCol).cache()
      l.count()
      (c, l)
    }
    setVerify(cnd, sets, idCol)(ngramJaccardPairsFrom(_, minJaccard))
  }

  /** SORTED-NEIGHBORHOOD dedup (Hernández & Stolfo 1995, the
    * merge/purge method): sort by a cheap normalized blocking key and
    * compare each row only to its `window−1` successors in key order —
    * candidate volume is O(n·window) BY CONSTRUCTION, independent of
    * the data distribution (LSH's bucket volume is data-dependent; a
    * degenerate corpus can still flood a bucket). Near-dup texts agree
    * on their normalized prefix, so they sort adjacent and land in one
    * window.
    *
    * Scale shape: one hash shuffle on the first `blockChars` normalized
    * characters (the block); the sort and the `lead`s run inside each
    * block partition — no global sort is ever materialized (classic
    * single-pass SNM needs one; blocking on the key prefix is the
    * standard blocked/multi-pass variant and keeps every comparison
    * partition-local). Pairs differing inside their first `blockChars`
    * chars are out of a single pass's reach by design — the paper's
    * remedy is a second pass under a different key, union the pairs.
    * Candidates then verify with exact Jaccard over ALL shingles
    * ([[jaccardVerify]]), so emitted pairs carry true similarity.
    *
    * Output: (a, b, common, jaccard), a < b.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, sd: DataFrame,
                              idCol: String, textCol: String,
                              keyChars: Int, blockChars: Int, window: Int,
                              minJaccard: Double): DataFrame =
    jaccardVerify(
      sortedNeighborhoodCandidates(docs, idCol, textCol, keyChars,
        blockChars, window),
      sd, idCol, minJaccard)

  /** The candidate stage of [[sortedNeighborhoodPairs]] alone:
    * (a, b) id pairs within `window` of each other in blocked
    * normalized-prefix order — plug in any verifier (Jaccard,
    * edit distance, embedding cosine).
    */
  def sortedNeighborhoodCandidates(docs: DataFrame, idCol: String,
                                   textCol: String, keyChars: Int,
                                   blockChars: Int, window: Int): DataFrame = {
    require(window >= 2 && blockChars <= keyChars,
      "need window >= 2 and blockChars <= keyChars")
    val norm = regexp_replace(lower(col(textCol)), "[^a-z0-9]", "")
    val keyed = docs.select(col(idCol),
      substring(norm, 1, keyChars).as("snm_key"),
      substring(norm, 1, blockChars).as("snm_blk"))
    val w = Window.partitionBy(col("snm_blk"))
      .orderBy(col("snm_key"), col(idCol))
    val leads = (1 until window).map(k => lead(col(idCol), k).over(w))
    keyed
      .select(col(idCol).as("a0"), array(leads: _*).as("ls"))
      .select(col("a0"), explode(col("ls")).as("b0"))
      .filter(col("b0").isNotNull)
      .select(least(col("a0"), col("b0")).as("a"),
        greatest(col("a0"), col("b0")).as("b"))
      .distinct()
  }

  /** EDIT-DISTANCE verify for candidate pairs — the record-linkage
    * verifier for SHORT text (titles, names, addresses), where
    * Levenshtein is the right similarity and Jaccard-of-shingles is
    * noise. Relative threshold: keep pairs with
    * `dist·1000 ≤ maxDistPermille·max(len_a, len_b)`.
    *
    * Scale shape: the DP is O(len_a·len_b) per pair, so the cheap
    * length bound runs FIRST — `|len_a − len_b|` is a lower bound on
    * the distance, and pairs failing it never reach the DP. Texts join
    * onto the (already small) candidate list by id; the corpus text
    * column never fans out past the candidates.
    *
    * Output: (a, b, dist, len_a, len_b).
    */
  def editDistancePairs(docs: DataFrame, cand: DataFrame, idCol: String,
                        textCol: String, maxDistPermille: Int): DataFrame = {
    val ta = docs.select(col(idCol).as("a"), col(textCol).as("__ta"))
    val tb = docs.select(col(idCol).as("b"), col(textCol).as("__tb"))
    cand.join(ta, "a").join(tb, "b")
      .withColumn("len_a", length(col("__ta")).cast("long"))
      .withColumn("len_b", length(col("__tb")).cast("long"))
      .filter(abs(col("len_a") - col("len_b")) * lit(1000L)
        <= greatest(col("len_a"), col("len_b")) * lit(maxDistPermille.toLong))
      // BOUNDED levenshtein: the acceptance gate below keeps only
      // dist ≤ floor(greatest(len)·permille/1000), so hand that bound
      // to the DP as its per-row threshold — the banded O(n·t) kernel
      // instead of the full O(n²) table (SPARK-40752 semantics: exact
      // distance when ≤ t, −1 when above — and every −1 row is exactly
      // a row the gate rejects, so results are bit-identical).
      .withColumn("__t", expr(
        s"CAST((greatest(len_a, len_b) * ${maxDistPermille}L) div 1000L AS INT)"))
      .withColumn("dist",
        expr("levenshtein(__ta, __tb, __t)").cast("long"))
      .filter(col("dist") >= 0L && col("dist") * lit(1000L)
        <= greatest(col("len_a"), col("len_b")) * lit(maxDistPermille.toLong))
      .select(col("a"), col("b"), col("dist"), col("len_a"), col("len_b"))
  }

  /** SUBSET-CONTAINMENT verify: score candidate pairs by
    * `common / min(|A|, |B|)` — the asymmetric near-dup measure that
    * catches a short doc quoted WHOLE inside a long one, which Jaccard
    * structurally misses (a 100-shingle doc inside a 10000-shingle doc
    * has J ≈ 0.01 but containment 1.0). The gate
    * `common·1000 ≥ permille·min(na, nb)` stays in integers; the
    * reported score is the one division, last. Same verify as
    * [[jaccardVerify]]: pairs join per-document shingle lists, commons
    * counted over ALL shingles.
    *
    * Output: (a, b, common, na, nb, containment).
    */
  def containmentVerify(cand: DataFrame, sd: DataFrame, idCol: String,
                        minContainPermille: Int): DataFrame =
    setVerify(cand, shingleSets(sd, idCol), idCol)(
      containmentPairsFrom(_, minContainPermille))

  /** Exhaustive n-gram Jaccard dedup with a hot-shingle frequency cap.
    *
    * `maxShingleDocFreq` bounds the quadratic term: a shingle shared by k
    * documents produces k² self-join rows, so one stopword 3-gram at 10⁹
    * docs would be a cartesian bomb. Pairs and their common counts are
    * therefore enumerated over *rare* shingles only (df ≤ cap); the few
    * shared HOT shingles of each surviving pair are added back from the
    * two documents' hot-shingle lists (hot shingles are by definition few
    * distinct values, and each doc holds few of them; see
    * [[pairCommons]]), so reported Jaccard values are exact over ALL
    * shingles. Recall is lost only for pairs
    * whose *every* shared shingle is hot — impossible at
    * `minJaccard ≥ 0.5` unless a doc is mostly stopword n-grams.
    */
  def ngramJaccardPairs(sd0: DataFrame, idCol: String, minJaccard: Double,
                        maxShingleDocFreq: Long = Long.MaxValue): DataFrame =
    ngramJaccardPairsFrom(pairCommons(sd0, idCol, maxShingleDocFreq), minJaccard)

  /** [[ngramJaccardPairs]] from a prebuilt [[pairCommons]] relation —
    * the Jaccard gate + score are the only per-threshold work, so a
    * session that stages the (threshold-independent) commons table once
    * serves every consumer from it (guide §5 recompute avoidance).
    */
  def ngramJaccardPairsFrom(pc: DataFrame, minJaccard: Double): DataFrame =
    pc.withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("common"), col("jaccard"))

  /** SUBSET-CONTAINMENT dedup over rare-shingle candidates: pairs gated
    * by `common·1000 ≥ permille·min(na, nb)` — the asymmetric near-dup
    * measure that catches a short doc quoted whole inside a long one
    * (see [[containmentVerify]] for the measure; this is its corpus-scale
    * form). Shares [[pairCommons]] with the Jaccard path, so only
    * each pair's few hot shingles are intersected — verifying every
    * candidate by intersecting both docs' complete shingle lists
    * ([[containmentVerify]]) costs O(Σ pairs·(na + nb)), where the rare
    * commons fall out of the per-shingle pair explosion for free.
    *
    * Output: (a, b, common, na, nb, containment), a < b.
    */
  def containmentPairs(sd0: DataFrame, idCol: String, minContainPermille: Int,
                       maxShingleDocFreq: Long = Long.MaxValue): DataFrame =
    containmentPairsFrom(pairCommons(sd0, idCol, maxShingleDocFreq),
      minContainPermille)

  /** [[containmentPairs]] from a prebuilt [[pairCommons]] relation
    * (see [[ngramJaccardPairsFrom]] for the staging rationale).
    */
  def containmentPairsFrom(pc: DataFrame, minContainPermille: Int): DataFrame =
    pc.filter(col("common") * lit(1000L)
        >= least(col("na"), col("nb")) * lit(minContainPermille.toLong))
      .withColumn("containment",
        col("common").cast("double") / least(col("na"), col("nb")).cast("double"))
      .select(col("a"), col("b"), col("common"), col("na"), col("nb"),
        col("containment"))

  /** DEDUP THRESHOLD SENSITIVITY CURVE: the pair yield at several
    * Jaccard thresholds from ONE commons pass — tuning a dedup
    * threshold needs the whole curve (too low deletes distinct docs,
    * too high leaves near-dups), and the expensive part (candidate
    * enumeration + common counts) is threshold-independent, so running
    * the pipeline once per candidate threshold is pure waste. Every
    * gate is integer cross-multiplied (`common·den ≥ num·(na+nb−common)`
    * ⟺ J ≥ num/den — no double thresholds), all counts fall out of one
    * aggregate over [[pairCommons]], and the wide one-row result
    * unpivots with `stack`.
    *
    * Candidate recall carries the rare-shingle caveat of the Jaccard
    * path (a pair whose every shared shingle is hot is missed — the
    * df split documented at [[ngramJaccardPairs]]).
    *
    * Output: (t_permille, n_pairs), one row per threshold.
    */
  def thresholdCurve(sd0: DataFrame, idCol: String, maxShingleDocFreq: Long,
                     thresholds: Seq[(Int, Int)]): DataFrame =
    thresholdCurveFrom(pairCommons(sd0, idCol, maxShingleDocFreq), thresholds)

  /** [[thresholdCurve]] from a prebuilt [[pairCommons]] relation
    * (see [[ngramJaccardPairsFrom]] for the staging rationale).
    */
  def thresholdCurveFrom(pc: DataFrame,
                         thresholds: Seq[(Int, Int)]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val aggs = thresholds.map { case (n, d) =>
      sum(when(col("common") * lit(d.toLong)
          >= lit(n.toLong) * (col("na") + col("nb") - col("common")), 1L)
        .otherwise(0L)).as(s"__c${n}_$d")
    }
    val stackArgs = thresholds.map { case (n, d) =>
      s"${n * 1000L / d}L, coalesce(__c${n}_$d, 0L)" }.mkString(", ")
    pc.agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${thresholds.size}, $stackArgs) as (t_permille, n_pairs)")
  }

  /** PREFIX-FILTERING similarity join (the PPJoin candidate rule, Xiao
    * et al. 2008): with every doc's shingles sorted by ONE global order
    * (ascending document frequency, rarest first), any pair with
    * Jaccard ≥ num/den MUST share a token inside each other's first
    * `n − ceil(t·n) + 1` tokens — so equi-joining on prefix tokens has
    * recall 1 BY THEOREM, with a candidate set far tighter than
    * "shares any rare token" (the prefix is ~(1−t)·n tokens, and they
    * are the rarest ones). Exact Jaccard verify restores precision.
    *
    * The prefix length is computed in integers (`ceil(t·n) =
    * (num·n + den − 1) div den`), and the global order rides a string
    * key `zeropad(df) || '|' || shingle` so both engines sort
    * identically. Shape: one df agg, one per-doc sort of its own
    * shingle list (array-local), an equi join on the prefix key, then
    * the standard verify — no window, no cross product.
    *
    * Output: (a, b, common, jaccard), a < b, Jaccard ≥ num/den.
    */
  def prefixFilterPairs(sd0: DataFrame, idCol: String,
                        tNum: Int, tDen: Int): DataFrame = {
    require(tNum >= 1 && tNum <= tDen, s"need a threshold in (0,1], got $tNum/$tDen")
    // eager cache: feeds df, prefix, and the verify's lists of one action.
    // Never unpersisted here (the returned plan still references it) —
    // like every dedup-path cache this relies on MEMORY_AND_DISK LRU
    // block eviction; long sessions can sd.unpersist() after the final
    // action if they need the memory back deterministically.
    val sd = sd0.cache()
    sd.count()
    val dfreq = sd.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    // Global order as a (df, shingle) STRUCT, not the former
    // zero-padded-string concat key: struct sort_array orders
    // lexicographically by field — the identical total order for any
    // df < 10^12 — without paying an lpad+concat per shingle or
    // carrying 13 extra bytes per row through the sort. The prefix
    // tokens themselves join on the bare shingle (df is a function of
    // the shingle, so the struct key and the shingle are equi-join
    // equivalent), which halves the candidate exchange's key bytes.
    val pre = sd.join(dfreq, "shingle")
      .select(col(idCol),
        struct(col("__df"), col("shingle")).as("__key"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__key"))).as("__ks"))
      .withColumn("__n", size(col("__ks")).cast("long"))
      .withColumn("__p",
        col("__n") - expr(s"($tNum * __n + ${tDen - 1}) div $tDen") + lit(1L))
      .select(col(idCol),
        explode(expr(
          "transform(slice(__ks, 1, cast(__p as int)), k -> k.shingle)"))
          .as("__key"))
    val cand = pre.select(col(idCol).as("a"), col("__key"))
      .join(pre.select(col(idCol).as("b"), col("__key")), Seq("__key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    // prefix-filter candidates at a high threshold touch FEW docs —
    // prune the verify's shingle exchanges to that slice (§3.2)
    jaccardVerify(cand, sd, idCol, tNum.toDouble / tDen,
      pruneToCandidates = true)
  }

  /** All (a, b) pairs, a < b, of one sorted distinct-id array — wedge
    * enumeration WITHOUT a self-join: the pair volume is unchanged, but
    * pairs are generated map-side after ONE shuffle of the membership
    * table where the equivalent self-join shuffles it twice and
    * sort-merges both sides (guide §2.4 — remove shuffles outright).
    * Callers must bound the array (a df/degree cap) — this is only safe
    * where the per-key membership list is small by construction.
    */
  private[graft] def sortedPairs(idsCol: String): Column =
    explode(expr(
      s"flatten(transform($idsCol, (x, i) -> " +
        s"transform(slice($idsCol, i + 2, size($idsCol) - i - 1), " +
        "y -> struct(x AS a, y AS b))))"))

  /** Shared core of [[ngramJaccardPairs]] / [[containmentPairs]] /
    * [[thresholdCurve]]: (a, b, common, na, nb), a < b, for every pair
    * sharing ≥1 rare (df ≤ maxShingleDocFreq) shingle, with `common`
    * exact over ALL shingles. The df split partitions the shingle set, so
    * `common = common_rare + common_hot`:
    *
    *  - capped: a window count over one shuffle of `sd` by shingle tags
    *    each (id, shingle) row with its df. Only rare shingles collect
    *    their sorted id list (bounded by the cap), which explodes into
    *    its pairs map-side ([[sortedPairs]]), counted per pair; a hot
    *    shingle's rows stream through the window buffer, never one
    *    array. The same tagged rows group into one per-document relation
    *    `(n, hot shingles)`, joined on `a` and `b`, and
    *    `common_hot = size(array_intersect(ha, hb))` — a document holds
    *    few hot shingles, so the intersection is over short lists, and
    *    rare commons are never recounted by set intersection;
    *  - uncapped: every shingle counts as rare, and its id list is
    *    unbounded, so the pairs stream through a self-join; `na`/`nb`
    *    come from one per-document count.
    */
  def pairCommons(sd: DataFrame, idCol: String,
                  maxShingleDocFreq: Long): DataFrame = {
    // joins the per-document columns `cols` onto both pair ends, named
    // with the end's suffix: n → na, nb
    def onEnds(pairs: DataFrame, docs: DataFrame, cols: String*): DataFrame =
      Seq("a", "b").foldLeft(pairs)((p, e) => p.join(docs.select(
        col(idCol).as(e) +: cols.map(c => col(c).as(c + e)): _*), e))
    if (maxShingleDocFreq == Long.MaxValue) {
      val n = sd.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
      onEnds(
        sd.select(col(idCol).as("a"), col("shingle"))
          .join(sd.select(col(idCol).as("b"), col("shingle")), Seq("shingle"))
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common")),
        n, "n")
        .select(col("a"), col("b"), col("common"), col("na"), col("nb"))
    } else {
      val tagged = sd.withColumn("__df",
        count(lit(1)).over(Window.partitionBy(col("shingle"))))
      val hot = col("__df") > maxShingleDocFreq
      val docs = tagged.groupBy(col(idCol)).agg(count(lit(1)).as("n"),
        collect_list(when(hot, col("shingle"))).as("__hot"))
      onEnds(
        tagged.filter(!hot).groupBy(col("shingle"))
          .agg(sort_array(collect_list(col(idCol))).as("__ids"))
          .select(sortedPairs("__ids").as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("__rare")),
        docs, "n", "__hot")
        .select(col("a"), col("b"), evalOnce(
          (col("__rare") + size(array_intersect(col("__hota"), col("__hotb"))))
            .as("common"),
          col("na"), col("nb")))
    }
  }

  /** MinHash band signatures from ONE digest per shingle: band i orders
    * shingles by their 128-bit md5 ROTATED by 4 hex chars × i (a
    * one-permutation-hashing-style scheme — rotations of one strong hash
    * give `bands` distinct pseudo-permutations). The former formulation
    * digested md5(band:shingle) per band — 8× the digest work — and
    * aggregated 8× exploded rows by (id, band); this one digests once,
    * takes all `bands` minima in a single groupBy(id) pass (16-char
    * substrings of the doubled digest), and posexplodes the compact
    * signature row AFTER the aggregate. Candidate-set differences vs the
    * salted scheme are immaterial: the exact-Jaccard verify restores
    * precision and the oracle mirrors these exact signatures. Input:
    * (id, shingle) distinct; output: (id, band, sig).
    */
  def minhashSignatures(sd: DataFrame, idCol: String, bands: Int): DataFrame =
    signatures(shingleSets(sd, idCol), idCol, bands)

  /** [[minhashSignatures]] from per-document shingle lists: the lists
    * are partitioned by id already, so the minima aggregate runs in the
    * lists' own stage, without a second shuffle.
    */
  private def signatures(sets: DataFrame, idCol: String, bands: Int): DataFrame = {
    require(bands >= 1 && bands <= 8, s"rotation bands support 1..8, got $bands")
    // codegen subexpression elimination evaluates the repeated md5 once
    val m = sets.select(col(idCol), explode(col("__sh")).as("shingle"))
      .select(col(idCol),
        concat(md5(col("shingle")), md5(col("shingle"))).as("__mm"))
    // The aggregate takes the min over 15-char HEX SLICES (substring
    // only — the cheapest possible per-shingle-row map work; measured:
    // parsing to long before the min costs more per row than the
    // aggregation saves), then each per-doc minimum converts to a LONG
    // once per (doc, band) — 8 convs per document, not per shingle —
    // so the band-join/shuffle key downstream is an 8-byte long, not a
    // 15-char string. Fixed-width lowercase hex sorts identically to
    // its numeric value, so min-then-convert = convert-then-min.
    val aggs = (0 until bands).map(i =>
      min(substring(col("__mm"), i * 4 + 1, 15)).as(s"__s$i"))
    m.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        posexplode(array((0 until bands).map(i =>
          conv(col(s"__s$i"), 16, 10).cast("long")): _*))
          .as(Seq("band", "sig")))
  }

  /** MinHash+LSH near-dup pairs: bucket-join on (band, sig), then verify
    * candidates with exact Jaccard. The LSH stage is the 100 TB path: a
    * shuffle on the bucket key replaces the all-pairs comparison. A
    * bucket's size is data-dependent (k exact duplicates share every
    * band), so its pairs stream through the self-join, never one array.
    * Both join sides' signatures and the verify read the same
    * per-document shingle lists (one `groupBy(id)`), whose exchange
    * Spark reuses: an unstaged shingle table (tokenize + explode +
    * distinct) is derived once, without a cache. Each join side hashes
    * the lists into signatures itself.
    */
  def minhashLshPairs(sd: DataFrame, idCol: String, bands: Int,
                      minJaccard: Double): DataFrame = {
    val sets = shingleSets(sd, idCol)
    val mh = signatures(sets, idCol, bands)
    val cand = mh.select(col(idCol).as("a"), col("band"), col("sig"))
      .join(mh.select(col(idCol).as("b"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    setVerify(cand, sets, idCol)(ngramJaccardPairsFrom(_, minJaccard))
  }

  /** L199 — MINHASH S-CURVE CALIBRATION TABLE: the analytic LSH
    * detection probability p(J) = 1 − (1 − J^r)^b for a configured
    * (bands b, rows-per-band r), tabulated over the J grid 0.00..1.00
    * in 0.01 steps — the table that PARAMETERIZES every threshold
    * choice in the dedup family ("why verify at 0.8?": read the
    * candidate-recall column at J = 0.8 for b = 8, r = 1 and see
    * 1 − 0.2⁸ ≈ 0.9999974; read J = 0.05 and see the false-candidate
    * rate the verify stage must absorb). The curve's inflection
    * (p = 1/2) sits at J* = (1 − (1/2)^(1/b))^(1/r) — the effective
    * similarity threshold of the banding scheme.
    *
    * Exactness: every value is an e9 fixed-point integer computed by a
    * FLOOR-DIVISION fold — J^r as r steps of x → (x·j_e2) div 100 from
    * 10⁹, then (1−J^r)^b as b steps of y → (y·q_e9) div 10⁹ — the same
    * defined-integer-recurrence discipline as the IBAN mod-97 and
    * Hilbert folds: both engines replay the identical recurrence, so
    * the (bounded, ~b ulp at e9) floor drift is bit-identical and the
    * numbers are engine-independent. Intermediates cap at 10⁹·10⁹ <
    * 2⁶³ for ANY (b ≤ 64, r ≤ 16).
    *
    * Scale shape: a 101-row constant table, two aggregate-HOF folds
    * per row, zero shuffle — the cost is nil; the VALUE is that the
    * table ships with the run report.
    *
    * Output: (j_e2, jr_e9, q_e9, p_e9) — J, J^r, (1−J^r), p, all
    * e2/e9-scaled exact integers.
    */
  def lshSCurve(spark: SparkSession, bands: Int, rows: Int): DataFrame = {
    require(bands >= 1 && bands <= 64, s"need 1 <= bands <= 64, got $bands")
    require(rows >= 1 && rows <= 16, s"need 1 <= rows <= 16, got $rows")
    spark.range(0, 101).select(col("id").cast("long").as("j_e2"))
      .withColumn("jr_e9", expr(
        s"aggregate(sequence(1, $rows), 1000000000L, (x, k) -> (x * j_e2) div 100)"))
      .withColumn("q_e9", lit(1000000000L) - col("jr_e9"))
      .withColumn("p_e9", lit(1000000000L) - expr(
        s"aggregate(sequence(1, $bands), 1000000000L, (y, k) -> (y * q_e9) div 1000000000)"))
  }

  /** L207 — BLOCKING-QUALITY AUDIT (the entity-resolution literature's
    * two numbers for a candidate generator): REDUCTION RATIO — what
    * fraction of the n(n−1)/2 all-pairs comparisons the blocker
    * avoided — and PAIRS COMPLETENESS — what fraction of the TRUE
    * matches its candidates still cover. Dedup blockers (SNM windows,
    * LSH bands, prefix filters) trade these off; this operator prices
    * a configuration against a trusted pair set before committing a
    * 100 TB run to it (a blocker at rr 0.9999 / completeness 0.7
    * silently loses 30% of duplicates — the number you want on a
    * dashboard, not in a post-mortem).
    *
    * Exactness: counts are exact; ratios are e6-scaled integer
    * divisions (rr_e6 = 10⁶ − (n_cand·10⁶) div n_total — exact while
    * n_cand ≤ 9.2×10¹²; n_total fits a long to n_docs ≈ 4.2×10⁹).
    * Pair tables are canonicalized (a<b, distinct) before counting.
    *
    * Scale shape: three map-side-combined counts + one pair-keyed
    * semi-join count, cross-joined as 1-row frames (the m_eer totals
    * posture).
    *
    * Output: one row (n_docs, n_total_pairs, n_cand, n_truth, n_hit,
    * rr_e6, completeness_e6).
    */
  def blockingAudit(docs: DataFrame, idCol: String, candidates: DataFrame,
      candA: String, candB: String, truth: DataFrame, truthA: String,
      truthB: String): DataFrame = {
    def canon(p: DataFrame, a: String, b: String) = p.select(
        least(col(a), col(b)).as("a"), greatest(col(a), col(b)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val c = canon(candidates, candA, candB)
    val t = canon(truth, truthA, truthB)
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    val nc = c.agg(count(lit(1)).as("n_cand"))
    val nt = t.agg(count(lit(1)).as("n_truth"))
    val nh = c.join(t, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nd.crossJoin(nc).crossJoin(nt).crossJoin(nh)
      .withColumn("n_total_pairs", expr("(n_docs * (n_docs - 1L)) div 2L"))
      .withColumn("rr_e6", expr(
        "IF(n_total_pairs > 0L, 1000000L - ((n_cand * 1000000L) div n_total_pairs), -1L)"))
      .withColumn("completeness_e6", expr(
        "IF(n_truth > 0L, (n_hit * 1000000L) div n_truth, -1L)"))
      .select(col("n_docs"), col("n_total_pairs"), col("n_cand"),
        col("n_truth"), col("n_hit"), col("rr_e6"), col("completeness_e6"))
  }

  /** L204 — AFFIX-OVERLAP PAIRS (continuation leakage): doc A's last k
    * tokens equal doc B's first k tokens — the shape exact/Jaccard
    * dedup misses entirely (the overlap is k tokens of two long
    * documents → Jaccard ≈ 0) but that leaks verbatim continuations
    * when documents are PACKED into training sequences (L16/L79): the
    * model sees A's suffix immediately followed by what B continues it
    * with. One suffix gram and one prefix gram per document, an equi
    * join on the gram — never all-pairs.
    *
    * `maxGramDf` drops grams whose document frequency (over both
    * sides) exceeds the cap before the join — boilerplate
    * headers/footers shared by everything carry no continuation signal
    * AND would square the join on a hot key at 10⁹ docs (the winnow
    * maxDocFreq posture).
    *
    * Input: (id, toks). Output: (a, b, gram) — a's suffix = b's
    * prefix, a ≠ b.
    */
  def affixOverlapPairs(docs: DataFrame, idCol: String, toksCol: String,
      k: Int, maxGramDf: Long): DataFrame = {
    require(k >= 2 && k <= 64, s"need 2 <= k <= 64, got $k")
    val base = docs.select(col(idCol).cast("long").as("id"),
        col(toksCol).as("toks"))
      .filter(size(col("toks")) >= k)
    val suf = base.select(col("id").as("a"),
      array_join(slice(col("toks"), -k, k), " ").as("gram"))
    val pre = base.select(col("id").as("b"),
      array_join(slice(col("toks"), 1, k), " ").as("gram"))
    val rare = suf.select(col("gram"))
      .unionByName(pre.select(col("gram")))
      .groupBy(col("gram")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxGramDf).select(col("gram"))
    suf.join(rare, Seq("gram"))
      .join(pre, Seq("gram"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"), col("gram"))
  }

  /** Winnowing-fingerprint dedup (the MOSS pairing stage): pairs sharing
    * at least `minShared` *discriminative* fingerprints. Fingerprints
    * with document frequency above `maxDocFreq` are dropped before the
    * self-join — MOSS's own common-code suppression (boilerplate shared
    * by everything carries no copy signal) AND the bound that keeps the
    * join from squaring on a hot fingerprint at 10⁹ documents. Input:
    * (id, fp) distinct.
    */
  def winnowPairs(fd0: DataFrame, idCol: String, minShared: Long,
                  maxDocFreq: Long): DataFrame = {
    val fd = fd0.cache()
    fd.count() // eager: feeds the df filter and both join sides
    val rare = fd.join(
      fd.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDocFreq).select(col("fp")),
      Seq("fp"))
    // wedge via per-fp sorted id arrays (bounded by the df cap) — one
    // shuffle of `rare` + map-side pair generation instead of the
    // former self-join's two shuffles + sort-merge (see [[sortedPairs]])
    rare.groupBy(col("fp"))
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
      .select(sortedPairs("__ids").as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The production dedup CASCADE (cheapest filter first, each stage only
    * sees the previous stage's survivors — the order every large corpus
    * curation run uses):
    *
    *   1. exact: min-id canonical per fingerprint (one hash aggregate);
    *   2. near-text: MinHash+LSH band candidates + exact-Jaccard verify
    *      over stage-1 survivors; the HIGHER id of each verified pair is
    *      dropped (deterministic, non-iterative: a doc is dropped iff it
    *      is the `b` of ANY verified pair — both endpoints survivors);
    *   3. near-semantic: SRP-LSH embedding candidates + exact-cosine
    *      verify over stage-2 survivors (docs without a vector pass
    *      through); higher id of each pair dropped.
    *
    * Every stage is a band/bucket equi join — the cascade never leaves
    * the bounded-candidate regime, and each stage's input shrinks, so at
    * 100 TB the expensive embedding stage runs on the deduped fraction
    * only. All three drop rules are pairwise (signatures and distances
    * depend only on the two docs), so stage composition commutes with
    * set restriction — which is what lets an external SQL engine mirror
    * the cascade over full-corpus pair tables filtered to survivors.
    *
    * Input: `docs` (id, text), `emb` (id, embedding). Returns surviving
    * ids as one column named `idCol`.
    */
  def cascadeSurvivors(docs: DataFrame, emb: DataFrame, idCol: String,
                       fpPrefixLen: Int, shingleN: Int, bands: Int,
                       minJaccard: Double, minCos: Double, dim: Int,
                       fullNearPairs: Option[DataFrame] = None): DataFrame = {
    // min-id canonical as a hash aggregate (no window sort): one
    // partial+final agg on the fingerprint, the cheapest possible stage 1
    val s1 = docs
      .select(col(idCol), TextOps.fingerprint(col("text"), fpPrefixLen).as("fp"))
      .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
      .cache()
    s1.count() // eager: feeds the stage-2 shingle filter and the anti join
    // Stage 2 drops: the higher id of every verified near-text pair
    // BOTH of whose endpoints survived stage 1. Signatures, candidates
    // and the exact-Jaccard verify are all pairwise-local (they depend
    // only on the two docs' own shingles), so restricting the corpus
    // first and pairing, or pairing the full corpus and restricting to
    // survivor-survivor pairs, give the SAME pair set — the set
    // restriction the scaladoc's commutation argument rests on and the
    // oracle already exploits (it filters full-corpus pair tables to
    // survivors). `fullNearPairs` lets a caller hand in an
    // already-materialized full-corpus (a, b) verified pair table at
    // the same (shingleN, bands, minJaccard) and skip re-shingling +
    // re-pairing the survivor set entirely (guide §5).
    val drop2 = fullNearPairs match {
      case Some(p) =>
        p.select(col("a"), col("b"))
          .join(s1.select(col(idCol).as("a")), Seq("a"), "left_semi")
          .join(s1.select(col(idCol).as("b")), Seq("b"), "left_semi")
          .select(col("b").as(idCol)).distinct()
      case None =>
        val sd = TextOps.shingleTable(docs.join(s1, idCol), idCol, "text",
          shingleN)
        minhashLshPairs(sd, idCol, bands, minJaccard)
          .select(col("b").as(idCol)).distinct()
    }
    val s2 = s1.join(drop2, Seq(idCol), "left_anti").cache()
    s2.count() // eager: feeds the stage-3 vector filter and the anti join
    val drop3 = Similarity.srpNearDupPairs(
        emb.join(s2, idCol), idCol, "embedding", minCos, dim)
      .select(col("b").as(idCol)).distinct()
    s2.join(drop3, Seq(idCol), "left_anti")
  }

  /** Incremental near-dup detection — the production shape for a corpus
    * that grows in batches: the SEEN corpus's band signatures act as a
    * persisted index (recomputed from its shingle table here; in a real
    * deployment they are read back from storage, so the seen corpus is
    * never re-shingled), and only the NEW batch computes fresh
    * signatures. The band join probes new signatures against seen ∪ new,
    * so seen–seen pairs — the quadratic bulk that incremental processing
    * exists to avoid — are never generated: per batch the candidate
    * volume is O(|new| · collisions), independent of corpus size beyond
    * the index lookup.
    *
    * Output: one verified row per (new doc, matched doc) pair, oriented
    * new-first — columns (new_id, match_id, match_side, common,
    * jaccard); new–new pairs appear once (lower id first). Dropping
    * every distinct new_id of the result de-dups the batch against
    * corpus + batch.
    */
  def incrementalNearDups(seenSd: DataFrame, newSd: DataFrame, idCol: String,
                          bands: Int, minJaccard: Double): DataFrame =
    incrementalNearDupsFromSigs(
      minhashSignatures(seenSd, idCol, bands),
      minhashSignatures(newSd, idCol, bands),
      seenSd.union(newSd), idCol, minJaccard)

  /** [[incrementalNearDups]] from prebuilt band signatures — signatures
    * are per-doc, so a session holding a materialized FULL-corpus
    * signature table hands in its seen/new restrictions and skips both
    * per-query signature aggregations; `allSd` is the combined shingle
    * table the exact-Jaccard verify reads (guide §5).
    */
  def incrementalNearDupsFromSigs(seenSigs: DataFrame, newSigs0: DataFrame,
                                  allSd: DataFrame, idCol: String,
                                  minJaccard: Double): DataFrame = {
    val newSigs = newSigs0
    val index = seenSigs
      .select(col(idCol).as("m_id"), col("band"), col("sig"),
        lit("seen").as("m_side"))
      .union(newSigs.select(col(idCol).as("m_id"), col("band"), col("sig"),
        lit("new").as("m_side")))
    val cand = newSigs.select(col(idCol).as("a"), col("band"), col("sig"))
      .join(index, Seq("band", "sig"))
      .where(col("m_side") === "seen" && col("a") =!= col("m_id")
        || col("m_side") === "new" && col("a") < col("m_id"))
      .select(col("a"), col("m_id").as("b"), col("m_side")).distinct()
    // a small batch probing a big corpus touches few docs — prune the
    // verify's shingle exchanges to the candidate slice (§3.2)
    jaccardVerify(cand.select(col("a"), col("b")), allSd,
        idCol, minJaccard, pruneToCandidates = true)
      .join(cand, Seq("a", "b"))
      .select(col("a").as("new_id"), col("b").as("match_id"),
        col("m_side").as("match_side"), col("common"), col("jaccard"))
  }

  /** Connected components of an undirected pair graph — the stage every
    * pair-producing dedup path feeds in production: near-dup PAIRS are
    * not directly deletable (greedy pairwise drops over- or under-delete
    * on chains a–b–c where b is the only link); the correct deletion
    * unit is the component, with one canonical survivor per component.
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC '14). Each
    * round is two groupBy+join passes keyed on the node id; the edge set
    * contracts to disjoint stars centered on component minima in
    * O(log² n) rounds even on path graphs — unlike naive min-label
    * propagation, whose round count is the graph DIAMETER (fatal at
    * corpus scale, where boilerplate dup chains get long). Per-round
    * lineage is truncated with an eager localCheckpoint: an iterative
    * DataFrame loop otherwise compounds the logical plan and every round
    * re-optimizes an ever-larger DAG.
    *
    * Convergence = identical (count, xxhash64-XOR) edge fingerprints on
    * consecutive rounds — an order-invariant set fingerprint costing one
    * tiny agg job per round (XOR, not sum: ANSI mode would overflow a
    * long sum). Throws rather than returning partial labels if `maxIter`
    * rounds don't converge.
    *
    * Input: (aCol, bCol) pairs, any orientation, dups fine. Output:
    * (id, component) for every node incident to a pair, component = the
    * minimum node id of its component; callers left-join the vertex
    * table and coalesce(component, id) to label singletons.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 30): DataFrame = {
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // canonical orientation u < v; self-loops dropped
    var edges = pairs
      .select(least(col(aCol), col(bCol)).as("u"),
              greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    var fp = fingerprint(edges)
    var converged = fp._1 == 0L
    var rounds = 0
    while (!converged && rounds < maxIter) {
      edges = smallStar(largeStar(edges)).localCheckpoint(true)
      val nfp = fingerprint(edges)
      converged = nfp == fp
      fp = nfp
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds")
    // fixpoint = disjoint stars centered on component minima: every edge
    // (u, v) reads "member v of component u"; centers label themselves
    edges.select(col("v").as("id"), col("u").as("component"))
      .union(edges.select(col("u").as("id"), col("u").as("component")))
      .groupBy(col("id")).agg(min(col("component")).as("component"))
  }

  /** INCREMENTAL component maintenance — fold a delta of new near-dup
    * pairs into the labels of a previous [[connectedComponents]] run
    * without touching the historical pair graph. The old labels ARE a
    * star edge set (member—center, center = component minimum): stars
    * preserve each old component's connectivity and its minimum, so CC
    * over [old star edges ∪ delta pairs] yields exactly the labels CC
    * would give over [all historical pairs ∪ delta]. Cost scales with
    * |labeled nodes| + |delta| — the contracted graph — not with the
    * pair count ever observed, which is what daily crawl increments
    * need at 100 TB (labels persist between runs; pairs need not).
    *
    * `oldLabels`: (idCol, component). `newPairs`: (a, b). Output:
    * (id, component) for every node incident to a star or delta edge;
    * untouched singletons stay absent, as in [[connectedComponents]].
    */
  def incrementalComponents(oldLabels: DataFrame, newPairs: DataFrame,
                            idCol: String): DataFrame =
    connectedComponents(
      oldLabels.where(col(idCol) =!= col("component"))
        .select(col(idCol).as("a"), col("component").as("b"))
        .union(newPairs.select(col("a"), col("b"))),
      "a", "b")

  /** Large-star round: every node connects its LARGER neighbors to the
    * minimum of its closed neighborhood — inter-component connectivity
    * is preserved, long chains halve. Canonical (u < v) in and out. */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbr = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nbr.groupBy(col("u")).agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    nbr.where(col("v") > col("u")).join(mins, "u")
      .select(col("m").as("u"), col("v")) // m <= u < v: canonical
      .distinct()
  }

  /** Small-star round: every node connects its smaller-than-self
    * neighborhood (plus itself) to that set's minimum — local stars
    * collapse onto component minima. */
  private def smallStar(e: DataFrame): DataFrame = {
    val nbr = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val small = nbr.where(col("v") < col("u"))
    val mins = small.groupBy(col("u")).agg(min(col("v")).as("m"))
    val members = small.join(mins, "u")
      .where(col("v") =!= col("m"))
      .select(col("m").as("u"), col("v")) // m < v: canonical
    val centers = mins.select(col("m").as("u"), col("u").as("v")) // m < u
    members.union(centers).distinct()
  }

  /** SimHash near-dup pairs: equal-width signatures compared by Hamming
    * distance. Input: (id, simhash) with `bits`-bit signatures.
    *
    * Candidate generation is the classic pigeonhole band join, not an
    * all-pairs comparison: split the signature into `maxHamming + 1`
    * contiguous bit bands — any pair within Hamming distance `maxHamming`
    * has at most `maxHamming` differing bits, so at least one band is
    * bit-identical. Equi-joining on (band index, band value) therefore
    * has recall 1 by construction, and the full Hamming check on the
    * candidates restores exact precision. The shuffle key is the band
    * value: O(n · bands) rows in, pairs only within equal-band buckets
    * out — the shape that survives 10⁹ documents.
    */
  def simhashPairs(sh: DataFrame, idCol: String, maxHamming: Int,
                   bits: Int = 16): DataFrame = {
    val nBands = maxHamming + 1
    require(nBands <= bits,
      s"pigeonhole needs $nBands non-empty bands out of $bits bits")
    // Partition ALL `bits` bits into nBands contiguous bands as evenly
    // as possible ((bits mod nBands) bands get one extra bit). Equal
    // ceil-width bands would push trailing bands past the signature
    // width: their value is constantly zero and that band's equi join
    // degenerates into an all-pairs cross join.
    val base = bits / nBands
    val extra = bits % nBands
    val widths = Seq.tabulate(nBands)(i => if (i < extra) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    // eager cache: the signature lineage (16 md5 aggregations per doc at
    // the dedup_simhash call site) feeds four plan branches of one action
    val sig = sh.select(col(idCol), col("simhash")).cache()
    sig.count()
    SrpLsh.bandedCandidatesBySpec(sig, idCol, "simhash", offsets.zip(widths))
      .join(sig.select(col(idCol).as("a"), col("simhash").as("sim_a")), "a")
      .join(sig.select(col(idCol).as("b"), col("simhash").as("sim_b")), "b")
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Exact duplicated-substring spans — the distributed shape of
    * suffix-array substring dedup (Lee et al. 2022, arXiv:2107.06499;
    * no reference analog, SURVEY §2.11 L29). Every token offset seeds
    * one k-gram; an equi join on the k-gram string finds cross-doc seed
    * matches; matched seeds of one doc pair lying on one alignment
    * diagonal (`pa − pb`) at consecutive offsets belong to the SAME
    * duplicated run, so a gaps-and-islands window per (a, b, diagonal)
    * merges them into maximal spans of token length `run + k − 1`.
    * Recall is 1 for shared runs of ≥ k tokens by construction: a run
    * of length L contributes exactly L − k + 1 seeds on one diagonal.
    *
    * Scale shape: seeding is a per-row HOF transform (linear in corpus
    * tokens, no shuffle); the join key is the full k-gram, so at
    * production k (Lee et al. use 50 BPE tokens) a collision almost
    * always IS duplication and candidate volume is O(duplicated text),
    * not O(n²); the merge window partitions by (a, b, diagonal) — state
    * never exceeds one doc pair's seed run. `maxSeedDf` optionally
    * drops ultra-hot seeds (boilerplate shared by > df docs) at a
    * documented recall cost; at 100 TB you would also join on
    * `xxhash64(gram)` instead of the string to shrink shuffle width
    * (collisions at 64 bits are negligible; keep the string only if
    * byte-exact guarantees are required).
    *
    * Output: (a, b, a_start, b_start, span_len) with a < b, offsets
    * 0-based in tokens, one row per maximal shared span.
    */
  /** L135 — SPAN SURGERY: the END PRODUCT of substring dedup (Lee et
    * al. 2022 actually CUT the duplicated spans, not the documents):
    * given the [[substringDupSpans]] pair table, remove from each
    * doc every token position it contributes as the LATER (`b`) side —
    * first occurrence keeps its text — and rebuild the cleaned
    * document. Overlapping spans need no pre-merge: a position is
    * dropped iff ANY span covers it (set union of positions), which an
    * `exists` HOF over the doc's own collected span list decides
    * per-token without a range join.
    *
    * Scale shape: one groupBy of the span table keyed by doc (span
    * count per doc is bounded by its dup structure — the same envelope
    * [[substringDupSpans]]'s output already has), one equi LEFT join
    * onto the corpus, then pure per-row array HOFs. The rebuilt text is
    * the single-space token join (the tokenizer's canonical form, same
    * both engines).
    *
    * Output: (id, n_toks, n_removed, clean_text).
    */
  def removeDupSpans(docs: DataFrame, spans: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    // Pre-merge each doc's spans into DISJOINT intervals (sort + running
    // max + group). The kept-token set is invariant (removal is a
    // position-set union), but a viral boilerplate doc can carry
    // thousands of overlapping spans — merging bounds the per-token
    // exists() at ≤ n_toks/2 intervals instead of the raw pair count,
    // killing the straggler a hot doc would otherwise become.
    val raw = spans.select(col("b").as(idCol), col("b_start").as("s"),
      (col("b_start") + col("span_len")).as("e"))
    val ord = Window.partitionBy(col(idCol)).orderBy(col("s"), col("e"))
    val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val bIv = raw
      .withColumn("__brk",
        when(col("s") > coalesce(max(col("e")).over(prev), lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("__gid", sum(col("__brk"))
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__gid"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .select(col(idCol), struct(col("s"), col("e")).as("iv"))
      .groupBy(col(idCol)).agg(collect_list(col("iv")).as("__ivs"))
    docs.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .join(bIv, Seq(idCol), "left")
      .select(col(idCol), col("__toks"),
        coalesce(col("__ivs"),
          array().cast("array<struct<s:bigint,e:bigint>>")).as("__ivs"))
      .withColumn("__kept", filter(
        transform(col("__toks"),
          (t: Column, i: Column) => struct(i.cast("long").as("pos"), t.as("tok"))),
        p => !exists(col("__ivs"),
          iv => p("pos") >= iv("s") && p("pos") < iv("e"))))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_toks"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_removed"),
        concat_ws(" ", transform(col("__kept"), p => p("tok"))).as("clean_text"))
  }

  def substringDupSpans(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, maxSeedDf: Option[Long] = None): DataFrame = {
    require(k >= 2, s"seed width k must be >= 2, got $k")
    // spread the (id, text) rows before the tokenize + k-gram explode —
    // the gram-table build (the cached materialization job) is the
    // expensive pass and otherwise runs inside the single scan task
    val grams0 = graft.Tables.spread(
        docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= k)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(__toks) - $k), i -> concat_ws(' ', slice(__toks, i + 1, $k)))")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("col").as("gram"))
    val grams = maxSeedDf match {
      case Some(cap) =>
        val keep = grams0.groupBy(col("gram"))
          .agg(countDistinct(col(idCol)).as("__df"))
          .filter(col("__df") <= cap).select(col("gram"))
        grams0.join(keep, Seq("gram"))
      case None => grams0
    }
    // eager cache: the positional gram table feeds both sides of the
    // seed self-join (and the df-cap branch when set) — uncached, the
    // tokenize + k-gram explode ran once per side
    val gt = grams.cache()
    gt.count()
    val lhs = gt.select(col("gram"), col(idCol).as("a"), col("pos").as("pa"))
    val rhs = gt.select(col("gram"), col(idCol).as("b"), col("pos").as("pb"))
    val w = Window.partitionBy(col("a"), col("b"), col("diag")).orderBy(col("pa"))
    lhs.join(rhs, Seq("gram")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("pa"), (col("pa") - col("pb")).as("diag"))
      // pa is unique within (a, b, diag): the seed at (a, pa) exists once
      // and fixes pb = pa − diag, so row_number is deterministic.
      .withColumn("__grp", col("pa") - row_number().over(w).cast("long"))
      .groupBy(col("a"), col("b"), col("diag"), col("__grp"))
      .agg(min(col("pa")).as("a_start"), count(lit(1)).as("__n"))
      .select(col("a"), col("b"), col("a_start"),
        (col("a_start") - col("diag")).as("b_start"),
        (col("__n") + lit(k - 1).cast("long")).as("span_len"))
  }
}
