package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * beyond dedup/similarity: benchmark decontamination, deterministic
  * sampling, and mixture-weight allocation. All three are exact integer /
  * string-domain computations, so an external SQL engine mirrors them
  * bit-for-bit — the same oracle posture as the dedup family.
  */
object Curation {

  /** Benchmark DECONTAMINATION: flag corpus documents sharing at least
    * `minHits` distinct word n-gram shingles with ANY probe (benchmark)
    * document. The industry-standard pre-training step — training data
    * containing evaluation n-grams inflates benchmark scores, so such
    * docs are dropped or audited before training.
    *
    * Scale shape: the probe shingle set is TINY (benchmarks are a few
    * thousand rows) — the join on the shingle equi key broadcasts the
    * probe side, so the corpus streams by in one pass with no shuffle of
    * the big side; candidate volume is bounded by probe-shingle document
    * frequency, never all-pairs.
    *
    * Output: (id, n_hits = distinct contaminated shingles,
    * n_probes = distinct probe docs hit) per flagged corpus doc.
    */
  def decontaminate(corpus: DataFrame, probes: DataFrame, idCol: String,
                    textCol: String, shingleN: Int, minHits: Long): DataFrame = {
    val cs = TextOps.shingleTable(corpus, idCol, textCol, shingleN)
    val ps = TextOps.shingleTable(probes, idCol, textCol, shingleN)
      .select(col(idCol).as("probe_id"), col("shingle"))
    cs.join(broadcast(ps), "shingle")
      .groupBy(col(idCol))
      .agg(countDistinct(col("shingle")).as("n_hits"),
        countDistinct(col("probe_id")).as("n_probes"))
      .filter(col("n_hits") >= minHits)
  }

  /** Deterministic hash-gate sampling: keep a row iff the first
    * `prefixLen` hex chars of `md5(key)` sort strictly below
    * `hexUpper` — a portable, engine-independent Bernoulli gate with
    * rate `parseHex(hexUpper) / 16^prefixLen`, stable under reruns,
    * repartitions, and engine swaps (unlike `rand()` or engine-native
    * `hash()`). The standard way to cut a reproducible corpus sample.
    */
  def hashSampleGate(key: Column, hexUpper: String, prefixLen: Int): Column =
    substring(md5(key.cast("string")), 1, prefixLen) < lit(hexUpper)

  /** Gopher-style REPETITION metrics per document over word n-grams:
    * total n-grams, distinct n-grams, the most frequent n-gram's count,
    * and the two standard filter ratios — duplicate-n-gram fraction
    * `(total − distinct) / total` and top-n-gram fraction `top / total`
    * (both single divisions of exact integers). Highly repetitive docs
    * (boilerplate, keyword stuffing, generation loops) are filtered
    * before training on these thresholds. Pure per-doc aggregation —
    * one shuffle on the id, no cross-doc state.
    */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int): DataFrame = {
    val grams = df.select(col(idCol),
      explode(TextOps.shingles(TextOps.tokens(col(textCol)), shingleN)).as("g"))
    grams.groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
      .withColumn("dup_frac",
        (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams").cast("double"))
      .withColumn("top_frac",
        col("top_count").cast("double") / col("n_grams").cast("double"))
  }

  /** SEQUENCE PACKING (the pack-then-split pretraining layout): order
    * documents within a shard, lay their tokens out as one contiguous
    * stream, and cut the stream every `seqLen` tokens — each doc's
    * sequence id is `floor(start_offset / seqLen)`. One window cumsum
    * per shard (the shard is the parallel unit), exact integer math.
    * Output: one row per (shard, seq_id) with doc and token tallies.
    */
  def packSequences(df: DataFrame, shardCol: String, orderCol: String,
                    tokensCol: String, seqLen: Long): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(orderCol))
    df.select(col(shardCol), col(orderCol), col(tokensCol).cast("long").as("__t"))
      .withColumn("__off",
        coalesce(sum(col("__t")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("seq_id", expr(s"__off div ${seqLen}L"))
      .groupBy(col(shardCol), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("sum_tokens"),
        min(col(orderCol)).as("first_doc"), max(col(orderCol)).as("last_doc"))
  }

  /** Exact-quota STRATIFIED sampling: rank each stratum's rows by
    * `md5(key)` (the rank form of [[hashSampleGate]]'s portable gate —
    * stable under reruns, repartitions, and engine swaps) and keep
    * exactly `quota(stratum)` rows. With quotas from [[allocateBudget]]
    * this is the end-to-end "cut an exactly-N-doc stratified sample"
    * pipeline step — Bernoulli gates only hit quotas in expectation.
    *
    * Scale shape: one window rank per stratum (a single shuffle on the
    * stratum key; skewed strata ride AQE) against a BROADCAST quota
    * table — quotas have one row per stratum. Deterministic total order
    * inside each stratum: (md5(key), key) — the key tie-break makes even
    * md5-collision ties stable.
    *
    * `quotas`: (stratumCol, quota). Output: the input's columns, exactly
    * quota rows per stratum.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
                       quotas: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("__rk"), col(keyCol))
    df.withColumn("__rk", md5(col(keyCol).cast("string")))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .join(broadcast(quotas), stratumCol)
      .where(col("__rn") <= col("quota"))
      .select(df.columns.map(col).toSeq: _*)
  }

  /** EXACT discrete quantiles of an integer column, distributed-shaped:
    * instead of a global row sort (the naive rank formulation — one
    * partition holding the corpus), aggregate to per-VALUE counts (a
    * hash shuffle on the value), then take the running count over the
    * sorted *distinct values* — typically thousands of rows for
    * length-like columns no matter the corpus size — and pick, for each
    * requested quantile q, the first value whose running count reaches
    * `ceil(q·n)` (the type-1 / lower discrete quantile). Exact integer
    * math end to end, so an external engine mirrors it bit-for-bit —
    * unlike sketch-based approx percentiles, which are neither exact nor
    * portable. The single-partition window runs over the distinct-value
    * table only; that reduction is what makes the exact answer feasible
    * at corpus scale.
    *
    * Output: (q_pct, value) — one row per requested percentage, in
    * ascending q order.
    */
  def discreteQuantiles(df: DataFrame, valueCol: String,
                        qPcts: Seq[Int]): DataFrame = {
    require(qPcts.nonEmpty && qPcts.forall(q => q >= 1 && q <= 100),
      "quantile percentages must be in 1..100")
    val counts = df.select(col(valueCol).cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("v"))
    val cum = counts
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
    val qs = qPcts.map(q => struct(lit(q.toLong).as("q_pct"),
      // ceil(q*n/100) in exact integer math: (q*n + 99) div 100
      expr(s"($q * n + 99) div 100").as("target")))
    cum.select(col("v"), col("cum"), explode(array(qs: _*)).as("qq"))
      .select(col("qq.q_pct").as("q_pct"), col("qq.target").as("target"),
        col("v"), col("cum"))
      .where(col("cum") >= col("target"))
      .groupBy(col("q_pct")).agg(min(col("v")).as("value"))
      .orderBy(col("q_pct"))
  }

  /** PII REDACTION: mask emails, phone numbers, and IPv4 literals with
    * typed placeholder tokens and count each category — the standard
    * scrub pass every public-web training corpus runs before training
    * (the patterns here are the common baseline trio; real deployments
    * extend the list, not the machinery). Pure `regexp_replace` /
    * `regexp_extract_all` columns — codegen'd, no UDF, scrub order fixed
    * (emails first so an address's numeric host can never be half-eaten
    * by the IP pass). Patterns stay in the RE2-compatible subset
    * (character classes, bounded repeats, `\b`) so an external engine
    * reproduces them byte-for-byte.
    *
    * Output: id, clean (redacted text), n_emails/n_phones/n_ips, and
    * clean_len.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def scrubPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val clean = regexp_replace(
      regexp_replace(
        regexp_replace(t, lit(EmailRe), lit("<EMAIL>")),
        lit(PhoneRe), lit("<PHONE>")),
      lit(Ipv4Re), lit("<IP>"))
    df.select(col(idCol),
      clean.as("clean"),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      // IPs counted on the email-scrubbed text, mirroring the replace
      // order: a digits-only mail host must count as email, not IP.
      size(regexp_extract_all(
        regexp_replace(t, lit(EmailRe), lit("<EMAIL>")),
        lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
      length(clean).cast("long").as("clean_len"))
  }

  /** Corpus-level LINE DEDUP (the FineWeb/C4-family pass): explode every
    * document into lines, keep only the globally FIRST occurrence of
    * each distinct line (order = (doc id, line position)), and report
    * per-document retention. Boilerplate — navigation chrome, cookie
    * banners, license footers — repeats across millions of pages and is
    * removed line-wise even when the documents aren't near-dups.
    *
    * The corpus here has no newlines, so a "line" is a non-overlapping
    * window of `lineLen` tokens (the trailing partial window counts);
    * callers with real line structure pass a pre-split array instead.
    *
    * Scale shape: one shuffle keyed on line content (the first-occurrence
    * window), one shuffle back on the id for the rollup — both hash
    * joins/aggs on high-cardinality keys, no all-pairs anything. Hot
    * lines (a banner in half the corpus) land in one partition's window
    * but the window computes only row_number — constant state, and AQE
    * splits skewed partitions.
    *
    * Output: id, n_lines, n_dropped (later duplicate occurrences),
    * n_toks_kept (tokens surviving the dedup).
    */
  /** Fixed-width "line" synthesis shared by the line-level curation ops:
    * consecutive `lineLen`-token windows of each doc, (id, line_no,
    * line, n_toks). The corpus has no newlines, so lines are token
    * windows; a newline-bearing corpus would split on \n instead.
    */
  private def lineTable(df: DataFrame, idCol: String, textCol: String,
                        lineLen: Int): DataFrame =
    df.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      // zero-token docs produce no lines (sequence(0, -1) would walk
      // BACKWARD in Spark, not return empty — guard, don't assume)
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, cast((size(__toks) + ${lineLen - 1}) div $lineLen as int) - 1),
           |  i -> struct(array_join(slice(__toks, i * $lineLen + 1, $lineLen), ' ') as line,
           |              least($lineLen, size(__toks) - i * $lineLen) as n_toks))""".stripMargin)))
      .select(col(idCol), col("pos").cast("long").as("line_no"),
        col("col.line").as("line"), col("col.n_toks").cast("long").as("n_toks"))

  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 lineLen: Int): DataFrame = {
    val lines = lineTable(df, idCol, textCol, lineLen)
    val w = Window.partitionBy(col("line")).orderBy(col(idCol), col("line_no"))
    lines.withColumn("__rn", row_number().over(w))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__rn") === 1, 0L).otherwise(1L)).as("n_dropped"),
        sum(when(col("__rn") === 1, col("n_toks")).otherwise(0L)).as("n_toks_kept"))
  }

  /** The Gopher stopword set (Rae et al. 2021 §A1.1): a document must
    * contain at least two of these to pass the stop-word gate.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** GOPHER QUALITY GATES (Rae et al. 2021, Appendix A1.1) — the
    * canonical rule-based quality filter suite every web-scale corpus
    * runs: word-count bounds, mean-word-length bounds, symbol-to-word
    * ratio (`#` and `...`), minimum fraction of words containing an
    * alphabetic character, and a minimum stop-word hit count. Every PASS
    * FLAG is decided in exact integer arithmetic (`sum_len ≥ 3·n` rather
    * than `mean ≥ 3.0`), so an external engine mirrors the booleans
    * bit-for-bit; the double ratios ride along for reporting as single
    * divisions of exact integers. Pure per-row column expressions — one
    * regexp/HOF pass, no shuffle, no UDF.
    *
    * Output: id, n_words, sum_word_len, n_alpha_words, n_stop, n_hash,
    * n_ellipsis, mean_word_len, alpha_frac, symbol_ratio, and the five
    * gate booleans plus the conjunction `pass`.
    */
  def gopherGates(df: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    val withToks = df.select(col(idCol), col(textCol).as("__text"),
      TextOps.tokens(col(textCol)).as("__toks"))
    val counted = withToks.select(
      col(idCol),
      size(col("__toks")).cast("long").as("n_words"),
      aggregate(col("__toks"), lit(0L), (acc, t) => acc + length(t).cast("long"))
        .as("sum_word_len"),
      size(filter(col("__toks"), t => t.rlike("[A-Za-z]"))).cast("long")
        .as("n_alpha_words"),
      TextOps.stopwordHits(col("__toks"), GopherStopwords).as("n_stop"),
      // plain (non-regex) replace in both engines: same left-to-right
      // non-overlapping semantics, no regex-dialect drift
      (length(col("__text")) -
        length(call_function("replace", col("__text"), lit("#"), lit(""))))
        .cast("long").as("n_hash"),
      ((length(col("__text")) -
        length(call_function("replace", col("__text"), lit("..."), lit(""))))
        .cast("long") / lit(3L)).cast("long").as("n_ellipsis"))
    counted
      .withColumn("mean_word_len",
        col("sum_word_len").cast("double") / col("n_words").cast("double"))
      .withColumn("alpha_frac",
        col("n_alpha_words").cast("double") / col("n_words").cast("double"))
      .withColumn("symbol_ratio",
        (col("n_hash") + col("n_ellipsis")).cast("double") / col("n_words").cast("double"))
      // gate booleans in the exact integer domain (no double compares)
      .withColumn("pass_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("pass_mean_len",
        col("sum_word_len") >= lit(3L) * col("n_words") &&
          col("sum_word_len") <= lit(10L) * col("n_words"))
      .withColumn("pass_alpha",
        lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words"))
      .withColumn("pass_symbol",
        lit(10L) * (col("n_hash") + col("n_ellipsis")) <= col("n_words"))
      .withColumn("pass_stop", col("n_stop") >= 2L)
      .withColumn("pass",
        col("pass_word_count") && col("pass_mean_len") && col("pass_alpha") &&
          col("pass_symbol") && col("pass_stop"))
  }

  /** CROSS-SOURCE OVERLAP MATRIX: for every pair of corpus sources, the
    * number of distinct word n-gram shingles they share and the Jaccard
    * similarity of their shingle sets — the corpus-level contamination /
    * redundancy audit run before mixing sources into a training blend
    * (high overlap means one source is near-subsumed by another and its
    * mixture weight double-counts that content).
    *
    * Scale shape: one distinct over (source, shingle) — cardinality
    * ≤ sources × distinct-shingles, NOT corpus size — then a self-join
    * on the shingle key. Every shingle contributes at most |sources|²
    * join rows regardless of how many documents contain it, so there is
    * no hot-key blowup to cap: the "document frequency" dimension is
    * already collapsed by the distinct. Output: |sources|² rows.
    */
  def sourceOverlap(df: DataFrame, groupCol: String, textCol: String,
                    shingleN: Int): DataFrame = {
    val ss = df.select(col(groupCol),
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), shingleN))
          .as("shingle"))
      .distinct()
      .cache()
    ss.count() // eager: feeds the self-join's both sides and the totals
    val n = ss.groupBy(col(groupCol)).agg(count(lit(1)).as("n_sh"))
    val pairs = ss.select(col(groupCol).as("source_a"), col("shingle"))
      .join(ss.select(col(groupCol).as("source_b"), col("shingle")), "shingle")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(n.select(col(groupCol).as("source_a"), col("n_sh").as("n_a")), "source_a")
      .join(n.select(col(groupCol).as("source_b"), col("n_sh").as("n_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double")).as("jaccard"))
  }

  /** L123 — SKETCHED SOURCE-OVERLAP MATRIX: the 100 TB flavor of
    * [[sourceOverlap]]. The exact matrix joins the corpus-wide distinct
    * (source, shingle) table against itself — a shuffle of every
    * distinct shingle occurrence per pair; this one reduces each source
    * to a bounded KMV bottom-k sketch of its shingle-hash set (≤ k
    * longs, true partial merge — map-side-combined like any built-in
    * aggregate) and estimates every pairwise overlap from the tiny
    * sketch table alone, so the corpus is touched exactly once no
    * matter how many sources. Estimators over the merged pair sketch
    * (bottom-k of the union = bottom-k of merged bottom-k's):
    *
    *  - union sketch not full → it saw every distinct hash of A∪B:
    *    counts are EXACT (`union_est` = its size, `j_est` = true J);
    *  - full → `j_est` = |union bottom-k ∩ A ∩ B| / k (the standard
    *    KMV Jaccard estimator) and `union_est` = (k−1)·2⁶⁰ / kth-min
    *    (the L31 cardinality estimator on the union sketch);
    *  - `inter_est` = j_est · union_est.
    *
    * Everything derives from the public md5 hash (`graft_kmv`
    * convention), so the approximate operator is still exactly
    * oracle-checkable — both engines build the identical sketches.
    * Doubles appear only as the documented single divisions/products.
    *
    * Output per source pair: (source_a, source_b, k_union, n_common,
    * union_exact, j_est, union_est, inter_est).
    */
  def sourceOverlapSketch(df: DataFrame, groupCol: String, textCol: String,
                          shingleN: Int, k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val kmv = udaf(new graft.expr.KmvListAgg(k))
    val sk = df.select(col(groupCol),
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), shingleN))
          .as("shingle"))
      .select(col(groupCol),
        conv(substring(md5(col("shingle")), 1, 15), 16, 10)
          .cast("long").as("hv"))
      .groupBy(col(groupCol)).agg(kmv(col("hv")).as("sk"))
    val c = lit((k - 1).toDouble) * lit(1152921504606846976.0) // (k−1)·2⁶⁰
    sk.select(col(groupCol).as("source_a"), col("sk").as("ska"))
      .join(sk.select(col(groupCol).as("source_b"), col("sk").as("skb")),
        col("source_a") < col("source_b"))
      .withColumn("u", slice(array_sort(array_distinct(
        concat(col("ska"), col("skb")))), 1, k))
      .withColumn("k_union", size(col("u")).cast("long"))
      .withColumn("n_common", size(filter(col("u"), h =>
        array_contains(col("ska"), h) && array_contains(col("skb"), h)))
        .cast("long"))
      .withColumn("union_exact", col("k_union") < k)
      .withColumn("j_est",
        col("n_common").cast("double") / col("k_union").cast("double"))
      .withColumn("union_est",
        when(col("union_exact"), col("k_union").cast("double"))
          .otherwise(c / element_at(col("u"), k).cast("double")))
      .withColumn("inter_est", col("j_est") * col("union_est"))
      .select(col("source_a"), col("source_b"), col("k_union"),
        col("n_common"), col("union_exact"), col("j_est"),
        col("union_est"), col("inter_est"))
  }

  /** Per-group VOCABULARY statistics: token count, distinct-token count
    * (vocabulary size), and type-token ratio — the standard corpus
    * diversity profile (a low TTR flags template/boilerplate sources
    * before they skew a mixture). One explode + one two-level hash
    * aggregation; the distinct count shuffles (group, token) pairs, not
    * rows. TTR is a single division of exact integers.
    */
  def vocabStats(df: DataFrame, groupCol: String, textCol: String): DataFrame =
    df.select(col(groupCol),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_types"))
      .withColumn("type_token_ratio",
        col("n_types").cast("double") / col("n_tokens").cast("double"))

  /** TABLE PROFILER — the ANALYZE/stats-collection pass a query engine
    * runs to feed its optimizer and a curation run uses to sanity-check
    * a new corpus drop: per column, row/null counts, exact distinct
    * count, and the KMV distinct ESTIMATE (the sketch that replaces
    * exact ndv at 100 TB — kept side by side here so the estimate is
    * auditable against truth). ONE pass over the table: all columns'
    * aggregates evaluate in a single partial+final aggregation, then
    * unpivot to one row per column.
    *
    * Cross-engine exactness: min/max are taken over the STRING form of
    * each column (one canonical collation for mixed types), and the KMV
    * hash is the public-md5 scheme of [[graft.expr.KmvSketchAgg]].
    */
  def profileTable(df: DataFrame, cols: Seq[String], kmvK: Int): DataFrame = {
    val kmv = udaf(new graft.expr.KmvSketchAgg(kmvK))
    val aggs = cols.flatMap { c =>
      val s = col(c).cast("string")
      val hv = conv(substring(md5(s), 1, 15), 16, 10).cast("long")
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__ndv"),
        min(s).as(s"${c}__min"),
        max(s).as(s"${c}__max"),
        kmv(hv).as(s"${c}__kmv"))
    }
    val allAggs = count(lit(1)).as("n_rows") +: aggs
    val wide = df.agg(allAggs.head, allAggs.tail: _*)
    val est = lit((kmvK - 1).toDouble) * lit(1152921504606846976.0) // (k−1)·2⁶⁰
    val rows = cols.map { c =>
      struct(lit(c).as("column"), col("n_rows"),
        col(s"${c}__nulls").as("n_nulls"), col(s"${c}__ndv").as("ndv_exact"),
        col(s"${c}__min").as("min_str"), col(s"${c}__max").as("max_str"),
        when(col(s"${c}__kmv.kth_min").isNull,
          col(s"${c}__kmv.n_min").cast("double"))
          .otherwise(est / col(s"${c}__kmv.kth_min").cast("double"))
          .as("ndv_kmv_est"))
    }
    wide.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  /** DSIR-style IMPORTANCE SCORING (Xie et al., NeurIPS 2023 — "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw document by how much its hashed n-gram feature profile
    * looks like a TARGET corpus rather than the raw corpus, then keep
    * the high scorers. The paper's weight is
    * `log w(z) = Σ_b f_b(z)·log(p_b/q_b)` over hashed n-gram buckets;
    * as with tf-idf (see `TextOps.tfidfTopK`) the log is replaced by an
    * integer-exact surrogate with the same per-feature sign and the
    * same over/under-representation semantics:
    * `score(z) = Σ_b f_b(z)·(ct_b·N_raw − cr_b·N_tgt)` where ct/cr are
    * the bucket's feature counts in target/raw and N_tgt/N_raw the
    * corpus totals — positive exactly when the feature is
    * over-represented in the target (`ct/N_tgt > cr/N_raw`), so
    * `score > 0` reads "on balance target-like". Every term is a long
    * (counts ≤ corpus features, products ≤ count·total ≪ 2⁶³), so an
    * external SQL engine reproduces the scores bit-for-bit.
    *
    * Scale shape: the bucket tables have at most `buckets` rows (a few
    * thousand) regardless of corpus size — both broadcast. The corpus
    * pays one explode + one (id, bucket) hash agg + one per-id hash
    * agg; no shuffle ever carries more than the per-doc feature
    * profiles. The hashed-feature trick is exactly what makes DSIR
    * linear at 100 TB: the "distribution" is a fixed-width vector, not
    * a vocabulary.
    *
    * Features are word `shingleN`-grams hashed into `buckets` buckets
    * via the public-md5 slice (mirrorable in any engine). Raw docs with
    * no feature (fewer than `shingleN` tokens) are dropped — they have
    * no evidence either way. Output: (idCol, n_feats, score, keep).
    */
  def dsirScores(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, buckets: Int, shingleN: Int): DataFrame = {
    def feats(df: DataFrame): DataFrame = df.select(col(idCol),
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), shingleN)).as("g"))
      .select(col(idCol),
        (conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long") % buckets)
          .as("bucket"))
    val rawF = feats(raw)
    // bucket histograms (≤ `buckets` rows each) + their scalar totals,
    // kept as one-row frames so the whole score is a single composed
    // plan: tiny sides broadcast, nothing collects to the driver.
    val tgtC = feats(target).groupBy(col("bucket")).agg(count(lit(1)).as("ct"))
    val rawC = rawF.groupBy(col("bucket")).agg(count(lit(1)).as("cr"))
    scoreFromCounts(rawF, tgtC, rawC, idCol)
  }

  /** [[dsirScores]] when the target corpus is a PREDICATE over the raw
    * corpus (the common "target = the English slice" setup): ONE
    * tokenize + shingle + md5 pass over the corpus feeds the target
    * histogram, the raw histogram and the per-doc profiles — the
    * two-frame form pays that full-corpus pass three times. The
    * (id, flag, bucket) rows are eager-cached (longs only — the text
    * never persists) and fanned across cores before the per-row hash
    * work ([[graft.Tables.spread]]). Results are bit-identical to
    * `dsirScores(docs, docs.filter(targetPred), ...)`.
    */
  def dsirScoresTagged(docs: DataFrame, targetPred: Column, idCol: String,
                       textCol: String, buckets: Int, shingleN: Int): DataFrame = {
    val feats = graft.Tables.spread(
        docs.select(col(idCol), targetPred.as("__tgt"), col(textCol)),
        col(idCol))
      .select(col(idCol), col("__tgt"),
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), shingleN)).as("g"))
      .select(col(idCol), col("__tgt"),
        (conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long") % buckets)
          .as("bucket"))
      .cache()
    feats.count()
    val tgtC = feats.filter(col("__tgt")).groupBy(col("bucket"))
      .agg(count(lit(1)).as("ct"))
    val rawC = feats.groupBy(col("bucket")).agg(count(lit(1)).as("cr"))
    scoreFromCounts(feats.select(col(idCol), col("bucket")), tgtC, rawC, idCol)
  }

  private def scoreFromCounts(rawF: DataFrame, tgtC: DataFrame,
                              rawC: DataFrame, idCol: String): DataFrame = {
    val tgtN = tgtC.agg(sum(col("ct")).as("n_tgt"))
    val rawN = rawC.agg(sum(col("cr")).as("n_raw"))
    rawF.groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("tf"))
      .join(broadcast(rawC), Seq("bucket")) // every raw bucket is present
      .join(broadcast(tgtC), Seq("bucket"), "left")
      .crossJoin(broadcast(tgtN)).crossJoin(broadcast(rawN))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_feats"),
        sum(col("tf") * (coalesce(col("ct"), lit(0L)) * col("n_raw")
          - col("cr") * col("n_tgt"))).as("score"))
      .withColumn("keep", col("score") > 0L)
  }

  /** Per-document n-gram NOVELTY: of a doc's distinct word n-grams, how
    * many appear in NO other document — the inverse of the boilerplate
    * signal (low novelty = the doc is assembled from corpus-common
    * phrasing; high novelty = unique content worth keeping under a
    * dedup-adjacent budget). Document frequency is collapsed on the
    * distinct (doc, shingle) table — one hash agg on the shingle, one
    * join back, one per-doc agg; the novel/total ratio is a single
    * division of exact integers.
    */
  def noveltyStats(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int): DataFrame =
    noveltyStatsFrom(TextOps.shingleTable(df, idCol, textCol, shingleN), idCol)

  /** [[noveltyStats]] from a prebuilt distinct (id, shingle) table —
    * the shingle table feeds BOTH the df aggregate and the join-back
    * side, so a caller holding a materialized one (the session-staged
    * full-corpus table) skips two tokenize+explode+distinct passes
    * (guide §5).
    */
  def noveltyStatsFrom(sd: DataFrame, idCol: String): DataFrame = {
    val dfc = sd.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sd.join(dfc, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novel_frac",
        col("n_novel").cast("double") / col("n_shingles").cast("double"))
  }

  /** Mixture-weight ALLOCATION by largest remainder (Hamilton's method):
    * split an integer token `budget` across groups proportionally to
    * their token counts, exactly — allocations sum to the budget, every
    * group gets `floor(budget·tᵢ/T)` plus one extra token for the
    * `budget − Σfloor` largest remainders (ties by group key for
    * determinism). How a training run turns per-domain token counts into
    * a sampling plan. All arithmetic is exact integer (`budget·tᵢ` as
    * long — callers keep `budget ≤ 2⁶³/T`); the remainder comparison is
    * `budget·tᵢ mod T`, never a double.
    *
    * Input: (groupCol, tokensCol), ONE ROW PER GROUP — a mixing plan has
    * a handful of domains, so the single-partition windows here are
    * trivially cheap (the heavy per-doc aggregation producing the totals
    * is the caller's distributed groupBy). Output: (groupCol, tokens,
    * alloc).
    */
  def allocateBudget(totals: DataFrame, groupCol: String, tokensCol: String,
                     budget: Long): DataFrame = {
    // `div`, not `/`: Column./ on longs is DOUBLE division — inexact
    // past 2^53 and a different value domain than the SQL mirror.
    val withT = totals.select(col(groupCol), col(tokensCol).cast("long").as("tokens"))
      .withColumn("__T", sum(col("tokens")).over(Window.partitionBy()))
      .withColumn("__floor", expr(s"(${budget}L * tokens) div __T"))
      .withColumn("__rem", expr(s"(${budget}L * tokens) % __T"))
    val w = Window.partitionBy().orderBy(col("__rem").desc, col(groupCol))
    withT
      .withColumn("__rank", row_number().over(w))
      .withColumn("__leftover",
        lit(budget) - sum(col("__floor")).over(Window.partitionBy()))
      .withColumn("alloc",
        col("__floor") + when(col("__rank") <= col("__leftover"), 1L).otherwise(0L))
      .select(col(groupCol), col("tokens"), col("alloc"))
  }

  /** PER-DOMAIN CAP (domain balancing — the RefinedWeb/C4 rule that no
    * single host may dominate the corpus): extract the host from a URL
    * column with Spark's native `parse_url`, drop blocklisted hosts
    * with a broadcast anti join, and keep at most `cap` documents per
    * host — the best by (weightCol desc, idCol asc) — through the
    * bounded-state [[graft.expr.TopKAgg]], so a host with millions of
    * documents ships at most `cap` rows per map partition to the
    * shuffle instead of all of them (the skew profile of web corpora is
    * exactly a few giant hosts). Output: (host, n_host, rank, idCol,
    * weightCol) for the kept rows, rank 1..cap within host.
    */
  def domainCap(df: DataFrame, idCol: String, urlCol: String,
                weightCol: String, cap: Int, blocked: Seq[String]): DataFrame = {
    import df.sparkSession.implicits._
    val withHost = df.select(col(idCol), col(weightCol).cast("long").as(weightCol),
      parse_url(col(urlCol), lit("HOST")).as("host"))
    val kept = withHost.join(broadcast(blocked.toDF("host")), Seq("host"), "left_anti")
    val topk = udaf(new graft.expr.TopKAgg(cap))
    kept.groupBy(col("host"))
      .agg(topk(col(weightCol), col(idCol)).as("__tk"),
        count(lit(1)).as("n_host"))
      .select(col("host"), col("n_host"), posexplode(col("__tk")))
      .select(col("host"), col("n_host"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol), col("col.value").as(weightCol))
      .orderBy(col("host"), col("rank"))
  }

  /** DETERMINISTIC SHARD ASSIGNMENT + TRAINING ORDER — the "global
    * shuffle" every training run needs, without ever sorting the
    * corpus globally: shard = hash mod nShards spreads documents
    * uniformly (and reproducibly — the assignment is a pure function of
    * the id, so a re-run or a resumed job lands every doc in the same
    * shard), and the within-shard position orders by the same 60-bit
    * md5 prefix — a hash-random but deterministic training order. The
    * global sort decomposes into nShards independent per-shard sorts,
    * which is exactly how shard files are written at 100 TB (one
    * writer task per shard, no cross-shard coordination). Output:
    * (idCol, h, shard, pos).
    */
  def shardAssign(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"need nShards >= 1, got $nShards")
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    df.select(col(idCol), h.as("h"))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h"), col(idCol)))
        .cast("long"))
      .orderBy(col("shard"), col("pos"))
  }

  /** RENDEZVOUS (highest-random-weight) SHARDING — Thaler & Ravishankar
    * 1998, the consistent-hashing variant with zero ring state: a doc's
    * shard is `argmax over s of hash(id, s)`. The property that makes
    * it an operator worth owning: when the shard count grows k→k+1,
    * a doc either keeps its shard or moves to the NEW shard — never
    * between old shards — so scaling a 100 TB corpus from k to k+1
    * writers invalidates ~1/(k+1) of the layout instead of all of it
    * (mod-hashing reshuffles nearly everything; [[shardAssign]] is the
    * static-layout tool, this is the elastic one).
    *
    * Entirely map-side: the k candidate scores are one `transform` over
    * a literal sequence and the argmax an `array_max` on (h, shard)
    * structs (lexicographic struct order = max h, shard breaking the
    * measure-zero md5 ties) — no shuffle, no state, assignment a pure
    * function of (id, k). Output: (id, shard, h).
    */
  def rendezvousAssign(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"need nShards >= 1, got $nShards")
    val scored = transform(sequence(lit(0), lit(nShards - 1)), s =>
      struct(
        conv(substring(md5(concat(col(idCol).cast("string"), lit("|"),
          s.cast("string"))), 1, 15), 16, 10).cast("long").as("h"),
        s.cast("long").as("shard")))
    df.select(col(idCol), array_max(scored).as("best"))
      .select(col(idCol), col("best.shard").as("shard"), col("best.h").as("h"))
  }

  /** CALIBRATED QUALITY GATE: keep each group's top `keepNum/keepDen`
    * fraction by score — per-SOURCE calibration, the fix for the
    * classic curation failure where one global threshold empties
    * whichever source scores systematically lower (FineWeb-style
    * pipelines gate per dump/source for exactly this reason). Rank is
    * `row_number` over (score DESC, id) — deterministic under ties —
    * and the keep test `rank·keepDen ≤ keepNum·n` stays in integers.
    *
    * Scale note: group cardinality here is tiny (sources/dumps), so
    * the per-group window is a skew hazard at 100 TB — one source's
    * rows all sort in one task. The production path at that scale is a
    * per-source score THRESHOLD from the log-quantile sketch (L45)
    * broadcast back as a map-side gate; this exact-rank version is the
    * reference semantics the sketch path approximates (and the oracle
    * checks exactly).
    *
    * Output: (id, grp, score, n, rank, keep).
    */
  def calibratedQualityGate(df: DataFrame, idCol: String, grpCol: String,
                            scoreCol: String, keepNum: Int, keepDen: Int): DataFrame = {
    require(keepNum >= 0 && keepDen >= 1, "need a keepNum/keepDen fraction")
    val w = Window.partitionBy(col(grpCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    df.select(col(idCol), col(grpCol), col(scoreCol))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col(grpCol))).cast("long"))
      .withColumn("keep",
        col("rank") * lit(keepDen.toLong) <= col("n") * lit(keepNum.toLong))
  }

  /** SEQUENCE PACKING, next-fit: lay documents end-to-end into
    * fixed-budget context windows ("bins"), the step between a curated
    * corpus and a training batch — padding waste is the fraction of
    * each window left empty, and next-fit (close the bin the moment a
    * doc doesn't fit) is the standard streaming packer: one pass, no
    * lookahead, deterministic.
    *
    * Packing is inherently sequential, so the parallelism unit is the
    * SHARD ([[shardAssign]]'s hash-random assignment + (h, id) order
    * reused verbatim): nShards independent sequential packs. The
    * implementation is the secondary-sort pattern, not a grouped
    * collect — `repartition(shard)` hash-routes each shard to exactly
    * one partition, `sortWithinPartitions(shard, h, id)` is a
    * spill-friendly external sort, and one `mapPartitions` pass keeps
    * THREE longs of running state (bin, used, pos), resetting at shard
    * boundaries — a shard never needs to fit in memory, which is what
    * lets a 100 TB corpus pack with executor-sized heaps.
    *
    * A doc longer than the budget closes the current bin (if open) and
    * occupies one alone — emitted, not dropped, with `off = 0` and
    * `len > budget` visible to the caller's truncation policy.
    *
    * Output: (id, shard, pos, bin, off, len) — `bin` numbers from 0
    * per shard, `off` is the doc's start offset inside its bin.
    */
  def packNextFit(df: DataFrame, idCol: String, lenCol: String,
                  nShards: Int, budget: Long): DataFrame = {
    require(nShards >= 1 && budget >= 1, "need nShards >= 1 and budget >= 1")
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(pmod(h, lit(nShards.toLong)).as("shard"), h.as("h"),
        col(idCol).cast("long").as("id"), col(lenCol).cast("long").as("len"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("h"), col("id"))
      .as[(Long, Long, Long, Long)]
      .mapPartitions { it =>
        var shard = -1L; var bin = 0L; var used = 0L; var pos = 0L
        it.map { case (sh, _, id, len) =>
          if (sh != shard) { shard = sh; bin = 0L; used = 0L; pos = 0L }
          if (used > 0 && used + len > budget) { bin += 1; used = 0L }
          val off = used
          used += len; pos += 1
          (id, sh, pos, bin, off, len)
        }
      }
      .toDF(idCol, "shard", "pos", "bin", "off", "len")
  }

  /** CORPUS SNAPSHOT DIFF — the incremental-ingest delta: classify
    * every doc id across two snapshots as added / removed / changed /
    * unchanged by comparing content fingerprints (md5 of the text, so
    * the wide text column never crosses the join — only id + 32-char
    * digest shuffle, the practical difference between diffing 100 TB
    * and diffing 2×100 TB). One full-outer equi join on the id; the
    * status is a pure projection over null-ness and digest equality.
    * Output: (idCol, status) for every id in either snapshot.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol), md5(col(textCol)).as("__ho"))
    val n = newDf.select(col(idCol), md5(col(textCol)).as("__hn"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__ho").isNull, lit("added"))
          .when(col("__hn").isNull, lit("removed"))
          .when(col("__ho") === col("__hn"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** DETERMINISTIC PER-GROUP BOTTOM-K SAMPLE: the k rows with the
    * smallest public-hash value (md5-prefix of the key) per group — a
    * fixed-SIZE uniform-without-replacement sample, the complement of
    * [[hashSampleGate]]'s fixed-RATE gate. Bottom-k-by-hash is the
    * classic mergeable sample (the same lattice KMV uses): the union's
    * bottom-k is the bottom-k of the parts, so the sample composes
    * across shards, days, and streaming micro-batches with no
    * coordination. Runs as [[graft.expr.TopKAgg]] on the NEGATED hash —
    * ≤ k rows per group per map partition reach the shuffle, vs the
    * window formulation shipping every row to a per-group sort (the
    * difference between sampling 100 TB and sorting it). The hash is a
    * 60-bit md5 prefix, so an external engine draws the identical
    * sample. Output: (groupCol, rank, keyCol, h), rank 1..k by h asc.
    */
  def bottomKSample(df: DataFrame, groupCol: String, keyCol: String,
                    k: Int): DataFrame = {
    val h = conv(substring(md5(col(keyCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val topk = udaf(new graft.expr.TopKAgg(k))
    df.select(col(groupCol), col(keyCol), h.as("__h"))
      .groupBy(col(groupCol))
      .agg(topk(-col("__h"), col(keyCol)).as("__tk"))
      .select(col(groupCol), posexplode(col("__tk")))
      .select(col(groupCol), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(keyCol), (-col("col.value")).as("h"))
      .orderBy(col(groupCol), col("rank"))
  }

  /** TIME-DECAYED COUNTS (exponential decay, half-life = one bucket):
    * the recency-weighted frequency behind "trending" rankings. Each
    * event weighs `2^(bucket − maxBucket)` — newer buckets dominate,
    * each bucket back halves — computed EXACTLY: the per-row weight is
    * the integer `2^(bucket − minBucket)` (a shift, never a float pow),
    * summed per group map-side like any sum, and the final decayed
    * value is ONE division by `2^(maxBucket − minBucket)` — so the
    * checked columns stay in integer domain and the one double is
    * bit-stable cross-engine. Bucket span must stay under 62 half-lives
    * (the long shift range); real deployments window the input first,
    * which also bounds the weights. One pass for the global bucket
    * range (a 2-value broadcast), one map-side-combined agg — no
    * per-event state, stream-mergeable (sum of shifted counts).
    *
    * `tUsCol`: event time in epoch micros. Output: (groupCol, n,
    * decayed_num, scale, decayed) with decayed = decayed_num/2^scale.
    */
  def decayedCounts(df: DataFrame, groupCol: String, tUsCol: String,
                    bucketUs: Long): DataFrame = {
    require(bucketUs >= 1L, "bucket width must be positive")
    // integral floor of t/bucket: subtract the remainder, then the
    // division is exact (and the double result integral < 2^53)
    val t = col(tUsCol)
    val day = ((t - pmod(t, lit(bucketUs))) / lit(bucketUs)).cast("long")
    val bounds = df.agg(
      min(day).as("__dmin"), max(day).as("__dmax"))
    val weighted = df.crossJoin(broadcast(bounds))
      // a shift past 62 wraps silently (Java shifts are mod 64) — fail
      // loudly instead: spans beyond 62 half-lives must be windowed by
      // the caller before decaying
      .withColumn("__w",
        when(col("__dmax") - col("__dmin") > 62L,
          raise_error(concat(lit("decayedCounts: bucket span "),
            (col("__dmax") - col("__dmin")).cast("string"),
            lit(" exceeds 62 half-lives — window the input first")))
            .cast("long"))
          .otherwise(call_function("shiftleft", lit(1L),
            (day - col("__dmin")).cast("int"))))
      .withColumn("__scale", (col("__dmax") - col("__dmin")).cast("int"))
    weighted.groupBy(col(groupCol), col("__scale"))
      .agg(count(lit(1)).as("n"), sum(col("__w")).as("decayed_num"))
      .select(col(groupCol), col("n"), col("decayed_num"),
        col("__scale").cast("long").as("scale"),
        (col("decayed_num").cast("double") /
          call_function("shiftleft", lit(1L), col("__scale")).cast("double"))
          .as("decayed"))
      .orderBy(col(groupCol))
  }

  /** PER-GROUP QUANTILES FROM A LOG-HISTOGRAM SKETCH
    * ([[graft.expr.LogHist]]): one map-side-combined aggregation builds
    * a bounded ~0.5k-counter histogram per group — per-value state never
    * exists, unlike [[discreteQuantiles]] whose state is one counter per
    * distinct value — then each requested quantile reads the first
    * bucket whose cumulative count reaches `ceil(q·n)` and reports that
    * bucket's representative (`rep8` = 8× the bucket lower bound, so the
    * true q-quantile v satisfies `rep8 ≤ 8v < rep8·(1 + 1/8)` within
    * the bucket's relative-error bound). The post-aggregation walk runs
    * over ≤ 504 rows per group. `qSpecs`: (q_pct, num, den) with
    * q = num/den; rank = ceil(n·num/den) in exact integer math.
    *
    * Output: (groupCol, q_pct, n, rank, bkt, rep8) ordered by group and
    * percentile.
    */
  def logQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                   qSpecs: Seq[(Int, Long, Long)]): DataFrame = {
    import graft.expr.{CmsSketchAgg, LogHist}
    require(qSpecs.nonEmpty && qSpecs.forall { case (_, n, d) =>
      n >= 0L && d >= 1L && n <= d }, "quantile specs must satisfy 0 <= num <= den")
    val hist = udaf(new CmsSketchAgg(1, LogHist.nBuckets))
    val grid = df
      .select(col(groupCol), array(LogHist.bucket(col(valueCol))).as("__cs"))
      .groupBy(col(groupCol))
      .agg(hist(col("__cs")).as("__grid"), count(lit(1)).as("n"))
    val cells = grid
      .select(col(groupCol), col("n"),
        posexplode(col("__grid")).as(Seq("bkt", "__cnt")))
      .where(col("__cnt") > 0L)
      .withColumn("__cum",
        sum(col("__cnt")).over(
          Window.partitionBy(col(groupCol)).orderBy(col("bkt"))))
    val specs = qSpecs.map { case (pct, num, den) =>
      struct(lit(pct).as("q_pct"), lit(num).as("__qn"), lit(den).as("__qd"))
    }
    cells
      .select(col(groupCol), col("n"), col("bkt"), col("__cum"),
        explode(array(specs: _*)).as("__q"))
      .select(col(groupCol), col("n"), col("bkt"), col("__cum"),
        col("__q.q_pct").as("q_pct"),
        expr("(n * __q.__qn + __q.__qd - 1L) div __q.__qd").as("rank"))
      .where(col("__cum") >= col("rank"))
      .groupBy(col(groupCol), col("q_pct"), col("n"), col("rank"))
      .agg(min(col("bkt")).as("bkt"))
      .withColumn("rep8", graft.expr.LogHist.rep8(col("bkt")))
      .select(col(groupCol), col("q_pct"), col("n"), col("rank"),
        col("bkt"), col("rep8"))
      .orderBy(col(groupCol), col("q_pct"))
  }

  /** Bit-interleaved Z-order key over two pre-bucketed dimensions:
    * bit `i` of `b0` lands at position `2i`, bit `i` of `b1` at
    * `2i+1`. Unrolled at plan-build time into `2·bits` shift/mask/or
    * terms — all codegen'd integer ops, no UDF.
    */
  def zorderKey(b0: Column, b1: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(b0, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b1, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Z-ORDER DATA LAYOUT + MIN-MAX FILE SKIPPING — the multi-dimensional
    * data-clustering step every 100 TB lakehouse table runs (Delta
    * OPTIMIZE ZORDER / Iceberg sort orders): rows sorted by the
    * bit-interleaved key of two dimensions land in files whose per-file
    * min/max envelopes are TIGHT in BOTH dimensions, so a range
    * predicate on either column prunes most files from the scan — the
    * single biggest scan-cost lever after partition pruning. A linear
    * single-column sort gives tight envelopes in that column only; every
    * file spans the full range of the other.
    *
    * Steps, all exact integer math so an external SQL engine mirrors the
    * layout bit-for-bit: (1) one tiny min/max agg per dimension,
    * broadcast; (2) rank-normalize each value to a `bits`-bit bucket by
    * integer division (guarded against multiply overflow — spans beyond
    * Long.Max/2^bits must be pre-scaled by the caller); (3) interleave
    * ([[zorderKey]]); (4) assign `rowsPerFile` consecutive rows per file
    * in z-order. At 100 TB step 4 is `repartitionByRange($"z")` + one
    * writer task per range (sampled split points, no global sort); here
    * a deterministic `row_number` gives byte-stable file boundaries for
    * the oracle — both produce files that are contiguous z-ranges.
    *
    * Output: per-file stats manifest (file_id, n, min/max of both
    * dims) — exactly the footer/manifest stats a skipping scan consults.
    */
  def zorderLayout(df: DataFrame, c0: String, c1: String, tieCol: String,
                   bits: Int, rowsPerFile: Int): DataFrame =
    curveLayout(df, c0, c1, tieCol, bits, rowsPerFile,
      zorderKey(_, _, bits), "zorderLayout")

  /** L189 — HILBERT-CURVE DATA LAYOUT: the locality UPGRADE over
    * [[zorderLayout]] — the Hilbert curve visits every cell of the
    * 2^bits × 2^bits grid with consecutive indices always ADJACENT
    * (Manhattan distance 1; Z-order jumps across the plane at every
    * power-of-2 seam), so file envelopes are tighter on average and
    * range scans prune more files (the reason Databricks liquid
    * clustering moved from Z-order to Hilbert). The index is the
    * classic xy2d fold (Wikipedia/Hamilton): per level s = 2^i from
    * the top, quadrant = (3·rx) xor ry prices the sub-square, then the
    * reflect+swap rotation — computed as ONE `aggregate` HOF over the
    * descending level array with a (x, y, d) struct accumulator, so
    * the expression tree stays LINEAR in bits (a naive per-level
    * column fold doubles the tree each level — 2^bits blowup), all
    * exact integer ops, no UDF. The oracle unrolls the same fold as
    * chained per-level CTEs with level-numbered columns (lateral-alias
    * safety) — bit-for-bit identical.
    *
    * Same bucket/sort/manifest assembly as Z-order ([[curveLayout]]);
    * same 100 TB shape: `repartitionByRange` on the key + one writer
    * task per range.
    */
  def hilbertLayout(df: DataFrame, c0: String, c1: String, tieCol: String,
                    bits: Int, rowsPerFile: Int): DataFrame = {
    // the fused codegen form of [[hilbertKey]] (identical exact-long
    // fold, pinned in OpsSpec): the HOF `aggregate` evaluates
    // interpreted with a per-level struct allocation per row (§1.2)
    curveLayout(df, c0, c1, tieCol, bits, rowsPerFile,
      (a, b) => graft.expr.GraftFunctions.hilbertKey(a, b, lit(bits)),
      "hilbertLayout")
  }

  /** The xy2d Hilbert index of two pre-bucketed `bits`-bit dimensions
    * as a linear-size expression: aggregate over levels s =
    * 2^(bits−1)..1 with struct state, C-code-faithful (rx = (x & s)>0,
    * d += s²·((3rx) xor ry), reflect-on-rx then swap when ry = 0).
    */
  def hilbertKey(b0: Column, b1: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 20, s"need 1 <= bits <= 20, got $bits")
    val n1 = lit((1L << bits) - 1L)
    val levels = array((bits - 1 to 0 by -1).map(i => lit(1L << i)): _*)
    aggregate(
      levels,
      struct(b0.cast("long").as("x"), b1.cast("long").as("y"),
        lit(0L).as("d")),
      (a, s) => {
        val rx = when(a("x").bitwiseAND(s) > 0L, lit(1L)).otherwise(lit(0L))
        val ry = when(a("y").bitwiseAND(s) > 0L, lit(1L)).otherwise(lit(0L))
        struct(
          when(ry === 0L, when(rx === 1L, n1 - a("y")).otherwise(a("y")))
            .otherwise(a("x")).as("x"),
          when(ry === 0L, when(rx === 1L, n1 - a("x")).otherwise(a("x")))
            .otherwise(a("y")).as("y"),
          (a("d") + s * s * (rx * 3L).bitwiseXOR(ry)).as("d"))
      },
      a => a("d"))
  }

  /** Exact global 1-based rank over a TOTAL order (`ordCol`, then
    * `tieCol`) with NO single-partition sort — the 100 TB shape for
    * the layout operators. The naive `row_number() OVER (ORDER BY …)`
    * funnels the whole corpus through one task; instead:
    *
    *  1. derive a DETERMINISTIC range-bucket id from the ordering
    *     column's own value range (`__pid = (ord − lo) · P div span`,
    *     bounds already broadcast by the caller) — a logical range
    *     partition that, unlike `repartitionByRange`'s sampled
    *     boundaries, is a pure function of the row, so re-evaluating
    *     the lineage can never disagree with itself;
    *  2. rank WITHIN each bucket (`Window.partitionBy(__pid)` — a
    *     parallel hash exchange, P-way);
    *  3. one tiny P-row count-per-bucket agg → cumulative offsets
    *     (window over ≤ P rows) → broadcast join back; global rank =
    *     offset + local rank.
    *
    * Equal ordering values share a bucket by construction, so the
    * result is identical to the single-sort `row_number` for any
    * total (ordCol, tieCol) order — PlanSpec pins that the layout
    * plans carry NO `Exchange SinglePartition` under their windows.
    * Rows per bucket stay balanced when `ordCol` is near-uniform over
    * its range (curve keys are); pathological skew concentrates in
    * few buckets but never in ONE task per the hash exchange on
    * distinct `__pid`s.
    */
  private def rangeBucketedRank(df: DataFrame, ordCol: Column,
      tieCol: Column, lo: Column, hi: Column, rankName: String): DataFrame = {
    val p = 64L
    val maxSpan = (1L << 53) / p // keep num exactly double-representable
    val span = hi - lo + 1L
    val num = (ordCol - lo) * p
    val pid = when(span <= p, ordCol - lo) // small ranges: value = bucket
      .when(span > maxSpan, raise_error(concat(
        lit("rangeBucketedRank: ordering span "), span.cast("string"),
        lit(" overflows the exact bucket multiply - pre-scale the column"))))
      .otherwise((num - pmod(num, span)) / span) // exact integral div
      .cast("long")
    // Eager cache: the bucketed relation feeds TWO passes (the per-
    // bucket count agg and the rank join) — the two-pass rank's one
    // unavoidable re-read. Uncached, the second pass re-evaluated the
    // whole upstream lineage, which for the curve layouts includes the
    // bounds agg + the per-row curve-key fold (measured: c_zorder_layout
    // 3.5 s → 1.2 s at sf0.1). This is the standard two-pass-rank
    // materialization (guide §8: decide on a materialized proxy, then
    // attach); MEMORY_AND_DISK LRU like every dedup-path cache.
    val bucketed = df.withColumn("__pid", pid).cache()
    bucketed.count()
    val offsets = bucketed.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum(col("__c")).over(
        Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    bucketed.join(broadcast(offsets), Seq("__pid"))
      .withColumn(rankName, (col("__off") + row_number().over(
        Window.partitionBy(col("__pid")).orderBy(ordCol, tieCol)))
        .cast("long"))
      .drop("__pid", "__off")
  }

  /** Shared space-filling-curve layout assembly: min/max bounds
    * broadcast, `bits`-bit integer-division buckets (overflow-guarded),
    * the caller's curve key, `rowsPerFile` consecutive rows per file,
    * per-file min/max manifest.
    */
  private def curveLayout(df: DataFrame, c0: String, c1: String,
      tieCol: String, bits: Int, rowsPerFile: Int,
      key: (Column, Column) => Column, opName: String): DataFrame = {
    require(bits >= 1 && bits <= 20, s"need 1 <= bits <= 20, got $bits")
    require(rowsPerFile >= 1, s"need rowsPerFile >= 1, got $rowsPerFile")
    val top = (1L << bits) - 1L
    val maxSpan = Long.MaxValue / top
    def bucket(c: String, n: String, x: String): Column =
      expr(s"""CASE WHEN $x = $n THEN 0L
        WHEN $x - $n > ${maxSpan}L THEN raise_error(CONCAT(
          '$opName: $c span ', CAST($x - $n AS STRING),
          ' overflows the ${bits}-bit bucket multiply - pre-scale the column'))
        ELSE (($c - $n) * ${top}L) div ($x - $n) END""")
    val bounds = df.agg(
      min(col(c0)).as("__n0"), max(col(c0)).as("__x0"),
      min(col(c1)).as("__n1"), max(col(c1)).as("__x1"))
    val keyed = df.crossJoin(broadcast(bounds))
      .withColumn("__b0", bucket(c0, "__n0", "__x0"))
      .withColumn("__b1", bucket(c1, "__n1", "__x1"))
      .withColumn("__z", key(col("__b0"), col("__b1")))
    rangeBucketedRank(keyed, col("__z"), col(tieCol),
        lit(0L), lit((1L << (2 * bits)) - 1L), "__rn")
      .withColumn("file_id", expr(s"(__rn - 1L) div ${rowsPerFile}L"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n"),
        min(col(c0)).as(s"min_$c0"), max(col(c0)).as(s"max_$c0"),
        min(col(c1)).as(s"min_$c1"), max(col(c1)).as(s"max_$c1"))
      .orderBy(col("file_id"))
  }

  /** LEAKAGE-SAFE TRAIN/VAL/TEST SPLIT — random document splits leak:
    * near-duplicate pairs straddle the split boundary and the eval set
    * scores memorization, not generalization (the reason GPT-3/Pile-era
    * reports dedup eval against train). The fix is to split by NEAR-DUP
    * COMPONENT, never by document: label every doc with its connected
    * component over the near-dup pair graph ([[graft.ops.Dedup
    * .connectedComponents]], singletons labeled by themselves), then
    * hash the COMPONENT id into `nBuckets` deterministic buckets —
    * buckets `< trainHi` → train, `< valHi` → val, rest → test. Every
    * member of a component shares its bucket by construction, so no
    * near-dup pair ever crosses a split; the assignment is a pure
    * function of content (reproducible across runs, shards, re-ingests).
    *
    * Scale shape: components over banded candidate pairs (never
    * all-pairs), then one broadcast-free equi join of the label table
    * back to the corpus and a stateless hash projection.
    *
    * Output: (idCol, component, bucket, split) per document.
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
                       nBuckets: Int, trainHi: Int, valHi: Int,
                       ccLabels: Option[DataFrame] = None): DataFrame = {
    require(0 < trainHi && trainHi < valHi && valHi <= nBuckets,
      s"need 0 < trainHi < valHi <= nBuckets, got ($trainHi, $valHi, $nBuckets)")
    // a caller holding precomputed component labels (id -> component)
    // passes them instead of re-running the contraction loop
    val cc = ccLabels.getOrElse(
      Dedup.connectedComponents(pairs, "a", "b").withColumnRenamed("id", idCol))
    docs.select(col(idCol))
      .join(cc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("component"))
      .withColumn("bucket", pmod(
        conv(substring(md5(col("component").cast("string")), 1, 15), 16, 10)
          .cast("long"), lit(nBuckets.toLong)))
      .withColumn("split",
        when(col("bucket") < trainHi, lit("train"))
          .when(col("bucket") < valHi, lit("val"))
          .otherwise(lit("test")))
      .orderBy(col(idCol))
  }

  /** CCNet-style language-model familiarity filter (Wenzek et al. 2020:
    * CCNet ranks Common Crawl docs by KenLM perplexity under a model
    * trained on Wikipedia; low-familiarity docs are gibberish, boiler-
    * plate, or wrong-language). Here the "trusted" model is an add-one-
    * smoothed BIGRAM LM trained on the `train` slice; each document's
    * score is the mean conditional bigram probability under that model.
    *
    * Integer-exact surrogate for the log-space mean (so an external SQL
    * engine reproduces every score bit-for-bit): each bigram (w1,w2)
    * contributes `floor(scale·(c2(w1,w2)+1) / (c1(w1)+V))` — the add-one
    * conditional scaled to parts-per-`scale` and floored; a document's
    * `fam_sum` is the tf-weighted sum, `fam_scaled = fam_sum div
    * n_bigrams` the mean. Arithmetic-mean-of-probabilities replaces
    * geometric (perplexity is monotone in the log-mean; both order
    * "familiar" above "alien", and only the integer form is exactly
    * mirrorable). The adaptive `low_familiarity` flag compares the doc
    * mean against the corpus mean by cross-multiplication in
    * DECIMAL(38,0) — no division, no overflow at corpus scale.
    *
    * Scale shape: the bigram-count and unigram-count tables are hash
    * aggregates of the train slice joined back by equi key (bigram /
    * leading word) — the same distribution as any df join; the vocab
    * size and corpus totals are one-row broadcasts. Docs with fewer
    * than 2 tokens have no bigram evidence and are dropped.
    */
  /** The trained LM side of [[lmFamiliarity]] — (bigram counts `c2`,
    * unigram counts `c1`, one-row vocab size `v`) over the trusted
    * slice. Exposed so the streaming flavor
    * ([[graft.streaming.StreamingOps.familiarityRollup]]) can join the
    * SAME static model tables per micro-batch.
    */
  def lmModel(train: DataFrame, textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val c2 = train
      .select(explode(TextOps.shingles(TextOps.tokens(col(textCol)), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c2"))
    val c1 = train
      .select(explode(TextOps.tokens(col(textCol))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    (c2, c1, c1.agg(count(lit(1)).as("v")))
  }

  def lmFamiliarity(docs: DataFrame, train: DataFrame, idCol: String,
                    textCol: String, scale: Long): DataFrame = {
    val (c2, c1, vocab) = lmModel(train, textCol)
    lmFamiliarityFrom(docs, c2, c1, vocab, idCol, textCol, scale)
  }

  /** [[lmFamiliarity]] against prebuilt model tables — callers holding
    * the session-memoized (c2, c1, vocab) triple (the next-token and
    * DoReMi queries already do) skip re-aggregating the training
    * corpus's bigram/unigram tables per run (guide §5).
    */
  def lmFamiliarityFrom(docs: DataFrame, c2: DataFrame, c1: DataFrame,
                        vocab: DataFrame, idCol: String, textCol: String,
                        scale: Long): DataFrame = {
    def bigrams(df: DataFrame): DataFrame = df.select(col(idCol),
      explode(TextOps.shingles(TextOps.tokens(col(textCol)), 2)).as("g"))
    val docBg = bigrams(docs)
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("tf"))
      .withColumn("w1", element_at(split(col("g"), " "), 1))
    val scored = docBg
      .join(c2, Seq("g"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") *
          expr(s"($scale * (coalesce(c2, 0L) + 1L)) div (coalesce(c1, 0L) + v)"))
          .as("fam_sum"))
      // eager cache: scored feeds the corpus-total aggregate AND the
      // final projection of one action — uncached, the bigram explode +
      // model joins ran twice
      .cache()
    scored.count()
    val tot = scored.agg(sum(col("n_bigrams")).as("tot_n"),
      sum(col("fam_sum")).as("tot_fam")) // one row
    scored.crossJoin(broadcast(tot))
      .select(col(idCol), col("n_bigrams"), col("fam_sum"),
        expr("fam_sum div n_bigrams").as("fam_scaled"),
        (col("fam_sum").cast("decimal(38,0)") * col("tot_n").cast("decimal(38,0)")
          < col("tot_fam").cast("decimal(38,0)")
            * col("n_bigrams").cast("decimal(38,0)")).as("low_familiarity"))
  }

  /** L137 — LM NEXT-TOKEN TOP-K: the generation-side introspection of
    * the [[lmModel]] bigram tables — for each of the `nContexts` most
    * frequent context words, the k most likely continuations with the
    * SAME Laplace-smoothed scaled-integer probability the familiarity
    * gate uses (`scale·(c2+1) div (c1+v)`). What a data-quality
    * engineer reads to sanity-check the trained filter model ("does
    * 'the' continue like English?") and the completion table a
    * bigram-LM decontamination baseline samples from.
    *
    * Scale shape: contexts are a TakeOrdered top-N of the unigram
    * table (broadcast); the bigram table streams through one equi join
    * + per-context top-k window bounded by the context list. All
    * integer.
    */
  def lmNextTokenTopK(c2: DataFrame, c1: DataFrame, vocab: DataFrame,
                      nContexts: Int, k: Int, scale: Long): DataFrame = {
    val ctx = c1.orderBy(col("c1").desc, col("w1")).limit(nContexts)
      .select(col("w1").as("ctx"), col("c1").as("ctx_n"))
    val nxt = c2
      .withColumn("w1", element_at(split(col("g"), " "), 1))
      .withColumn("w2", element_at(split(col("g"), " "), 2))
      .join(broadcast(ctx), col("w1") === col("ctx"))
      .crossJoin(broadcast(vocab))
      .withColumn("p_scaled", expr(s"($scale * (c2 + 1L)) div (ctx_n + v)"))
    val win = Window.partitionBy(col("ctx"))
      .orderBy(col("c2").desc, col("w2"))
    nxt.withColumn("rnk", row_number().over(win).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("ctx"), col("rnk"), col("w2").as("next_tok"),
        col("c2").as("cnt"), col("p_scaled"))
  }

  /** L138 — DoReMi-STYLE MIXTURE REWEIGHTING (integer-exact single
    * round of the multiplicative-weights loop): domains whose bigram-LM
    * familiarity sits BELOW the corpus mean — the "hard" domains the
    * reference-model excess-loss signal identifies — get their mixture
    * weight doubled, then the training budget re-allocates across
    * domains by Hamilton largest remainder. One round is the method's
    * core step; production iterates it with a fresh proxy model per
    * round, re-running this same plan.
    *
    * Exactness: the hard flag is the familiarity cross-multiplication
    * in DECIMAL(38,0) (no division), the multiplier is an integer, and
    * the allocation is [[allocateBudget]]'s exact largest-remainder
    * split. Scale shape: group-level aggregates of the same equi-join
    * chain [[lmFamiliarity]] uses, a one-row corpus total broadcast,
    * and a per-domain table small enough for the window-based Hamilton
    * pass (domains are few by construction).
    */
  def doremiReweight(docs: DataFrame, groupCol: String, textCol: String,
                     c2: DataFrame, c1: DataFrame, vocab: DataFrame,
                     scale: Long, budget: Long): DataFrame = {
    val bg = docs.select(col(groupCol),
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), 2)).as("g"))
      .groupBy(col(groupCol), col("g")).agg(count(lit(1)).as("tf"))
      .withColumn("w1", element_at(split(col("g"), " "), 1))
    val scored = bg
      .join(c2, Seq("g"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col(groupCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") *
          expr(s"($scale * (coalesce(c2, 0L) + 1L)) div (coalesce(c1, 0L) + v)"))
          .as("fam_sum"))
      // eager cache: scored (one row per group) feeds the corpus total,
      // the flag projection and — through `flagged` — the Hamilton
      // allocation and the final join; uncached, the bigram explode +
      // model joins ran once per branch
      .cache()
    scored.count()
    val nd = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
    val tot = scored.agg(sum(col("n_bigrams")).as("tot_n"),
      sum(col("fam_sum")).as("tot_fam"))
    val flagged = scored.join(nd, Seq(groupCol)).crossJoin(broadcast(tot))
      .withColumn("fam_scaled", expr("fam_sum div n_bigrams"))
      .withColumn("hard",
        col("fam_sum").cast("decimal(38,0)") * col("tot_n").cast("decimal(38,0)")
          < col("tot_fam").cast("decimal(38,0)") * col("n_bigrams").cast("decimal(38,0)"))
      .withColumn("w", col("n_docs") * when(col("hard"), 2L).otherwise(1L))
    val alloc = allocateBudget(
        flagged.select(col(groupCol), col("w")), groupCol, "w", budget)
      .select(col(groupCol), col("alloc"))
    flagged.join(alloc, Seq(groupCol))
      .select(col(groupCol), col("n_docs"), col("n_bigrams"), col("fam_scaled"),
        col("hard"), col("w"), col("alloc"))
  }

  /** URL/DOMAIN BLOCKLIST gate (the RefinedWeb/UT1 filtering stage:
    * Penedo et al. 2023 §3.1 drop documents whose source URL hits a
    * curated domain blocklist or whose path carries flagged words).
    * Extracts the document's first URL, normalizes the domain
    * (lowercase, `www.` stripped), probes the blocklist by equi join,
    * and scans the path for flagged words; a doc with no URL passes.
    *
    * The blocklist side BROADCASTS — UT1 is a few million domains, well
    * inside broadcast range at one string per row (were it larger, a
    * bloom-filter pre-probe like `j_bloom_prune`'s would gate the join).
    * All extraction is `regexp_extract` on RE2-safe patterns that run
    * verbatim in external engines; empty matches normalize to NULL so
    * both engines agree on "no URL".
    *
    * Output: (idCol, domain, blocked_domain, blocked_path, keep).
    */
  def urlBlocklistGate(df: DataFrame, idCol: String, textCol: String,
                       blockedDomains: Seq[String],
                       badPathWords: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bl = blockedDomains.toDF("domain").withColumn("__blocked", lit(true))
    val withUrl = df
      .withColumn("url",
        nullif(regexp_extract(col(textCol), "https?://[^\\s]+", 0), lit("")))
      .withColumn("domain", regexp_replace(
        lower(regexp_extract(col("url"), "https?://([^/\\s]+)", 1)),
        "^www\\.", ""))
      .withColumn("path",
        nullif(regexp_extract(col("url"), "https?://[^/\\s]+(/[^\\s]*)", 1),
          lit("")))
    withUrl
      .join(broadcast(bl), Seq("domain"), "left")
      .select(col(idCol),
        when(col("url").isNotNull, col("domain")).as("domain"),
        coalesce(col("__blocked"), lit(false)).as("blocked_domain"),
        coalesce(badPathWords.map(w => col("path").contains(w))
          .reduce(_ || _), lit(false)).as("blocked_path"))
      .withColumn("keep", !col("blocked_domain") && !col("blocked_path"))
  }

  /** UniMax budget-capped allocation (Chung et al. 2023: cap each
    * language's share of the training budget instead of temperature
    * sampling — low-resource languages keep all their tokens, high-
    * resource ones are capped at a common water level). Exact integer
    * water-filling: sort groups by count ascending; the largest valid
    * split k funds groups 1..k fully and caps the rest at
    * `t = (budget − prefix_k) div (L − k)` — valid when t ≥ n_k (the
    * biggest fully-funded group fits under the level) and t < n_{k+1}
    * (the next group doesn't); k = L is valid when the whole corpus
    * fits. Every quantity is an integer, so the chosen level and
    * allocations are bit-stable cross-engine; the floor's remainder
    * (≤ L−k−1 tokens) is reported as `leftover` rather than smeared
    * (contrast [[allocateBudget]]'s largest-remainder split, which
    * spends the remainder — UniMax semantics cap, they don't top up).
    *
    * The input is one row per group (the heavy per-doc count aggregation
    * is the caller's distributed groupBy); the single-partition windows
    * here walk a handful of rows. Output: (grpCol, n, alloc, level,
    * leftover) sorted by group.
    */
  def unimaxAllocation(counts: DataFrame, grpCol: String, nCol: String,
                       budget: Long): DataFrame = {
    val byN = Window.orderBy(col("n"), col(grpCol))
    val idx = counts
      .select(col(grpCol), col(nCol).cast("long").as("n"))
      .withColumn("i", row_number().over(byN).cast("long"))
      .withColumn("prefix", sum(col("n")).over(byN)) // inclusive cumsum
      .withColumn("next_n", lead(col("n"), 1).over(byN))
    val l = idx.agg(count(lit(1)).as("l")) // one row
    // candidate split k = each row's i, plus k = 0; keep the largest valid
    val cands = idx.crossJoin(broadcast(l))
      .select(col("i").as("k"), col("n").as("nk"), col("prefix"),
        col("next_n"), col("l"))
      .unionByName(l.select(lit(0L).as("k"), lit(null).cast("long").as("nk"),
        lit(0L).as("prefix"), lit(null).cast("long").as("next_n"), col("l")))
    val chosen = cands
      .withColumn("t", when(col("k") < col("l"),
        expr(s"($budget - prefix) div (l - k)")))
      .filter(
        (col("k") === col("l") && col("prefix") <= budget) ||
        (col("k") < col("l") && (col("k") === 0L || col("t") >= col("nk"))
          && (col("t") < col("next_n") || col("next_n").isNull)))
      .orderBy(col("k").desc).limit(1)
      .select(col("k"), col("t"), col("prefix").as("pk"))
    idx.crossJoin(broadcast(chosen)).crossJoin(broadcast(l))
      .select(col(grpCol), col("n"),
        when(col("i") <= col("k"), col("n")).otherwise(col("t")).as("alloc"),
        col("t").as("level"),
        (lit(budget) - when(col("k") === col("l"), col("pk"))
          .otherwise(col("pk") + (col("l") - col("k")) * col("t"))).as("leftover"))
  }

  /** C4-style BOILERPLATE stripping (Raffel et al. 2020 §2.2 dropped
    * lines occurring ≥3 times in the corpus): a line whose document
    * frequency reaches `minDf` is boilerplate — navigation chrome,
    * cookie banners, license headers — and is removed from EVERY
    * document it appears in (unlike [[dedupLines]], which keeps the
    * first occurrence: dedup preserves one copy of content, boilerplate
    * removal wants zero copies of chrome).
    *
    * Output per doc: line/boilerplate counts, kept-token count, and
    * `clean_md5` — the md5 of the surviving lines rejoined in order —
    * so the cleaned text itself is checked, not just its size. The df
    * table is one hash aggregate on the line joined back by equi key
    * (boilerplate lines are by definition hot, but each carries ONE df
    * row — the join skew is bounded by the line's own fan-out, the
    * same shape as every df join here). Docs whose every line is
    * boilerplate hash the empty string.
    */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       lineLen: Int, minDf: Long): DataFrame = {
    val lines = lineTable(df, idCol, textCol, lineLen)
    val dfc = lines.groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("line_df"))
    lines.join(dfc, Seq("line"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("line_df") >= minDf, 1L).otherwise(0L)).as("n_boiler"),
        sum(when(col("line_df") < minDf, col("n_toks")).otherwise(0L))
          .as("n_toks_kept"),
        md5(array_join(transform(array_sort(collect_list(
            when(col("line_df") < minDf,
              struct(col("line_no"), col("line"))))),
          x => x.getField("line")), " ")).as("clean_md5"))
  }

  /** INTERLEAVED EPOCH ORDER: the reproducible source-interleaved
    * training order — within each source docs shuffle by a seeded hash
    * (new permutation per epoch, identical across re-runs/resumes), and
    * sources interleave round-robin position by position, so a training
    * run consumes sources evenly from the first batch instead of in
    * source-sized runs (the `(pos, source)` sort order of per-source
    * hash ranks).
    *
    * The part worth owning at 100 TB: the GLOBAL rank of every doc is a
    * closed-form function of (its within-source position, the per-source
    * size table) — `rank = Σ_s min(pos−1, n_s) + #{s' < src : n_{s'} ≥
    * pos} + 1` (docs of any source with a strictly smaller position come
    * first, same-position docs order by source name) — so the training
    * order needs NO global sort: one per-source window for `pos`, then a
    * broadcast of the |sources|-row size table and a map-side fan-out/
    * re-sum. A writer can emit any shard of the order independently.
    *
    * Output: (id, src, pos, epoch_rank) — `epoch_rank` is a permutation
    * of 1..N.
    */
  def interleavedEpochOrder(df: DataFrame, idCol: String, srcCol: String,
                            seed: Long): DataFrame = {
    val h = conv(substring(md5(concat(lit(seed.toString), lit("|"),
      col(idCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val pos = df.select(col(idCol), col(srcCol), h.as("__h"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col(srcCol)).orderBy(col("__h"), col(idCol)))
        .cast("long"))
    val sizes = df.groupBy(col(srcCol).as("__s"))
      .agg(count(lit(1)).as("__n"))
    pos.crossJoin(broadcast(sizes))
      .groupBy(col(idCol), col(srcCol), col("pos"))
      .agg((sum(least(col("pos") - 1L, col("__n")))
        + sum(when(col("__s") < col(srcCol)
            && col("__n") >= col("pos"), 1L).otherwise(0L))
        + 1L).as("epoch_rank"))
  }

  /** OOV RATE against a frequency-truncated vocabulary: the tokenizer-
    * coverage diagnostic run before training — vocab = every token whose
    * document frequency reaches `dfNum/dfDen` of the corpus (the
    * truncation rule that needs no global top-k sort: a df-fraction gate
    * is a pure function of the token's own count plus one scalar, where
    * rank-k needs a total order over the vocabulary; the gate
    * `df·dfDen ≥ dfNum·nDocs` stays in integers), then each doc's
    * out-of-vocabulary TOKEN-OCCURRENCE fraction. High OOV flags
    * encoding problems, language mismatch, or boilerplate the tokenizer
    * will shred into bytes.
    *
    * Shape: one hash agg builds the vocab (distinct (doc, token) →
    * count, gated against the one-row corpus count), the vocab
    * BROADCASTS into the token scan as a left join (vocabularies are
    * ~10⁵-10⁶ rows — always the small side), and the per-doc rollup is
    * one hash agg on the id. The corpus-side token explode never
    * shuffles for the probe.
    *
    * Output: (id, n_tokens, n_oov, oov_rate) — rate the one division.
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              dfNum: Int, dfDen: Int): DataFrame = {
    require(dfNum >= 0 && dfDen >= 1, "need a dfNum/dfDen fraction")
    val toks = df.select(col(idCol),
      explode(graft.ops.TextOps.tokens(col(textCol))).as("tok"))
    val nDocs = df.select(countDistinct(col(idCol)).as("__nd"))
    val vocab = toks.select(col(idCol), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("__df") * lit(dfDen.toLong) >= lit(dfNum.toLong) * col("__nd"))
      .select(col("tok"), lit(1L).as("__in"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** BORDA RANK FUSION of quality signals: independent heuristics
    * (length, type-token ratio, LM familiarity, classifier scores …)
    * disagree on scale and distribution, so averaging raw scores lets
    * one signal's variance dominate; ranking each signal WITHIN the
    * calibration group and summing the ranks (Borda) is the standard
    * scale-free fusion (the FineWeb-Edu-style multi-classifier blend).
    * Every rank is `row_number` over (signal DESC, id) — deterministic
    * under ties — and the fused order re-ranks the rank sum: integers
    * end to end, no normalization constants to disagree on.
    *
    * Scale note: per-group windows carry the calibrated-gate skew
    * caveat — at 100 TB the production swap is per-signal quantile
    * sketches (L45) broadcast as map-side bucket ranks; this exact-rank
    * version is the reference semantics.
    *
    * Output: input + (rank_<signal>…, borda, fused_rank). */
  def rankFusion(df: DataFrame, grpCol: String, idCol: String,
                 signals: Seq[String]): DataFrame =
    rankColumns(df, grpCol, idCol, signals)
      .withColumn("borda", signals.map(s => col(s"rank_$s")).reduce(_ + _))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(col(grpCol)).orderBy(col("borda"), col(idCol)))
        .cast("long"))

  /** The shared per-signal rank stage of [[rankFusion]] and
    * [[rrfFusion]]: `rank_<signal>` = row_number over
    * (group, signal DESC, id) — one definition, so "ranks and
    * tie-breaks exactly alike" is structural, not a comment.
    */
  private def rankColumns(df: DataFrame, grpCol: String, idCol: String,
                          signals: Seq[String]): DataFrame = {
    require(signals.nonEmpty, "need at least one signal column")
    signals.foldLeft(df) { (acc, sig) =>
      acc.withColumn(s"rank_$sig", row_number().over(
        Window.partitionBy(col(grpCol)).orderBy(col(sig).desc, col(idCol)))
        .cast("long"))
    }
  }

  /** RECIPROCAL-RANK FUSION (Cormack, Clarke & Buettcher, SIGIR 2009):
    * the other standard scale-free blend — each signal contributes
    * 1/(k + rank), so agreement near the top dominates and the tail is
    * nearly flat (Borda weights rank gaps linearly everywhere). Scored
    * in exact scaled integers (⌊1e9/(k+rank)⌋ summed) so the fusion is
    * bit-reproducible across engines — the float-free discipline every
    * checked pipeline here follows; with k = 60 and realistic group
    * sizes the floor loses nothing that changes an ordering decision
    * beyond sub-ppb noise, and what it does lose it loses identically
    * everywhere. Ranks and tie-breaks exactly as [[rankFusion]].
    *
    * Output: input + (rank_<signal>…, rrf_e9, fused_rank). */
  def rrfFusion(df: DataFrame, grpCol: String, idCol: String,
                signals: Seq[String], k: Long = 60L): DataFrame =
    rankColumns(df, grpCol, idCol, signals)
      .withColumn("rrf_e9", signals.map(s =>
        expr(s"1000000000L div (${k}L + rank_$s)")).reduce(_ + _))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(col(grpCol)).orderBy(col("rrf_e9").desc, col(idCol)))
        .cast("long"))

  /** CHAO1 CAPTURE-RECAPTURE richness estimate (Chao 1984/1987, the
    * bias-corrected form): how many DISTINCT documents the full
    * population likely holds, from the duplicate-count histogram of the
    * crawled sample — `chao1 = d + f1·(f1−1) / (2·(f2+1))` where d =
    * distinct fingerprints seen, f1/f2 = fingerprints seen exactly
    * once/twice. The crawl-planning complement of dedup: singletons
    * abundant relative to doubletons ⇒ the corpus has barely been
    * touched and more crawling pays; f1 ≈ 0 ⇒ saturation. The corrected
    * form is defined at f2 = 0 (no division by zero) — no branch needed.
    *
    * Everything before the estimate is integer-exact (two hash aggs:
    * fingerprint → count, then the count histogram per group); the
    * estimate itself is one division of two exact int64 products.
    *
    * Output per group: (grp, n_obs, d_distinct, f1, f2, chao1).
    */
  /** PER-SOURCE QUALITY DRIFT: is a source degrading as the crawl
    * advances? Per (group, ingest bucket) take the LOWER MEDIAN of the
    * quality metric (rank-selected — robust, integer), then fit the
    * per-group OLS trend over (bucket, median) with the division
    * cleared: `slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)` reported as
    * exact integer numerator/denominator in decimal(38,0) plus the one
    * final division (NULL when a group has < 2 distinct buckets). A
    * negative slope on a source's median quality is the signal FineWeb-
    * style pipelines act on per dump.
    *
    * Shape: the median pass is one shuffle on (group, bucket) + a
    * rank window; the regression input is \|groups\|·\|buckets\| rows —
    * trivially small — aggregated per group. Output: (grp, n_buckets,
    * slope_num, slope_den, slope).
    */
  def qualityDrift(df: DataFrame, grpCol: String, bucketCol: String,
                   valCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val med = df.select(col(grpCol), col(bucketCol), col(valCol))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(grpCol), col(bucketCol))
          .orderBy(col(valCol))).cast("long"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col(grpCol), col(bucketCol))))
      .filter(col("__rn") === expr("(__n + 1) div 2"))
      .select(col(grpCol), col(bucketCol).as("__x"), col(valCol).as("__y"))
    med.groupBy(col(grpCol))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("__x").cast(d38)).as("__sx"),
        sum(col("__y").cast(d38)).as("__sy"),
        sum((col("__x") * col("__y")).cast(d38)).as("__sxy"),
        sum((col("__x") * col("__x")).cast(d38)).as("__sxx"))
      .withColumn("slope_num",
        col("n_buckets").cast(d38) * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("slope_den",
        col("n_buckets").cast(d38) * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("slope",
        when(col("slope_den") === 0, lit(null).cast("double"))
          .otherwise(col("slope_num").cast("double")
            / col("slope_den").cast("double")))
      // arithmetic stays decimal(38,0); the REPORTED num/den cast to
      // BIGINT (n²·maxY range — ANSI mode fails loudly if that is ever
      // exceeded rather than truncating)
      .select(col(grpCol), col("n_buckets"),
        col("slope_num").cast("long").as("slope_num"),
        col("slope_den").cast("long").as("slope_den"), col("slope"))
  }

  def chao1Estimate(df: DataFrame, grpCol: String, fpCol: Column): DataFrame =
    df.select(col(grpCol), fpCol.as("__fp"))
      .groupBy(col(grpCol), col("__fp")).agg(count(lit(1)).as("__c"))
      .groupBy(col(grpCol))
      .agg(sum(col("__c")).as("n_obs"),
        count(lit(1)).as("d_distinct"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("__c") === 2L, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1",
        col("d_distinct").cast("double")
          + (col("f1") * (col("f1") - 1L)).cast("double")
            / (lit(2L) * (col("f2") + 1L)).cast("double"))

  /** URL canonicalization — the normalization pass every web-scale
    * dedup runs before URL-level grouping (the same page is crawled as
    * `HTTP://WWW.Site.com:80/a?utm_source=x&b=2&a=1#frag` and
    * `http://site.com/a?a=1&b=2`): scheme and host lowercased, a
    * leading `www.` stripped, default ports (`:80` http, `:443` https)
    * dropped, tracking parameters (`utm_*`) removed, the remaining
    * query keys SORTED, the fragment discarded, and an empty path
    * normalized to `/`. Path case is preserved (paths are
    * case-sensitive; hosts are not). Pure column expressions —
    * codegen'd regexes plus array HOFs, no UDF, trivially partition-
    * parallel at any scale.
    */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val deWww = regexp_replace(hostPort, "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(deWww, ":80$", ""))
      .when(scheme === "https", regexp_replace(deWww, ":443$", ""))
      .otherwise(deWww)
    val path0 = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query0 = regexp_extract(url, "\\?([^#]*)", 1)
    val kept = array_sort(filter(split(query0, "&"),
      p => !p.startsWith("utm_") && p =!= ""))
    val query = array_join(kept, "&")
    concat(scheme, lit("://"), host, path,
      when(query === "", lit("")).otherwise(concat(lit("?"), query)))
  }

  /** L128 — PADDING-MINIMAL LENGTH BUCKETING (dynamic-batching bucket
    * design, the T5/fairseq `--length-bucket` knob): pick the 3-bucket
    * boundary lengths (b1 < b2 < max) that minimize total padding when
    * every document pads to its bucket's cap. One corpus pass reduces
    * to per-distinct-length (count, token-sum) — lengths clamp to
    * `capLen`, so the table is ≤ capLen rows REGARDLESS of corpus size
    * and everything downstream is bounded by capLen² constants, never
    * by |docs|: prefix sums over the tiny sorted length table, then an
    * exhaustive (b1, b2) enumeration join (the exact argmin a DP would
    * also find — enumeration keeps it relational and oracle-
    * replayable), ties to the smaller (b1, b2). Costs are exact longs:
    * bucket cost = cap·n_docs_in_bucket − Σ len.
    *
    * Output: the 3 winning buckets as (bucket, cap_len, n_docs,
    * pad_tokens). Fewer than 3 distinct lengths → empty (no boundary
    * choice exists). `lens`: one row per doc with integer column
    * `lenCol`.
    */
  def lengthBuckets(lens: DataFrame, lenCol: String, capLen: Int = 512): DataFrame = {
    val dl = lens
      .select(least(col(lenCol).cast("long"), lit(capLen.toLong)).as("len"))
      .groupBy(col("len"))
      .agg(count(lit(1)).as("n"), sum(col("len")).as("s"))
    val w = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // global window over ≤ capLen rows — bounded by the cap constant
    val pref = dl
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_s", sum(col("s")).over(w))
      .select(col("len"), col("cum_n"), col("cum_s"))
    val tot = dl.agg(max(col("len")).as("m"),
      sum(col("n")).as("nt"), sum(col("s")).as("st"))
    val b1 = pref.select(col("len").as("l1"), col("cum_n").as("n1"), col("cum_s").as("s1"))
    val b2 = pref.select(col("len").as("l2"), col("cum_n").as("n2"), col("cum_s").as("s2"))
    val best = b1.join(b2, col("l1") < col("l2"))
      .crossJoin(broadcast(tot))
      .filter(col("l2") < col("m"))
      .withColumn("cost",
        col("l1") * col("n1") - col("s1")
          + col("l2") * (col("n2") - col("n1")) - (col("s2") - col("s1"))
          + col("m") * (col("nt") - col("n2")) - (col("st") - col("s2")))
      .orderBy(col("cost"), col("l1"), col("l2"))
      .limit(1)
    best.select(explode(array(
        struct(lit(0L).as("bucket"), col("l1").as("cap_len"),
          col("n1").as("n_docs"),
          (col("l1") * col("n1") - col("s1")).as("pad_tokens")),
        struct(lit(1L).as("bucket"), col("l2").as("cap_len"),
          (col("n2") - col("n1")).as("n_docs"),
          (col("l2") * (col("n2") - col("n1")) - (col("s2") - col("s1"))).as("pad_tokens")),
        struct(lit(2L).as("bucket"), col("m").as("cap_len"),
          (col("nt") - col("n2")).as("n_docs"),
          (col("m") * (col("nt") - col("n2")) - (col("st") - col("s2"))).as("pad_tokens"))
      )).as("b"))
      .select(col("b.bucket"), col("b.cap_len"), col("b.n_docs"), col("b.pad_tokens"))
  }

  /** L129 — ISOTONIC CALIBRATION (pool-adjacent-violators) of a binned
    * score against a binary outcome — the classifier-calibration step a
    * quality-scored corpus runs before thresholding ("score 0.8" should
    * MEAN 80%): the monotone fit turns raw per-bin rates into the
    * best-fit non-decreasing curve, pooling adjacent violators.
    *
    * Computed via PAV's closed-form minimax identity instead of the
    * sequential pooling loop: `cal_i = max_{j≤i} min_{k≥i}
    * rate(j..k)` — a pure relational formulation (prefix sums over the
    * sorted bin table, an interval-average table, two bounded
    * group-bys), so an external engine replays it exactly. Every
    * interval rate is one double division of exact long sums.
    *
    * Scale shape: `binned` is the PER-BIN aggregate (bin, n, pos) — at
    * most nBins rows however large the corpus (the one corpus pass is
    * the caller's map-side-combined groupBy), so the O(nBins³) interval
    * enumeration is bounded by a constant, never by |docs|.
    */
  /** L134 — LUHN mod-10 validation of a digit string (the payment-card
    * checksum): double every second digit from the RIGHT, subtract 9
    * when the double exceeds 9, valid iff the sum is ≡ 0 (mod 10).
    * The precision gate card-number scrubbing needs on top of the
    * 16-digit regex — order ids and tracking numbers match the regex
    * but fail the checksum, and redacting them is real data loss. Pure
    * HOFs over the digit positions (codegen'd, no UDF), mirrored
    * digit-for-digit by an external SQL engine.
    */
  def luhnValid(number: Column): Column =
    pmod(luhnSum(number, lit(0)), lit(10)) === 0

  /** The check digit that makes `prefix` + digit Luhn-valid (the
    * fixture-minting dual of [[luhnValid]] — lets both engines mint
    * the same valid/invalid candidates deterministically).
    */
  def luhnCheckDigit(prefix: Column): Column =
    pmod(lit(10) - pmod(luhnSum(prefix, lit(1)), lit(10)), lit(10))

  /** Luhn sum of `digits` when followed by `tailLen` more digits in the
    * full number: digit i (1-based from the left, n = length) sits at
    * position n + tailLen − i + 1 from the right and doubles when that
    * position is even.
    */
  private def luhnSum(digits: Column, tailLen: Column): Column = {
    val n = length(digits)
    aggregate(
      sequence(lit(1), n),
      lit(0),
      (acc, i) => {
        val d = element_at(split(digits, ""), i).cast("int")
        val fromRight = n + tailLen - i + lit(1)
        val dd = when(pmod(fromRight, lit(2)) === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        acc + dd
      })
  }

  /** L131 — FEISTEL EPOCH SHUFFLE: an exact bijective pseudo-random
    * permutation of the id domain [0, 2³²) per training epoch — the
    * deterministic reshuffle a multi-epoch training run wants: every
    * doc appears EXACTLY once per epoch (bijective by construction,
    * not by sort-uniqueness), the order differs per epoch, any
    * position is seekable in O(1) (apply the inverse — no sort, no
    * state, no shuffle), and a restarted job replays the identical
    * order. A 4-round balanced Feistel network over 16-bit halves;
    * the round function is the first 16 md5 bits of
    * `r|round|epoch` — pure column expressions (codegen'd, no UDF),
    * mirrored verbatim by an external SQL engine.
    *
    * Scale shape: embarrassingly parallel — a per-row expression
    * chain, no shuffle at any corpus size; reading in shuffled order
    * is a sort by the permuted key ONLY if a materialized order is
    * wanted (the usual shuffle-sort); a streaming reader instead walks
    * positions and applies [[feistelInvert]] to seek.
    */
  def feistelPermute(id: Column, epoch: Int, rounds: Int = 4): Column = {
    // ids are reduced mod 2³² (mask BOTH halves): the permutation is
    // bijective on [0, 2³²) and total — an out-of-domain id maps like
    // id mod 2³² instead of silently colliding via surviving high bits.
    var l = shiftright(id.cast("long"), 16).bitwiseAND(lit(65535L))
    var r = id.cast("long").bitwiseAND(lit(65535L))
    var round = 0
    while (round < rounds) {
      val f = feistelF(r, round, epoch)
      val nl = r
      val nr = l.bitwiseXOR(f)
      l = nl; r = nr
      round += 1
    }
    (l * lit(65536L) + r).cast("long")
  }

  /** Inverse of [[feistelPermute]] — runs the rounds backwards; proves
    * bijectivity structurally (`invert(permute(id)) == id` for every
    * id, which the registered oracle checks row-by-row).
    */
  def feistelInvert(perm: Column, epoch: Int, rounds: Int = 4): Column = {
    // same mod-2³² reduction as [[feistelPermute]] — total on any long
    var l = shiftright(perm.cast("long"), 16).bitwiseAND(lit(65535L))
    var r = perm.cast("long").bitwiseAND(lit(65535L))
    var round = rounds - 1
    while (round >= 0) {
      val f = feistelF(l, round, epoch)
      val nr = l
      val nl = r.bitwiseXOR(f)
      l = nl; r = nr
      round -= 1
    }
    (l * lit(65536L) + r).cast("long")
  }

  /** The 16-bit round function: first 4 hex digits of
    * md5("r|round|epoch"). */
  private def feistelF(r: Column, round: Int, epoch: Int): Column =
    conv(substring(md5(concat_ws("|", r.cast("long"), lit(round), lit(epoch))), 1, 4),
      16, 10).cast("long")

  def isotonicCalibrate(binned: DataFrame): DataFrame = {
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // global window over ≤ nBins rows — bounded by the bin-count constant
    val pref = binned
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_p", sum(col("pos")).over(w))
    val js = pref.select(col("bin").as("j"),
      (col("cum_n") - col("n")).as("prev_n"), (col("cum_p") - col("pos")).as("prev_p"))
    val ks = pref.select(col("bin").as("k"), col("cum_n"), col("cum_p"))
    val ivl = js.join(ks, col("j") <= col("k"))
      .withColumn("rate", (col("cum_p") - col("prev_p")).cast("double")
        / (col("cum_n") - col("prev_n")).cast("double"))
      .select(col("j"), col("k"), col("rate"))
    val is = binned.select(col("bin").as("i"))
    val inner = ivl.join(is, col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("j")).agg(min(col("rate")).as("mn"))
    val cal = inner.groupBy(col("i")).agg(max(col("mn")).as("calibrated"))
    binned.join(cal, col("bin") === col("i"))
      .select(col("bin"), col("n"), col("pos"),
        (col("pos").cast("double") / col("n").cast("double")).as("raw"),
        col("calibrated"))
  }

  /** L150 — IBAN mod-97 VALIDATION (ISO 7064 MOD 97-10, the
    * international bank-account checksum): rearrange (BBAN + country
    * letters as digits A=10..Z=35 + the two check digits), then the
    * huge decimal must be ≡ 1 (mod 97). Computed without big integers
    * as the standard left-to-right fold `acc ← (acc·10 + digit) mod 97`
    * (letters fold their two digits) — a pure sequential `aggregate`
    * HOF over the rearranged character array, codegen'd, and mirrored
    * char-for-char by an external engine's list_reduce (both fold
    * left-to-right; modular arithmetic is association-FREE here
    * because the fold order is part of the algorithm, not of the
    * engine). The same precision role as [[luhnValid]]: an account-
    * number regex hit that fails mod-97 is an order id, not PII.
    *
    * Input: the full IBAN string (country letters + 2 check digits +
    * BBAN, no spaces). Pure per-row expression — zero shuffle.
    */
  def ibanValid(iban: Column): Column = {
    // Structural gate FIRST: 2 country letters + 2 check digits +
    // 11..30 alphanumeric BBAN chars (total length 15..34 per ISO
    // 13616). Without it the fold's `otherwise` branch treats ANY
    // non-digit (lowercase, punctuation) as an A-Z letter via
    // code-55, so a malformed candidate could pass mod-97 by chance
    // (~1/97) instead of being rejected outright.
    val wellFormed = iban.rlike("^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$")
    // rearranged = BBAN + country(2 letters) + check(2 digits)
    val rearranged = concat(substring(iban, 5, 1000000),
      substring(iban, 1, 4))
    val chars = split(rearranged, "")
    val folded = aggregate(
      filter(chars, c => c =!= ""),
      lit(0L),
      (acc, c) => {
        val code = ascii(c).cast("long")
        // digit: acc*10 + d; letter A..Z: value 10..35 -> acc*100 + v
        when(code.between(48L, 57L),
          pmod(acc * 10L + (code - 48L), lit(97L)))
          .otherwise(pmod(acc * 100L + (code - 55L), lit(97L)))
      })
    wellFormed && folded === 1L
  }

  /** The check digits that make `cc + "??" + bban` a valid IBAN — the
    * fixture-minting dual of [[ibanValid]] (both engines mint the same
    * valid/invalid candidates deterministically, the [[luhnCheckDigit]]
    * convention): kk = 98 − mod97(BBAN + CC-digits + "00").
    */
  def ibanCheckDigits(cc: Column, bban: Column): Column = {
    val chars = split(concat(bban, cc, lit("00")), "")
    val folded = aggregate(
      filter(chars, c => c =!= ""),
      lit(0L),
      (acc, c) => {
        val code = ascii(c).cast("long")
        when(code.between(48L, 57L),
          pmod(acc * 10L + (code - 48L), lit(97L)))
          .otherwise(pmod(acc * 100L + (code - 55L), lit(97L)))
      })
    lit(98L) - folded
  }

  /** L151 — CROSS-SOURCE QUANTILE NORMALIZATION (the microarray
    * quantile-normalization of Bolstad et al. 2003, applied to
    * per-source quality scores): heterogeneous sources score on
    * incomparable scales — one crawl's median quality would be
    * another's top decile — so a single global threshold over- or
    * under-prunes whole sources. Remap every doc's score to the GLOBAL
    * score at its source-relative rank position: after normalization
    * every source has (up to integer rank arithmetic) the same score
    * distribution, and one global threshold means the same thing
    * everywhere. Complements [[calibratedQualityGate]] (which keeps a
    * per-source top fraction but does not output comparable scores).
    *
    * Exact-integer construction: per-source rank rn by (score, id);
    * global position p = (rn−1)·n_global div n_source + 1 ∈
    * [1, n_global]; the normalized score is the p-th smallest global
    * score, located WITHOUT a global sort-row_number (the
    * single-partition window anti-shape) by interval lookup in the
    * cumulative histogram of DISTINCT score values — a table bounded
    * by the score domain, not the corpus, so it broadcasts.
    *
    * Scale shape: one keyed per-source window + one map-side-combined
    * histogram + one broadcast range join against the tiny cumulative
    * histogram. Output: (id, source, raw score, p, norm).
    */
  def quantileNormalizeScores(scores: DataFrame, idCol: String,
                              srcCol: String, scoreCol: String): DataFrame = {
    val base = scores.select(col(idCol), col(srcCol), col(scoreCol).cast("long").as("s"))
    val bySrc = Window.partitionBy(col(srcCol))
      .orderBy(col("s"), col(idCol))
    val ranked = base
      .withColumn("rn", row_number().over(bySrc).cast("long"))
      .join(base.groupBy(col(srcCol)).agg(count(lit(1)).as("n_src")), srcCol)
    // cumulative histogram over DISTINCT score values (domain-bounded)
    val hist = base.groupBy(col("s")).agg(count(lit(1)).as("cnt"))
    val cumW = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .select(col("s").as("gs"), (col("cum") - col("cnt")).as("lo"), col("cum").as("hi"))
    val nGlob = base.agg(count(lit(1)).as("n_glob"))
    ranked.crossJoin(broadcast(nGlob))
      .withColumn("p", expr("(rn - 1) * n_glob div n_src") + 1L)
      .join(broadcast(cum), col("p") > col("lo") && col("p") <= col("hi"))
      .select(col(idCol), col(srcCol), col("s").as("raw"), col("p"),
        col("gs").as("norm"))
  }

  /** L168 — LARGEST-REMAINDER QUOTA ALLOCATION (the Hamilton
    * apportionment method) — proportional sampling quotas WITHOUT
    * floats: given per-key counts nᵢ (Σ = N) and a target sample size
    * T, each key gets ⌊T·nᵢ/N⌋ plus one extra for the T − Σ⌊·⌋ largest
    * remainders (T·nᵢ mod N, ties by key — deterministic). Σ quota = T
    * EXACTLY, the property float-rounded shares never give — this is
    * how a mixture-sampling stage turns domain weights into concrete
    * per-source draw counts. T·nᵢ stays in the long domain for any
    * T·N < 2⁶³.
    *
    * Scale shape: one hash agg to per-key counts, a 1-row broadcast of
    * N, and one rank window over the KEY-cardinality-sized table —
    * nothing corpus-sized past the first agg.
    *
    * Output: (key, n, base, extra, quota), Σ quota = T.
    */
  def largestRemainderQuotas(df: DataFrame, keyCol: String,
      target: Long): DataFrame = {
    require(target >= 0, s"target must be >= 0, got $target")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("nn"))
    val based = counts.crossJoin(broadcast(tot))
      .withColumn("tn", col("n") * target)
      .withColumn("base", ((col("tn") - pmod(col("tn"), col("nn"))) / col("nn"))
        .cast("long"))
      .withColumn("rem", pmod(col("tn"), col("nn")))
    val w = Window.orderBy(col("rem").desc, col("key"))
    val short = lit(target) - sum(col("base")).over(
      Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    based
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("extra", when(col("rk") <= short, 1L).otherwise(0L))
      .select(col("key"), col("n"), col("base"), col("extra"),
        (col("base") + col("extra")).as("quota"))
  }

  /** L170 — EXACT LENGTH MOMENTS per group: mean and population
    * variance of a length column with NO IEEE accumulation — the
    * variance's numerator n·Σx² − (Σx)² is an exact long (lengths
    * ≤ ~10⁶ over ≤ ~10⁹ rows stay in domain), and mean/variance are
    * each ONE division of exact integers. The context-length-planning
    * statistic (choose seq length / packing budget from the length
    * distribution's center and spread).
    *
    * Scale shape: one map-side-combined hash agg; nothing else.
    *
    * Output: (group, n, sum_len, sum_sq, mean_len, variance).
    */
  def lengthMoments(df: DataFrame, groupCol: String,
      lenCol: Column): DataFrame =
    df.select(col(groupCol).as("group"), lenCol.cast("long").as("x"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_len"),
        sum(col("x") * col("x")).as("sum_sq"))
      .withColumn("mean_len",
        when(col("n") > 0L,
          col("sum_len").cast("double") / col("n").cast("double"))
          .otherwise(lit(-1d)))
      .withColumn("variance",
        when(col("n") > 0L,
          (col("n") * col("sum_sq") - col("sum_len") * col("sum_len"))
            .cast("double") / (col("n") * col("n")).cast("double"))
          .otherwise(lit(-1d)))

  /** L171 — POWER-OF-2 SEQUENCE-LENGTH HISTOGRAM: docs bucketed by the
    * bit length of their token count (bucket b holds 2^(b−1) ≤ n < 2^b;
    * bucket 0 = empty docs) — the distribution read before choosing a
    * context length / packing budget. The bucket of x ≥ 1 is exactly
    * its BIT LENGTH (2^(b−1) ≤ x < 2^b ⟺ bit_length(x) = b, for the
    * whole long domain including bucket 63 = [2^62, 2^63−1]), computed
    * as `length(conv(x, 10, 2))` — the binary-string-length floor-log2
    * idiom (the Zipf-profile precedent), exact in both engines, no
    * log2 floats. The oracle mirrors it as the equivalent fixed CASE
    * chain over the 62 power-of-2 edges. The length column is
    * materialized in its own projection FIRST: an earlier form inlined
    * the caller's lenCol (a regexp scan) into a 62-edge when-chain —
    * 64 copies of the regex per row in the plan (~0.4 ms/row at sf0.1,
    * guide §1.2 "don't compute things you throw away"). One hash agg.
    *
    * Output: (bucket, lo, hi, n_docs, total_tokens).
    */
  def seqlenHistogram(df: DataFrame, lenCol: Column): DataFrame = {
    df.select(lenCol.cast("long").as("x"))
      .select(col("x"),
        when(col("x") <= 0L, lit(0))
          .otherwise(length(conv(col("x"), 10, 2))).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("x")).as("total_tokens"))
      .select(col("bucket").cast("long").as("bucket"),
        when(col("bucket") === 0L, lit(0L))
          .otherwise(expr("shiftleft(cast(1 as bigint), cast(bucket - 1 as int))"))
          .cast("long").as("lo"),
        when(col("bucket") === 63L, lit(Long.MaxValue))
          .otherwise(expr("shiftleft(cast(1 as bigint), cast(bucket as int)) - 1"))
          .cast("long").as("hi"),
        col("n_docs"), col("total_tokens"))
  }

  /** L173 — 2-D SKYLINE (Pareto front; Börzsönyi et al. 2001) —
    * multi-criteria data selection: keep every point no other point
    * dominates (≥ on both axes, > on at least one). Equal points do
    * not dominate each other, so exact duplicates of a front point
    * all survive. The integer-domain window formulation: per distinct
    * x the max y, then `best_above` = running max of max_y over
    * STRICTLY greater x (one ordered window over the DISTINCT-x
    * table — domain-bounded, the quantile-norm posture, never a
    * corpus-wide sort), and a point is on the front iff y = max_y(x)
    * and y > best_above. Everything else is one hash agg + one equi
    * join back to the points.
    *
    * Output: (id, x, y) of the front.
    */
  def skyline2d(df: DataFrame, idCol: String, xCol: Column,
      yCol: Column): DataFrame = {
    val pts = df.select(col(idCol), xCol.cast("long").as("x"),
      yCol.cast("long").as("y"))
    val mx = pts.groupBy(col("x")).agg(max(col("y")).as("max_y"))
    val w = Window.orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val dom = mx.withColumn("best_above", max(col("max_y")).over(w))
    pts.join(dom, Seq("x"))
      .filter(col("y") === col("max_y") &&
        (col("best_above").isNull || col("y") > col("best_above")))
      .select(col(idCol), col("x"), col("y"))
  }

  /** L176 — SOURCE VOCABULARY OVERLAP: Jaccard between every source
    * pair's top-k vocabularies (rank by frequency, ties by token —
    * deterministic in any engine) — the source-relatedness matrix a
    * mixture plan reads next to [[herfindahl]]: two sources whose
    * top vocabularies barely overlap contribute diversity; near-
    * identical ones are redundant weight. Exact: set sizes and the
    * shared count are integers, Jaccard the single division.
    *
    * Scale shape: one (source, token) hash agg, a per-source top-k
    * rank window (vocabulary-bounded), a token equi self-join of the
    * k-sized tops, and a broadcast pair frame over the SOURCE
    * cardinality (tiny by construction) so zero-overlap pairs still
    * emit rows.
    *
    * Output: (src_a, src_b, n_a, n_b, n_shared, jaccard) for every
    * unordered source pair.
    */
  def sourceVocabOverlap(df: DataFrame, srcCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tok = df.select(col(srcCol).as("src"),
        explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy(col("src"), col("w")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("src")).orderBy(col("n").desc, col("w"))
    val top = tok.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).select(col("src"), col("w"))
    val sizes = top.groupBy(col("src")).agg(count(lit(1)).as("sz"))
    val shared = top.withColumnRenamed("src", "src_a")
      .join(top.withColumnRenamed("src", "src_b"), Seq("w"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_shared"))
    val allPairs = sizes.select(col("src").as("src_a"), col("sz").as("n_a"))
      .join(broadcast(sizes.select(col("src").as("src_b"), col("sz").as("n_b"))),
        col("src_a") < col("src_b"))
    allPairs.join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("jaccard",
        when(col("n_a") + col("n_b") - col("n_shared") > 0L,
          col("n_shared").cast("double")
            / (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .otherwise(lit(-1d)))
  }

  /** L166 — HERFINDAHL–HIRSCHMAN CONCENTRATION INDEX of a corpus
    * dimension (here: how concentrated each language's documents are
    * across sources) — the mixture-health diagnostic read before
    * setting domain weights: HHI = Σᵢ(nᵢ/N)² = Σᵢnᵢ²/N², 1/k for a
    * uniform k-way mix, →1 when one source dominates. Exact: the
    * numerator Σnᵢ² and denominator N² are exact longs (N ≤ 3·10⁹
    * before N² leaves the domain) and HHI is their single division.
    *
    * Scale shape: two nested map-side-combined hash aggs ((group,key)
    * then group) — nothing else.
    *
    * Output: (group, n_docs, n_keys, sum_sq, hhi).
    */
  def herfindahl(df: DataFrame, groupCol: String, keyCol: String): DataFrame =
    df.groupBy(col(groupCol), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .groupBy(col(groupCol))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_keys"),
        sum(col("n") * col("n")).as("sum_sq"))
      .withColumn("hhi",
        when(col("n_docs") > 0L,
          col("sum_sq").cast("double")
            / (col("n_docs") * col("n_docs")).cast("double"))
          .otherwise(lit(-1d)))

  /** L185 — GINI COEFFICIENT of each group's token-frequency
    * distribution — the vocabulary-concentration lens next to L166's
    * HHI (HHI reads document concentration across sources; this reads
    * token-mass concentration within a source): for counts c₁ ≤ … ≤
    * c_k (ties broken by token — deterministic in both engines),
    * Gini = Σ(2i − k − 1)·cᵢ / (k·Σc), computed exactly via the
    * algebraic split Σ(2i−k−1)cᵢ = 2·Σ i·cᵢ − (k+1)·Σcᵢ — every term
    * an exact long, the coefficient one division. Near-0 = flat
    * vocabulary (gibberish/boilerplate suspect), near-1 = a few tokens
    * dominate (template spam) — both ends are curation flags.
    *
    * Scale shape: one (group, token) map-side-combined histogram, one
    * rank window over the per-group VOCABULARY (Heaps-bounded — the
    * c_source_vocab_overlap posture), one hash agg.
    *
    * Output: (group, n_tokens, n_vocab, gini_num, gini).
    */
  def tokenGini(df: DataFrame, groupCol: String, toksCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(groupCol).as("grp"), explode(col(toksCol)).as("w"))
      .groupBy(col("grp"), col("w")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("grp")).orderBy(col("n"), col("w"))
    counts
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("grp"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        sum(col("i") * col("n")).as("__si"))
      .select(col("grp").as("group"), col("n_tokens"), col("n_vocab"),
        (col("__si") * 2L - (col("n_vocab") + 1L) * col("n_tokens"))
          .as("gini_num"))
      .withColumn("gini",
        when(col("n_vocab") * col("n_tokens") > 0L,
          col("gini_num").cast("double")
            / (col("n_vocab") * col("n_tokens")).cast("double"))
          .otherwise(lit(-1d)))
  }

  /** L179 — CROSS-SNAPSHOT TOKEN-DISTRIBUTION DRIFT: the "did the
    * crawl change under me" check a production curation run reads
    * between two ingest snapshots — the vocabulary-level twin of the
    * L175 day-of-week and L96 quality-drift detectors. Per group
    * (source) and token, both snapshots' e6-scaled integer frequency
    * shares (the L154 exact-share discipline: share = n·10⁶ div N,
    * absent side = 0), a per-token drift surrogate
    * (Δshare)² div (share_a + share_b + 1) — the χ²-style kernel with
    * the +1 keeping the division total — and the TOP-K drifted tokens
    * per group via [[graft.expr.TopKAgg]] (bounded-state partial-merge
    * agg: ≤ k pairs per group per map partition reach the shuffle —
    * never a per-group window sort of the whole vocabulary). Ties
    * break by the token's 60-bit md5-prefix hash ascending, then the
    * token text — deterministic and engine-independent; the hash
    * carries the token through the long-typed aggregate, joined back
    * to the (vocab-sized) histogram, and the final rank is re-derived
    * over the ≤ k joined rows so a within-source prefix collision can
    * duplicate a candidate but never a rank (output is always exactly
    * ≤ k rows per group).
    *
    * Scale shape: two (group, token) map-side-combined histograms, a
    * token-keyed full-outer merge, two group-sized total joins, one
    * bounded TopKAgg, one vocab-sized equi join back. Nothing
    * corpus-sorted, nothing quadratic.
    *
    * Output: (source, rank, token, share_a_e6, share_b_e6, drift),
    * rank 1..k by drift desc.
    */
  /** L206 — K-ANONYMITY GENERALIZATION LADDER: every row must share
    * its quasi-identifier tuple with ≥ k−1 others before metadata can
    * ship with a public corpus (the re-identification gate next to the
    * content-side PII scrubs L24/L134/L150). Rather than suppressing
    * every violating row outright, the ladder GENERALIZES first — the
    * Mondrian/Datafly move: the numeric quasi-column is re-bucketed at
    * successively coarser granularities, and each row takes the FIRST
    * ladder level at which its (group tuple) reaches k; rows whose
    * tuple stays under k even at the coarsest level are suppressed
    * loudly (level −1). Coarser levels only merge level-j groups when
    * each granularity divides the next (required), so the chosen level
    * is well-defined and monotone.
    *
    * Scale shape: one map-side-combined count per ladder level
    * (bounded, typically 2-4 levels) + level-keyed equi joins back —
    * never a per-row scan of the group.
    *
    * Output: one row per input row id: (id, <groupCols>, bucket_l0,
    * level, group_n) — level = chosen ladder rung (0-based; −1
    * suppressed), group_n = its group size at that level (−1
    * suppressed).
    */
  def kAnonymityLadder(df: DataFrame, idCol: String, groupCols: Seq[String],
      numCol: String, granularities: Seq[Long], k: Long): DataFrame = {
    require(granularities.nonEmpty && granularities.forall(_ >= 1L),
      s"granularities must be >= 1, got $granularities")
    require(granularities.sliding(2).forall {
      case Seq(a, b) => b % a == 0L; case _ => true
    }, s"each granularity must divide the next, got $granularities")
    require(k >= 2L, s"need k >= 2, got $k")
    val gs = groupCols.map(col)
    val base = df.select(col(idCol).as("id") +: (gs :+
      col(numCol).cast("long").as("__v")): _*)
    val leveled = granularities.zipWithIndex.map { case (g, j) =>
      val bucketed = base.withColumn("__b", expr(s"__v div ${g}L"))
      val sizes = bucketed.groupBy(gs :+ col("__b"): _*)
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= k)
      bucketed.join(sizes, groupCols :+ "__b")
        .select(col("id"), lit(j.toLong).as("__lvl"), col("__n"))
    }.reduce(_ unionByName _)
    val best = leveled.groupBy(col("id"))
      .agg(min(struct(col("__lvl"), col("__n"))).as("__s"))
      .select(col("id"), col("__s.__lvl").as("level"),
        col("__s.__n").as("group_n"))
    base
      .withColumn("bucket_l0", expr(s"__v div ${granularities.head}L"))
      .join(best, Seq("id"), "left")
      .select(col("id") +: gs :+ col("bucket_l0") :+
        coalesce(col("level"), lit(-1L)).as("level") :+
        coalesce(col("group_n"), lit(-1L)).as("group_n"): _*)
  }

  /** Linear (single-column sort) file layout + min-max manifest — the
    * BASELINE the curve layouts (L57 Z-order, L189 Hilbert) are
    * measured against in [[layoutSkipAudit]]: perfect pruning on the
    * sort column, none on the other.
    */
  def linearLayout(df: DataFrame, c0: String, c1: String, tieCol: String,
      rowsPerFile: Int): DataFrame = {
    require(rowsPerFile >= 1, s"need rowsPerFile >= 1, got $rowsPerFile")
    // same two-pass range-bucketed rank as the curve layouts (one tiny
    // min/max agg broadcast for the bucket bounds) — no corpus-wide
    // single-partition sort
    val bounds = df.agg(min(col(c0)).cast("long").as("__n"),
      max(col(c0)).cast("long").as("__x"))
    rangeBucketedRank(df.crossJoin(broadcast(bounds)),
        col(c0).cast("long"), col(tieCol), col("__n"), col("__x"), "__rn")
      .drop("__n", "__x")
      .withColumn("file_id", expr(s"(__rn - 1L) div ${rowsPerFile}L"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n"),
        min(col(c0)).as(s"min_$c0"), max(col(c0)).as(s"max_$c0"),
        min(col(c1)).as(s"min_$c1"), max(col(c1)).as(s"max_$c1"))
      .orderBy(col("file_id"))
  }

  /** Deterministic 2-D range workload over the data's own bounds:
    * query q of n covers [lo, hi] strips q/n..(q+1)/n on c0 and the
    * OVERLAPPING q/n..(q+2)/n band on c1 — exact integer endpoints
    * both engines derive identically from (min, max).
    */
  def rangeWorkload(df: DataFrame, c0: String, c1: String,
      nQueries: Int): DataFrame = {
    require(nQueries >= 1 && nQueries <= 64,
      s"need 1 <= nQueries <= 64, got $nQueries")
    val spark = df.sparkSession
    val b = df.agg(min(col(c0)).cast("long").as("n0"),
      max(col(c0)).cast("long").as("x0"),
      min(col(c1)).cast("long").as("n1"),
      max(col(c1)).cast("long").as("x1")).head
    val (n0, x0, n1, x1) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    spark.range(0, nQueries)
      .select(col("id").as("q_id"),
        expr(s"${n0}L + ((${x0 - n0}L * id) div ${nQueries}L)").as("lo0"),
        expr(s"${n0}L + ((${x0 - n0}L * (id + 1)) div ${nQueries}L)").as("hi0"),
        expr(s"${n1}L + ((${x1 - n1}L * id) div ${nQueries}L)").as("lo1"),
        expr(s"${n1}L + ((${x1 - n1}L * (id + 2)) div ${nQueries}L)").as("hi1"))
  }

  /** L203 — LAYOUT SKIP-EFFECTIVENESS AUDIT: for each candidate file
    * layout's min-max manifest and each workload range query, the
    * exact number of files whose envelope INTERSECTS the query — the
    * number a format's data-skipping statistics would scan. This is
    * the decision table a 100 TB table owner reads before choosing
    * linear vs Z-order vs Hilbert clustering: layouts are cheap to
    * audit from manifests alone (n_files rows per layout, never the
    * data), and the winner differs by workload shape — which is why
    * it's an operator, not a constant.
    *
    * Scale shape: per layout one broadcast join of the (tiny) workload
    * grid against the manifest + one count rollup — manifest-sized,
    * data-free.
    *
    * Output: (layout, q_id, n_files, n_scanned, scan_frac).
    */
  def layoutSkipAudit(manifests: Seq[(String, DataFrame)],
      queries: DataFrame, minC0: String, maxC0: String, minC1: String,
      maxC1: String): DataFrame = {
    require(manifests.nonEmpty, "need at least one manifest")
    manifests.map { case (name, m0) =>
      val m = m0.select(col("file_id"), col(minC0), col(maxC0),
        col(minC1), col(maxC1))
      // n_files rides the plan as a broadcast 1-row count agg instead of
      // a blocking m.count(): three manifests = three fewer driver
      // round-trips, and the whole audit lands in ONE parallel action.
      val nFiles = broadcast(m.agg(count(lit(1)).as("n_files")))
      val hit = !(col(maxC0) < col("lo0") || col(minC0) > col("hi0")
        || col(maxC1) < col("lo1") || col(minC1) > col("hi1"))
      broadcast(queries).join(m, hit, "left")
        .groupBy(col("q_id"))
        .agg(count(col("file_id")).as("n_scanned"))
        .crossJoin(nFiles)
        .select(lit(name).as("layout"), col("q_id"),
          col("n_files"), col("n_scanned"))
        .withColumn("scan_frac",
          col("n_scanned").cast("double") / col("n_files").cast("double"))
    }.reduce(_ unionByName _)
  }

  /** L202 — VOCABULARY GROWTH CURVE (Heaps' law, exact): distinct-type
    * count as a function of corpus size, at `nCheckpoints` equal
    * doc-id cutoffs — the curve a corpus-expansion decision reads
    * ("does doubling the crawl still buy vocabulary?") next to the
    * L93 Chao1 asymptote estimate (Chao1 gives the limit, this gives
    * the exact trajectory so far). The trick that makes it ONE pass
    * instead of nCheckpoints passes: a type's contribution to every
    * cutoff is determined by its FIRST document — n_vocab(c) =
    * #{types: min doc_id < c} — so one hash agg to (type, first_id)
    * and one tiny-grid conditional rollup replace any per-checkpoint
    * rescan. Cutoffs c_i = ((max_id + 1)·i) div n — exact integers
    * both engines derive identically.
    *
    * Scale shape: one (type) map-side-combined min-agg over the
    * exploded tokens, one per-doc length projection, then two
    * broadcast-grid rollups (the grid is `nCheckpoints` rows —
    * broadcast theta joins against it are n-row-bounded passes, the
    * m_eer totals-frame posture). Nothing corpus-sorted.
    *
    * Output: (checkpoint, cutoff_id, n_docs, n_tokens, n_vocab),
    * checkpoint 1..n.
    */
  def vocabGrowth(docs: DataFrame, idCol: String, toksCol: String,
      nCheckpoints: Int): DataFrame = {
    require(nCheckpoints >= 2 && nCheckpoints <= 100,
      s"need 2 <= nCheckpoints <= 100, got $nCheckpoints")
    val spark = docs.sparkSession
    val base = docs.select(col(idCol).cast("long").as("id"),
      col(toksCol).as("toks"))
    val tok = base.select(col("id"), explode(col("toks")).as("w"))
    val firstw = tok.groupBy(col("w")).agg(min(col("id")).as("first_id"))
    val docLen = base.select(col("id"), size(col("toks")).cast("long").as("n"))
    val mx = base.agg(max(col("id"))).head.getLong(0)
    val grid = spark.range(1, nCheckpoints + 1L)
      .select(col("id").as("checkpoint"),
        expr(s"((${mx + 1L}L * id) div ${nCheckpoints}L)").as("cutoff_id"))
    val ds = broadcast(grid).join(docLen, col("id") < col("cutoff_id"))
      .groupBy(col("checkpoint"), col("cutoff_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    val vs = broadcast(grid).join(firstw, col("first_id") < col("cutoff_id"))
      .groupBy(col("checkpoint"))
      .agg(count(lit(1)).as("n_vocab"))
    ds.join(vs, Seq("checkpoint"))
      .select(col("checkpoint"), col("cutoff_id"), col("n_docs"),
        col("n_tokens"), col("n_vocab"))
  }

  def tokenDrift(snapA: DataFrame, snapB: DataFrame, groupCol: String,
      toksCol: String, k: Int): DataFrame = {
    def hist(df: DataFrame) = df
      .select(col(groupCol).as("src"), explode(col(toksCol)).as("w"))
      .groupBy(col("src"), col("w")).agg(count(lit(1)).as("n"))
    val ha = hist(snapA)
    val hb = hist(snapB)
    tokenDriftFromHist(
      ha.withColumnRenamed("n", "n_a")
        .join(hb.withColumnRenamed("n", "n_b"), Seq("src", "w"), "full_outer")
        .select(col("src"), col("w"),
          coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b")),
      k)
  }

  /** [[tokenDrift]] from a prebuilt merged histogram (src, w, n_a, n_b)
    * — a caller whose two snapshots are FILTERS/EDITS of one base table
    * can produce both counts from a single tokenize+explode pass with
    * conditional sums instead of two passes + a full outer join; the
    * scoring, totals and top-k are identical from the merged relation
    * (per-src totals are sums over it, unchanged by how it was built).
    */
  def tokenDriftFromHist(hist: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOT cached: the four consuming branches (both per-src totals, the
    // top-k aggregation, the join-back) all sit directly on the
    // histogram aggregate's exchange, which ReuseExchange dedups within
    // the single action — an eager cache here measured SLOWER (one
    // extra materialization job + storage write for work the plan
    // already shares).
    val m = hist.filter(col("n_a") > 0L || col("n_b") > 0L)
    val na = m.groupBy(col("src")).agg(sum(col("n_a")).as("__ta"))
    val nb = m.groupBy(col("src")).agg(sum(col("n_b")).as("__tb"))
    val scored = m
      .join(na, Seq("src"), "left")
      .join(nb, Seq("src"), "left")
      .select(col("src"), col("w"), col("n_a"), col("n_b"),
        coalesce(col("__ta"), lit(0L)).as("ta"),
        coalesce(col("__tb"), lit(0L)).as("tb"))
      .withColumn("sa", expr("IF(ta > 0, (n_a * 1000000L) div ta, 0L)"))
      .withColumn("sb", expr("IF(tb > 0, (n_b * 1000000L) div tb, 0L)"))
      .withColumn("drift", expr("((sa - sb) * (sa - sb)) div (sa + sb + 1)"))
      .withColumn("__h",
        conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long"))
    val topk = udaf(new graft.expr.TopKAgg(k))
    // TopKAgg selects MEMBERSHIP (the k hashes); the final rank is
    // re-derived after the join-back with the token itself as the last
    // tie-break, so a 60-bit md5-prefix collision (two tokens sharing
    // __h within a source — the join-back would then return k + dups
    // rows) still yields exactly k deterministically-ranked rows
    // instead of a duplicated rank.
    val wRank = Window.partitionBy(col("src"))
      .orderBy(col("drift").desc, col("__h"), col("w"))
    scored.groupBy(col("src"))
      .agg(topk(col("drift"), col("__h")).as("__tk"))
      .select(col("src"), explode(col("__tk")).as("__e"))
      .select(col("src"), col("__e.id").as("__h")).distinct()
      .join(scored.select(col("src"), col("w"), col("__h"),
        col("sa"), col("sb"), col("drift")), Seq("src", "__h"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("src").as("source"), col("rank"), col("w").as("token"),
        col("sa").as("share_a_e6"), col("sb").as("share_b_e6"), col("drift"))
  }

  /** L228 — QUALITY-GATE ATTRITION REPORT: the per-gate accounting a
    * filter cascade (L34's Gopher gates, L17's composites) ships with
    * — for each gate, how many documents it fails (`n_fail`) and how
    * many it is the ONLY gate to fail (`n_unique_fail`). The unique
    * column is the gate's marginal value: a gate with many fails but
    * zero unique kills is redundant with the rest of the cascade and
    * can be dropped without changing the corpus; one with a large
    * unique count is load-bearing and deserves its own calibration
    * (L81/L103). Computed from ONE pass: the per-doc fail bitmask is
    * a single projection, the pattern histogram one ≤ 2^k agg, and
    * the per-gate readout unfolds the tiny histogram — never k
    * separate scans.
    *
    * Input: any frame + up to 16 named boolean PASS-columns (true =
    * survives). Output: per gate (gate, n_fail, n_unique_fail) plus
    * the scalars (n_docs, n_killed) on every row.
    */
  def gateAttrition(df: DataFrame, gates: Seq[(String, Column)]): DataFrame = {
    require(gates.nonEmpty && gates.size <= 16,
      s"need 1..16 gates, got ${gates.size}")
    val spark = df.sparkSession
    val mask = gates.zipWithIndex
      .map { case ((_, c), i) =>
        when(c, lit(0L)).otherwise(lit(1L << i)) }
      .reduce(_ + _)
    val hist = df.select(mask.as("fail_mask"))
      .groupBy(col("fail_mask")).agg(count(lit(1)).as("n"))
    val tot = hist.agg(sum(col("n")).as("n_docs"),
      sum(when(col("fail_mask") =!= 0L, col("n")).otherwise(0L))
        .as("n_killed"))
    import spark.implicits._
    val gateIdx = gates.zipWithIndex
      .map { case ((name, _), i) => (name, i.toLong) }
      .toDF("gate", "__i")
    broadcast(gateIdx).join(hist,
        expr("(fail_mask div CAST(pow(2, __i) AS BIGINT)) % 2 = 1"), "left")
      .groupBy(col("gate"), col("__i"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_fail"),
        coalesce(sum(when(col("fail_mask") === expr(
          "CAST(pow(2, __i) AS BIGINT)"), col("n")).otherwise(0L)), lit(0L))
          .as("n_unique_fail"))
      .crossJoin(broadcast(tot))
      .select(col("gate"), col("n_fail"), col("n_unique_fail"),
        col("n_docs"), col("n_killed"))
  }

  /** Embedded ITU E.164 country-calling-code subset: enough real
    * assignments to exercise every prefix width (1, 2, 3 digits) and
    * the longest-prefix-first match; swap in the full ITU table for
    * production without touching the algorithm (the PublicSuffix
    * posture).
    */
  val e164Cc1: Seq[String] = Seq("1", "7")
  val e164Cc2: Seq[String] = Seq("20", "27", "30", "31", "33", "34",
    "39", "40", "41", "44", "49", "52", "55", "61", "62", "63", "64",
    "65", "66", "81", "82", "84", "86", "90", "91", "92", "93", "94",
    "95", "98")
  val e164Cc3: Seq[String] = Seq("212", "213", "216", "218", "220",
    "234", "254", "351", "352", "353", "358", "380", "420", "421",
    "880", "886", "961", "962", "971", "972", "994")

  /** L324 — E.164 INTERNATIONAL PHONE GATE: the phone-number PII
    * sibling of the Luhn card (L134) and IBAN (L150) gates — a
    * candidate `+digits` string is PII when its country calling code
    * resolves against the ITU table (LONGEST prefix first: 3 → 2 → 1
    * digits) and the total length is within the E.164 bound of 15
    * digits (8 minimum here — shorter national numbers exist but are
    * not internationally routable, documented). Returns the validity
    * Column; redaction composes with `when` at the call site. Pure
    * string ops + InSet — fully relational, the same expression tree
    * both engines evaluate.
    */
  def e164Valid(cand: Column): Column = {
    val digits = substring(cand, 2, 100)
    val shapeOk = cand.rlike("^\\+[0-9]{8,15}$")
    val ccOk = substring(digits, 1, 3).isInCollection(e164Cc3) ||
      substring(digits, 1, 2).isInCollection(e164Cc2) ||
      substring(digits, 1, 1).isInCollection(e164Cc1)
    shapeOk && ccOk
  }

  /** L313 — SCD-2 VALIDITY INTERVALS from a change log: turn per-key
    * observation events (key, ts, value) into the slowly-changing-
    * dimension-type-2 table every warehouse keeps for corpus metadata
    * that drifts between crawls (a page's detected language, quality
    * tier, license tag): one row per VALUE EPISODE with
    * [valid_from, valid_to) half-open validity and an is_current
    * flag. Consecutive observations with an unchanged value COLLAPSE
    * into one episode (the lag-based change gate); re-appearing
    * values open a NEW episode (history is linear, not keyed by
    * value). Duplicate (key, ts) observations are contract
    * violations and raise — two facts at the same instant have no
    * defined order.
    *
    * Scale shape: two key-partitioned windows (lag for the change
    * gate, lead for interval close) — one shuffle on the key, no
    * joins, no state beyond the window frame.
    *
    * Output: (key, value, valid_from, valid_to, is_current) with
    * valid_to = Long.MaxValue on the open episode.
    */
  def scd2Intervals(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wk = Window.partitionBy(col("k")).orderBy(col("ts"))
    val base = df.select(col(keyCol).as("k"), col(tsCol).cast("long").as("ts"),
      col(valCol).cast("string").as("v"))
    val dupGate = base.withColumn("__same",
      count(lit(1)).over(Window.partitionBy(col("k"), col("ts"))))
    dupGate.select(col("k"),
        when(col("__same") > 1L, raise_error(concat(
          lit("scd2Intervals: duplicate observation at (key, ts) = ("),
          col("k"), lit(", "), col("ts"), lit(")"))).cast("long"))
          .otherwise(col("ts")).as("ts"),
        col("v"))
      .withColumn("__prev", lag(col("v"), 1).over(wk))
      .filter(col("__prev").isNull || col("__prev") =!= col("v"))
      .withColumn("valid_to",
        coalesce(lead(col("ts"), 1).over(wk), lit(Long.MaxValue)))
      .select(col("k").as("key"), col("v").as("value"),
        col("ts").as("valid_from"), col("valid_to"),
        (col("valid_to") === Long.MaxValue).as("is_current"))
  }
}
