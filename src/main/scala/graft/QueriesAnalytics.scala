package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, EvalOps, EventAnalytics, GraphOps, MLlibOps, Multimodal, Retrieval, SegmentAlgebra, SegmentOps, Similarity, TextOps}
import graft.QuerySupport._

/** Event analytics + sketches: funnels, attribution, outliers,
  * heavy hitters, cardinality/quantile sketches.
  */
private[graft] object QueriesAnalytics {

  def entries: Seq[Q] = Seq(

    // L31 — KMV distinct-count sketch (Bar-Yossef et al. 2002): the
    // k smallest DISTINCT 60-bit md5 hashes per group in a bounded-state
    // custom Aggregator with true partial merge — approximate
    // COUNT(DISTINCT) without shuffling distinct values, and exactly
    // oracle-checkable because the hash is public md5 (an external
    // engine computes the IDENTICAL sketch; HLL internals are not
    // portable). est = (k−1)·2⁶⁰ / kth_min, one exact double division;
    // the exact distinct count rides along for calibration.
    Q("sketch_kmv_distinct",
      (s, dir) => {
        val k = 16
        val kmv = udaf(new graft.expr.KmvSketchAgg(k))
        val c = lit(15.0) * lit(1152921504606846976.0) // (k−1)·2⁶⁰ exact
        s.read.parquet(s"$dir/events.parquet")
          .select(col("event_type"), col("user_id"),
            conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
              .cast("long").as("hv"))
          .groupBy(col("event_type"))
          .agg(kmv(col("hv")).as("kmv"),
            countDistinct(col("user_id")).as("exact_distinct"))
          .select(col("event_type"), col("kmv.n_min").as("n_min"),
            col("kmv.kth_min").as("kth_min"),
            when(col("kmv.kth_min").isNull, col("kmv.n_min").cast("double"))
              .otherwise(c / col("kmv.kth_min").cast("double"))
              .as("est_distinct"),
            col("exact_distinct"))
          .orderBy(col("event_type"))
      },
      Some("""WITH h AS (SELECT DISTINCT event_type,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events),
        |r AS (SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM h),
        |a AS (SELECT event_type, COUNT(*) AS n_min,
        |    MAX(CASE WHEN rn = 16 THEN hv END) AS kth_min
        |  FROM r WHERE rn <= 16 GROUP BY event_type),
        |x AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
        |  FROM events GROUP BY event_type)
        |SELECT a.event_type, a.n_min, a.kth_min,
        |  CASE WHEN a.kth_min IS NULL THEN CAST(a.n_min AS DOUBLE)
        |       ELSE (15.0 * 1152921504606846976.0) / CAST(a.kth_min AS DOUBLE)
        |  END AS est_distinct,
        |  x.exact_distinct
        |FROM a JOIN x ON x.event_type = a.event_type
        |ORDER BY a.event_type""".stripMargin)),


    // L33 — COUNT-MIN SKETCH heavy hitters (Cormode & Muthukrishnan
    // 2005): a 3×256 counter grid over the full token stream
    // (CmsSketchAgg — fixed 768-long state, element-wise-sum partial
    // merge, so the sketch is a deterministic function of the input
    // multiset regardless of partitioning, unlike Misra–Gries). The
    // exact top-15 tokens then read their estimates from the broadcast
    // grid: est ≥ exact always, equality iff no colliding token. Row
    // hashes are public md5 slices, so the oracle rebuilds each probed
    // cell as COUNT(*) of its (row, position) group — the sketch itself
    // never needs to exist oracle-side.
    Q("sketch_cms_topk",
      (s, dir) => {
        import graft.expr.{CmsSketch, CmsSketchAgg}
        val d = 3; val w = 256
        val cms = udaf(new CmsSketchAgg(d, w))
        val toks = Tables.documents(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
        val grid = toks.select(CmsSketch.cells(col("tok"), d, w).as("cs"))
          .agg(cms(col("cs")).as("grid"))
        toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_count"))
          .orderBy(col("exact_count").desc, col("tok")).limit(15)
          .crossJoin(broadcast(grid))
          .select(col("tok"), col("exact_count"),
            CmsSketch.estimate(col("grid"), CmsSketch.cells(col("tok"), d, w))
              .as("cms_est"))
          .orderBy(col("exact_count").desc, col("tok"))
      },
      Some(cmsTopkOracleSql)),


    // L45 — LOG-HISTOGRAM QUANTILE SKETCH (the DDSketch shape, Masson
    // et al. 2019): per-language p50/p90/p99 of document length from a
    // bounded ~0.5k-counter histogram — per-value aggregation state
    // never exists, vs q_quantiles' one counter per distinct value.
    // Bucketing is integer-exact (bit-length octaves + power-of-two
    // sub-buckets, never float log), the state is CmsSketchAgg with an
    // identity "hash" on the bounded bucket space, and the merge is
    // element-wise sum — so this approximate sketch is a deterministic
    // function of the input multiset and the oracle replays it exactly.
    Q("sketch_log_quantiles",
      (s, dir) => Curation.logQuantiles(
        Tables.documents(s, dir), "lang", "n_chars",
        Seq((50, 1L, 2L), (90, 9L, 10L), (99, 99L, 100L))),
      Some("""WITH x AS (SELECT lang, greatest(n_chars, 1) AS v FROM documents),
        |b AS (SELECT lang, CAST(length(format('{:b}', v)) - 1 AS INTEGER) AS k, v FROM x),
        |bb AS (SELECT lang, CAST(k*8
        |    + ((v - (1::BIGINT << k))*8) // (1::BIGINT << k) AS INTEGER) AS bkt FROM b),
        |g AS (SELECT lang, bkt, CAST(COUNT(*) AS BIGINT) AS cnt FROM bb GROUP BY 1, 2),
        |nn AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n FROM g GROUP BY 1),
        |c AS (SELECT lang, bkt, CAST(SUM(cnt) OVER (PARTITION BY lang
        |    ORDER BY bkt) AS BIGINT) AS cum FROM g),
        |s(q_pct, qn, qd) AS (VALUES (50, 1::BIGINT, 2::BIGINT),
        |  (90, 9::BIGINT, 10::BIGINT), (99, 99::BIGINT, 100::BIGINT)),
        |r AS (SELECT c.lang, s.q_pct, nn.n,
        |    (nn.n*s.qn + s.qd - 1) // s.qd AS rank, MIN(c.bkt) AS bkt
        |  FROM c JOIN nn USING (lang)
        |  JOIN s ON c.cum >= (nn.n*s.qn + s.qd - 1) // s.qd
        |  GROUP BY 1, 2, 3, 4)
        |SELECT lang, q_pct, n, rank, bkt,
        |  (8 + bkt % 8) * (1::BIGINT << (bkt // 8)) AS rep8
        |FROM r ORDER BY lang, q_pct""".stripMargin)),


    // L59 — SPACE-SAVING HEAVY HITTERS (Metwally et al. 2005): per-lang
    // top tokens under HARD-BOUNDED state — at most 64 counters per
    // group per map partition, whatever the distinct-key count, vs one
    // counter per distinct key for exact groupBy.count (the state that
    // IS the job at 100 TB vocabularies). This corpus's vocab fits the
    // capacity, so no eviction fires, the summary is a union-sum lattice
    // (est = exact count, err = 0, partitioning-invariant) and the exact
    // SQL oracles the whole reduce/merge/finish path; the eviction
    // regime's guarantee bounds are SketchProps laws.
    Q("hh_space_saving",
      (s, dir) => {
        val ss = udaf(new graft.expr.SpaceSavingAgg(64, 10),
          org.apache.spark.sql.Encoders.STRING)
        Tables.documents(s, dir)
          .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
          .groupBy(col("lang")).agg(ss(col("tok")).as("hh"))
          .select(col("lang"), posexplode(col("hh")))
          .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
            col("col.key").as("tok"), col("col.est").as("est"),
            col("col.err").as("err"))
          .orderBy(col("lang"), col("rank"))
      },
      Some(hhOracleSql)),


    // L65 — BM25 KEYWORD RETRIEVAL top-k: data-derived probe terms (5
    // highest-df tokens of length >= 5), scored with the integer-exact
    // BM25 surrogate (k1=6/5, b=3/4, odds-ratio idf — Retrieval.bm25TopK)
    // and reduced per term by the bounded-state TopKAgg, not a window
    // sort. The oracle mirrors both floors and the rank tie rule.
    Q("r_bm25_topk",
      (s, dir) => {
        val toks = Retrieval.tokenTable(Tables.documents(s, dir), "doc_id", "text")
        Retrieval.bm25FromToks(toks, "doc_id",
            Retrieval.probeTermsFromToks(toks, "doc_id", minLen = 5, k = 5),
            k = 10, scale = 1000000L)
          .orderBy(col("term"), col("rank"))
      },
      Some(s"""WITH $toksSqlCte,
        |t AS (SELECT doc_id, unnest(toks) AS term FROM d),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM t GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS n_toks FROM dl),
        |probes AS (SELECT term FROM (
        |    SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS pdf
        |    FROM t WHERE len(term) >= 5 GROUP BY 1)
        |  ORDER BY pdf DESC, term LIMIT 5),
        |tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM t JOIN probes USING (term) GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.term, tf.doc_id, dfq.df, tot.n_docs,
        |    ((1000000 * 22 * tf.tf * tot.n_toks)
        |      // (10 * tf.tf * tot.n_toks + 3 * tot.n_toks
        |         + 9 * tot.n_docs * dl.dl)) AS s1
        |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN tot),
        |sc2 AS (SELECT term, doc_id,
        |    (s1 * (2 * (n_docs - df) + 1)) // (2 * df + 1) AS score FROM sc),
        |r AS (SELECT term, doc_id, score,
        |    CAST(row_number() OVER (PARTITION BY term
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM sc2)
        |SELECT term, rank, doc_id, score
        |FROM r WHERE rank <= 10 ORDER BY term, rank""".stripMargin)),

    // L147 — nDCG@10 ranking evaluation over the bm25 rankings: graded
    // relevance is minted doc_id-derived identically in both engines
    // ((doc_id + len(term)) % 4 — the fixture convention); DCG and the
    // ideal DCG are order-free BIGINT sums of grade × e6-quantized
    // integer discounts (see Retrieval.dcgWeightsE6 for why not IEEE
    // doubles); nDCG is their single division.
    Q("r_ndcg",
      (s, dir) => {
        val toks = Retrieval.tokenTable(Tables.documents(s, dir), "doc_id", "text")
        val ranked = Retrieval.bm25FromToks(toks, "doc_id",
            Retrieval.probeTermsFromToks(toks, "doc_id", minLen = 5, k = 5),
            k = 10, scale = 1000000L)
          .withColumn("rel", pmod(col("doc_id") + length(col("term")), lit(4L)))
        Retrieval.ndcgAtK(ranked, "term", "rank", "rel", k = 10)
          .orderBy(col("term"))
      },
      Some(s"""WITH $toksSqlCte,
        |t AS (SELECT doc_id, unnest(toks) AS term FROM d),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM t GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS n_toks FROM dl),
        |probes AS (SELECT term FROM (
        |    SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS pdf
        |    FROM t WHERE len(term) >= 5 GROUP BY 1)
        |  ORDER BY pdf DESC, term LIMIT 5),
        |tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM t JOIN probes USING (term) GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.term, tf.doc_id, dfq.df, tot.n_docs,
        |    ((1000000 * 22 * tf.tf * tot.n_toks)
        |      // (10 * tf.tf * tot.n_toks + 3 * tot.n_toks
        |         + 9 * tot.n_docs * dl.dl)) AS s1
        |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN tot),
        |sc2 AS (SELECT term, doc_id,
        |    (s1 * (2 * (n_docs - df) + 1)) // (2 * df + 1) AS score FROM sc),
        |r AS (SELECT term, doc_id,
        |    CAST(row_number() OVER (PARTITION BY term
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM sc2),
        |rl AS (SELECT term, rank, (doc_id + len(term)) % 4 AS rel
        |  FROM r WHERE rank <= 10),
        |wi AS (SELECT term, rank, rel, CAST(row_number() OVER (
        |    PARTITION BY term ORDER BY rel DESC, rank) AS BIGINT) AS irk FROM rl),
        |wt AS (SELECT [1000000, 630930, 500000, 430677, 386853,
        |    356207, 333333, 315465, 301030, 289065] AS w),
        |ag AS (SELECT term,
        |    CAST(SUM(rel * w[CAST(rank AS INTEGER)]) AS BIGINT) AS dcg_e6,
        |    CAST(SUM(rel * w[CAST(irk AS INTEGER)]) AS BIGINT) AS idcg_e6
        |  FROM wi CROSS JOIN wt GROUP BY term)
        |SELECT term, dcg_e6, idcg_e6,
        |  CASE WHEN idcg_e6 > 0
        |    THEN CAST(dcg_e6 AS DOUBLE) / CAST(idcg_e6 AS DOUBLE)
        |    ELSE 0.0 END AS ndcg
        |FROM ag ORDER BY term""".stripMargin)),

    // L219 — average precision @10 over the same bm25 rankings as
    // r_ndcg (binary collapse of the minted grades, the TREC
    // convention): per-relevant-rank precision e6-floored, summed,
    // floored once more by the relevant count — the defined fold both
    // engines replay; AP punishes every relevant doc ranked below an
    // irrelevant one with weight 1/rank, the complement to nDCG's
    // graded discounts.
    Q("r_avg_precision",
      (s, dir) => {
        val toks = Retrieval.tokenTable(Tables.documents(s, dir), "doc_id", "text")
        val ranked = Retrieval.bm25FromToks(toks, "doc_id",
            Retrieval.probeTermsFromToks(toks, "doc_id", minLen = 5, k = 5),
            k = 10, scale = 1000000L)
          .withColumn("rel", pmod(col("doc_id") + length(col("term")), lit(4L)))
        Retrieval.averagePrecisionAtK(ranked, "term", "rank", "rel", k = 10)
          .orderBy(col("term"))
      },
      Some(s"""WITH $toksSqlCte,
        |t AS (SELECT doc_id, unnest(toks) AS term FROM d),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM t GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS n_toks FROM dl),
        |probes AS (SELECT term FROM (
        |    SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS pdf
        |    FROM t WHERE len(term) >= 5 GROUP BY 1)
        |  ORDER BY pdf DESC, term LIMIT 5),
        |tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM t JOIN probes USING (term) GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.term, tf.doc_id, dfq.df, tot.n_docs,
        |    ((1000000 * 22 * tf.tf * tot.n_toks)
        |      // (10 * tf.tf * tot.n_toks + 3 * tot.n_toks
        |         + 9 * tot.n_docs * dl.dl)) AS s1
        |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN tot),
        |sc2 AS (SELECT term, doc_id,
        |    (s1 * (2 * (n_docs - df) + 1)) // (2 * df + 1) AS score FROM sc),
        |r AS (SELECT term, doc_id,
        |    CAST(row_number() OVER (PARTITION BY term
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM sc2),
        |rl AS (SELECT term, rank,
        |    CASE WHEN (doc_id + len(term)) % 4 > 0 THEN 1 ELSE 0 END AS b
        |  FROM r WHERE rank <= 10),
        |tp AS (SELECT term, rank, b, SUM(b) OVER (
        |    PARTITION BY term ORDER BY rank) AS tp FROM rl),
        |ag AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_ranked,
        |    CAST(SUM(b) AS BIGINT) AS n_rel,
        |    SUM(CASE WHEN b = 1 THEN (tp * 1000000) // rank ELSE 0 END) AS sp
        |  FROM tp GROUP BY term)
        |SELECT term, n_ranked, n_rel,
        |  CAST(CASE WHEN n_rel > 0 THEN sp // n_rel ELSE -1 END AS BIGINT)
        |    AS ap_e6
        |FROM ag ORDER BY term""".stripMargin)),


    // L71 — HYPERLOGLOG distinct-count sketch (Flajolet 2007): 16
    // max-of-rank registers per event_type as a bounded-state
    // partial-merge aggregate over the public 60-bit md5 hash — bucket
    // = top 4 bits, rank = leading zeros of the remaining 56 + 1. The
    // oracle rebuilds every register (57 − bitlength via printf('%b')),
    // the scaled inverse-power sum, and the raw α·m²·2⁵⁷/S estimate
    // bit-for-bit; exact COUNT(DISTINCT) rides along for calibration.
    Q("sketch_hll_distinct",
      (s, dir) => {
        val hll = udaf(new graft.expr.HllSketchAgg(4))
        s.read.parquet(s"$dir/events.parquet")
          .select(col("event_type"),
            conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
              .cast("long").as("hv"), col("user_id"))
          .groupBy(col("event_type"))
          .agg(hll(col("hv")).as("h"),
            countDistinct(col("user_id")).as("exact_distinct"))
          // regs serialized to a CSV string — the driver's pandas
          // comparator cannot sort/hash raw array cells
          .select(col("event_type"),
            array_join(col("h.regs").cast("array<string>"), ",").as("regs"),
            col("h.s_scaled").as("s_scaled"), col("h.n_zero").as("n_zero"),
            ((lit(0.673) * lit(256.0)) * lit(1.44115188075855872e17)
              / col("h.s_scaled").cast("double")).as("est_distinct"),
            col("exact_distinct"))
          .orderBy(col("event_type"))
      },
      Some("""WITH h AS (SELECT event_type,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events),
        |bk AS (SELECT event_type, hv >> 56 AS bucket,
        |    hv & 72057594037927935 AS w FROM h),
        |r AS (SELECT event_type, bucket,
        |    MAX(CASE WHEN w = 0 THEN 57
        |      ELSE 57 - length(printf('%b', w)) END) AS reg
        |  FROM bk GROUP BY 1, 2),
        |et AS (SELECT DISTINCT event_type FROM events),
        |grid AS (SELECT et.event_type, gs.bucket FROM et
        |  CROSS JOIN (SELECT unnest(range(16)) AS bucket) gs),
        |fl AS (SELECT g.event_type, g.bucket,
        |    CAST(COALESCE(r.reg, 0) AS BIGINT) AS reg
        |  FROM grid g LEFT JOIN r ON r.event_type = g.event_type
        |    AND r.bucket = g.bucket),
        |a AS (SELECT event_type, list(reg ORDER BY bucket) AS regs,
        |    CAST(SUM(1::BIGINT << (57 - reg)) AS BIGINT) AS s_scaled,
        |    CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |  FROM fl GROUP BY 1),
        |x AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |    AS exact_distinct FROM events GROUP BY 1)
        |SELECT a.event_type, array_to_string(a.regs, ',') AS regs,
        |  a.s_scaled, a.n_zero,
        |  (0.673 * 256.0) * 144115188075855872.0
        |    / CAST(a.s_scaled AS DOUBLE) AS est_distinct,
        |  x.exact_distinct
        |FROM a JOIN x USING (event_type) ORDER BY event_type""".stripMargin)),


    // L72 — ORDERED FUNNEL (signup → view → click → purchase): per user
    // the earliest completion time of each step STRICTLY AFTER the
    // previous step's; a missing step nulls the suffix. Chained keyed
    // aggregates — k equi joins on user_id, no per-user sort.
    Q("e_funnel",
      (s, dir) => EventAnalytics.funnel(
          Tables.eventIntervals(s, dir)
            .select(col("user_id"), col("event_type"), col("s_us").as("tus")),
          "user_id", "event_type", "tus",
          Seq("signup", "view", "click", "purchase"))
        .orderBy(col("user_id")),
      Some(s"""WITH $evPointsSqlCte,
        |s1 AS (SELECT user_id, MIN(tus) AS t1 FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.t1,
        |    MIN(CASE WHEN e.tus > s1.t1 THEN e.tus END) AS t2
        |  FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
        |    AND e.event_type = 'view' GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
        |    MIN(CASE WHEN e.tus > s2.t2 THEN e.tus END) AS t3
        |  FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
        |    AND e.event_type = 'click' GROUP BY 1, 2, 3),
        |s4 AS (SELECT s3.user_id, s3.t1, s3.t2, s3.t3,
        |    MIN(CASE WHEN e.tus > s3.t3 THEN e.tus END) AS t4
        |  FROM s3 LEFT JOIN e ON e.user_id = s3.user_id
        |    AND e.event_type = 'purchase' GROUP BY 1, 2, 3, 4)
        |SELECT user_id, t1, t2, t3, t4,
        |  CAST(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
        |    + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
        |    + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END
        |    + CASE WHEN t4 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS steps_reached
        |FROM s4 ORDER BY user_id""".stripMargin)),


    // L73 — COHORT RETENTION: cohort = first-activity week; one row per
    // (cohort, offset) counting distinct users still active. The
    // (user, week) distinct collapse runs before the join, so join
    // input is users × weeks, not raw events.
    Q("e_retention",
      (s, dir) => EventAnalytics.retention(
          Tables.eventIntervals(s, dir)
            .select(col("user_id"), col("s_us").as("tus")),
          "user_id", "tus", bucketUs = 604800000000L)
        .orderBy(col("cohort_w"), col("week_offset")),
      Some(s"""WITH $evPointsSqlCte,
        |w AS (SELECT DISTINCT user_id, tus // 604800000000 AS w FROM e),
        |c AS (SELECT user_id, MIN(w) AS cohort_w FROM w GROUP BY 1)
        |SELECT c.cohort_w, w.w - c.cohort_w AS week_offset,
        |  CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_users
        |FROM w JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),


    // L76 — EVENT TRANSITION MATRIX (next-event Markov counts, the
    // product-analytics complement of e_funnel): per user order events
    // by (time, event_id) and count consecutive type→next pairs — one
    // shuffle on the user key, the lead window runs per partition.
    Q("e_transitions",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("s_us"), col("event_id"))
        Tables.eventIntervals(s, dir)
          .select(col("user_id"), col("event_id"), col("s_us"),
            col("event_type"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type"), col("next_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("event_type"), col("next_type"))
      },
      Some(s"""WITH $evPointsSqlCte,
        |nx AS (SELECT event_type, lead(event_type, 1) OVER
        |    (PARTITION BY user_id ORDER BY tus, event_id) AS next_type
        |  FROM e)
        |SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM nx WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),


    // L77 — σ-THRESHOLD ANOMALY GATE: flag events whose cents deviate
    // from their type's mean by more than 1.5 population σ, with the
    // z-test cleared of divisions/sqrt by cross-multiplication in
    // decimal(38,0)/HUGEINT — bit-exact cross-engine (the double
    // z-score is not: Σx² accumulation order changes the low bits).
    // One stats shuffle, then a broadcast probe + map-side flag.
    Q("e_sigma_outliers",
      (s, dir) => EventAnalytics.sigmaOutliers(
          evPoints(s, dir)
            .select(col("event_id"), col("event_type"), col("cents")),
          "event_type", "cents", num = 3, den = 2)
        .select(col("event_id"), col("event_type"), col("cents"),
          col("is_outlier"), col("dev_sign"))
        .orderBy(col("event_id")),
      Some(s"""WITH $evPointsSqlCte,
        |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(cents) AS HUGEINT) AS s,
        |    SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS q
        |  FROM e GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.cents,
        |  4 * (CAST(st.n AS HUGEINT) * CAST(e.cents AS HUGEINT) - st.s)
        |    * (CAST(st.n AS HUGEINT) * CAST(e.cents AS HUGEINT) - st.s)
        |    > 9 * (CAST(st.n AS HUGEINT) * st.q - st.s * st.s) AS is_outlier,
        |  CAST(CASE
        |    WHEN CAST(st.n AS HUGEINT) * CAST(e.cents AS HUGEINT) - st.s > 0 THEN 1
        |    WHEN CAST(st.n AS HUGEINT) * CAST(e.cents AS HUGEINT) - st.s < 0 THEN -1
        |    ELSE 0 END AS BIGINT) AS dev_sign
        |FROM e JOIN st USING (event_type)
        |ORDER BY event_id""".stripMargin)),


    // L83 — INVERTED-INDEX HEAD BLOCKS with delta-gap encoding: per
    // term, document frequency plus the FIRST 32 postings (ascending
    // doc id) as gaps — the bounded-state head block every
    // impact-ordered index keeps hot (Lucene's skip-list first tier);
    // TopKAgg on -doc_id means ≤ 32 pairs per term per map partition
    // cross the shuffle, never a full posting list (hot terms are
    // exactly where collect_list would OOM).
    Q("r_index_head",
      (s, dir) => {
        val topk = udaf(new graft.expr.TopKAgg(32))
        // one row per doc -> per-doc array_distinct IS the (doc, term)
        // distinct; no extra shuffle needed before the aggregate
        val posts = Tables.documents(s, dir)
          .select(col("doc_id"), explode(array_distinct(
            TextOps.tokens(col("text")))).as("term"))
        posts.groupBy(col("term"))
          .agg(count(lit(1)).as("df"), topk(-col("doc_id"), col("doc_id")).as("tk"))
          .filter(col("df") >= 3)
          .withColumn("heads", transform(col("tk"), x => x.getField("id")))
          .withColumn("gaps", transform(col("heads"), (x, i) =>
            when(i === 0, x).otherwise(x - element_at(col("heads"), i))))
          // array_join to a string: the driver's pandas comparator
          // cannot sort/hash raw array cells
          .select(col("term"), col("df"),
            array_join(col("gaps").cast("array<string>"), ",").as("gaps"))
          .orderBy(col("term"))
      },
      Some("""WITH t0 AS (SELECT doc_id,
        |    unnest(list_distinct(list_filter(string_split(text, ' '),
        |      x -> x != ''))) AS term
        |  FROM documents),
        |g AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        |    (list_sort(list(doc_id)))[1:32] AS heads
        |  FROM t0 GROUP BY term),
        |d AS (SELECT term, df,
        |    list_transform(heads, (x, i) -> CASE WHEN i = 1 THEN x
        |      ELSE x - heads[i - 1] END) AS gaps
        |  FROM g WHERE df >= 3)
        |SELECT term, df, array_to_string(gaps, ',') AS gaps
        |FROM d ORDER BY term""".stripMargin)),


    // L87 — MAD ROBUST OUTLIERS: the median/MAD complement of L77 —
    // mean and σ are dragged by the very outliers they hunt; median
    // and MAD have 50% breakdown. Lower median = exact rank selection
    // at (n+1) div 2, gate dev·2 > 9·mad (≈ the 3·1.4826 rule), all
    // integer; two rank passes, 1-row-per-group results broadcast.
    Q("e_mad_outliers",
      (s, dir) => EventAnalytics.madOutliers(
          evPoints(s, dir)
            .select(col("event_id"), col("event_type"), col("cents")),
          "event_type", "cents", num = 9, den = 2)
        .select(col("event_id"), col("event_type"), col("cents"),
          col("med"), col("dev"), col("mad"), col("is_outlier"))
        .orderBy(col("event_id")),
      Some(s"""WITH $evPointsSqlCte,
        |r1 AS (SELECT event_type, cents,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM e),
        |md AS (SELECT event_type, cents AS med FROM r1 WHERE rn = (n + 1) // 2),
        |dv AS (SELECT e.event_id, e.event_type, e.cents, md.med,
        |    abs(e.cents - md.med) AS dev
        |  FROM e JOIN md USING (event_type)),
        |r2 AS (SELECT event_type, dev,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY dev) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM dv),
        |mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT dv.event_id, dv.event_type, dv.cents, dv.med, dv.dev, mad.mad,
        |  dv.dev * 2 > mad.mad * 9 AS is_outlier
        |FROM dv JOIN mad USING (event_type) ORDER BY dv.event_id""".stripMargin)),


    // L88 — MULTI-TOUCH LINEAR ATTRIBUTION: each purchase's cents split
    // EXACTLY across the user's views in the preceding 24 h — base
    // share cents div k, the cents mod k remainder one cent each to
    // the earliest touches (largest-remainder on equal quotas), so
    // credit conserves per conversion bit-for-bit. Interval join
    // carries the user equi key; the rank window partitions on the
    // conversion id.
    Q("e_attribution",
      (s, dir) => {
        val e = evPoints(s, dir)
        EventAnalytics.linearAttribution(
            e.filter(col("event_type") === "view")
              .select(col("user_id"), col("event_id").as("touchId"),
                col("tus")),
            e.filter(col("event_type") === "purchase")
              .select(col("user_id"), col("event_id").as("convId"),
                col("tus"), col("cents")),
            "user_id", windowUs = 86400000000L)
          .select(col("touchId").as("touch_id"), col("user_id"),
            col("n_convs"), col("attributed_cents"))
          .orderBy(col("touch_id"))
      },
      Some(attributionOracleSql)),


    // L89 — CUSUM DRIFT DETECTION (Page 1954), window-exact: the
    // sequential S_i = max(0, S_{i-1} + x_i) recursion closed-form over
    // prefix sums (S_i = P_i − min(0, min_{j≤i} P_j)) — one shuffle,
    // two cumulative windows, no per-key fold; target = the group's
    // lower median (rank-selected, outlier-robust), all integers.
    Q("e_cusum_drift",
      (s, dir) => {
        val e = evPoints(s, dir)
          .select(col("event_id"), col("event_type"), col("tus"),
            col("cents"))
        val med = e.select(col("event_type"), col("cents"))
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("cents")))
            .cast("long"))
          .withColumn("__n", count(lit(1)).over(
            Window.partitionBy(col("event_type"))))
          .filter(col("__rn") === expr("(__n + 1) div 2"))
          .select(col("event_type"), col("cents").as("target"))
        EventAnalytics.cusumDrift(e, med, "event_type", "cents", "tus",
            "event_id", h = 2000000L)
          .select(col("event_id"), col("event_type"), col("cents"),
            col("drift"), col("cusum"), col("alarm"))
          .orderBy(col("event_id"))
      },
      Some(s"""WITH $evPointsSqlCte,
        |r1 AS (SELECT event_type, cents,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM e),
        |md AS (SELECT event_type, cents AS target FROM r1 WHERE rn = (n + 1) // 2),
        |dr AS (SELECT e.event_id, e.event_type, e.tus, e.cents,
        |    e.cents - md.target AS drift FROM e JOIN md USING (event_type)),
        |ps AS (SELECT *, CAST(SUM(drift) OVER w AS BIGINT) AS p FROM dr
        |  WINDOW w AS (PARTITION BY event_type ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |cs AS (SELECT event_id, event_type, cents, drift,
        |    p - least(0, MIN(p) OVER w) AS cusum FROM ps
        |  WINDOW w AS (PARTITION BY event_type ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type, cents, drift,
        |  CAST(cusum AS BIGINT) AS cusum, cusum > 2000000 AS alarm
        |FROM cs ORDER BY event_id""".stripMargin)),


    // L94 — DISORDER PROFILE: per-user arrival-lag max and exact-rank
    // p99 — the measured watermark SLA for §2.10. Arrival order is the
    // event time plus a deterministic md5-derived ingest jitter (≤ 1
    // day), applied identically in both engines.
    Q("e_disorder_profile",
      (s, dir) => {
        val jitter = pmod(conv(substring(md5(col("event_id").cast("string")),
          1, 15), 16, 10).cast("long"), lit(86400000000L))
        EventAnalytics.disorderProfile(
            evPoints(s, dir).select(col("user_id"), col("event_id"),
              col("tus"), (col("tus") + jitter).as("arr")),
            "user_id", "tus", "arr", "event_id")
          .select(col("user_id"), col("n"), col("n_late"),
            col("max_lag_us"), col("p99_lag_us"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH $evPointsSqlCte,
        |a AS (SELECT user_id, event_id, tus,
        |    tus + ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 86400000000 AS arr FROM e),
        |lg AS (SELECT user_id, arr, event_id,
        |    CAST(MAX(tus) OVER (PARTITION BY user_id ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tus AS BIGINT) AS lag
        |  FROM a),
        |r AS (SELECT user_id, lag,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY lag, arr, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n FROM lg),
        |p99 AS (SELECT user_id, lag AS p99_lag_us FROM r WHERE rn = (99 * n + 99) // 100),
        |ag AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN lag > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |    CAST(MAX(lag) AS BIGINT) AS max_lag_us FROM lg GROUP BY user_id)
        |SELECT ag.user_id, ag.n, ag.n_late, ag.max_lag_us, p99.p99_lag_us
        |FROM ag JOIN p99 USING (user_id) ORDER BY ag.user_id""".stripMargin)),

    // L163 — Cohen's kappa between two deterministic "annotators" over
    // the event stream (annotator B disagrees on every 7th event):
    // chance-corrected agreement as ONE exact-integer division —
    // (n*agree - pe_num) / (n^2 - pe_num) with pe_num = sum over
    // classes of the two marginal counts' product.
    Q("e_kappa",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(
          col("event_type").as("a"),
          when(pmod(col("event_id"), lit(7L)) === 0L, lit("disagree"))
            .otherwise(col("event_type")).as("b"))
        EvalOps.cohensKappa(ev, "a", "b")
      },
      Some("""WITH l AS (SELECT event_type AS a,
        |    CASE WHEN event_id % 7 = 0 THEN 'disagree' ELSE event_type END AS b
        |  FROM events),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
        |  FROM l),
        |ca AS (SELECT a AS c, CAST(COUNT(*) AS BIGINT) AS na FROM l GROUP BY a),
        |cb AS (SELECT b AS c, CAST(COUNT(*) AS BIGINT) AS nb FROM l GROUP BY b),
        |pe AS (SELECT CAST(coalesce(SUM(na * nb), 0) AS BIGINT) AS pe_num
        |  FROM ca JOIN cb USING (c))
        |SELECT n, agree, pe_num,
        |  CASE WHEN n * n - pe_num > 0
        |    THEN CAST(n * agree - pe_num AS DOUBLE)
        |      / CAST(n * n - pe_num AS DOUBLE)
        |    ELSE -1.0 END AS kappa
        |FROM tot CROSS JOIN pe""".stripMargin)),

    // L209 — Bradley-Terry preference strengths: consecutive events of
    // a user browse chain become (winner, loser) trials (higher cents
    // wins, ties to the earlier type), reduced once to directed pair
    // counts, then 2 fixed-point MM rounds in e6 floor arithmetic —
    // the reward-model preference aggregate, unrolled to the oracle.
    Q("e_bradley_terry",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tus"), col("event_id"))
        val pr = evPoints(s, dir)
          .select(col("event_type").as("a"), col("cents"),
            lead(col("event_type"), 1).over(w).as("b"),
            lead(col("cents"), 1).over(w).as("bc"))
          .filter(col("b").isNotNull && col("a") =!= col("b"))
        val tr = pr.select(
          when(col("cents") >= col("bc"), col("a")).otherwise(col("b"))
            .as("win"),
          when(col("cents") >= col("bc"), col("b")).otherwise(col("a"))
            .as("lose"))
        EventAnalytics.bradleyTerry(tr, "win", "lose", rounds = 2)
          .orderBy(col("item"))
      },
      Some(s"""WITH $evPointsSqlCte,
        |pr AS (SELECT event_type AS a, cents,
        |    lead(event_type) OVER w2 AS b, lead(cents) OVER w2 AS bc
        |  FROM e WINDOW w2 AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |tr AS (SELECT CASE WHEN cents >= bc THEN a ELSE b END AS w,
        |    CASE WHEN cents >= bc THEN b ELSE a END AS l
        |  FROM pr WHERE b IS NOT NULL AND a <> b),
        |wn AS (SELECT w AS item, CAST(COUNT(*) AS BIGINT) AS wins
        |  FROM tr GROUP BY 1),
        |gd AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |    SELECT w AS i, l AS j FROM tr
        |    UNION ALL SELECT l AS i, w AS j FROM tr) u GROUP BY 1, 2),
        |it AS (SELECT DISTINCT i AS item FROM gd),
        |s0 AS (SELECT item, CAST(1000000 AS BIGINT) AS s FROM it),
        |d1 AS (SELECT gd.i AS item,
        |    SUM((gd.n * 1000000000000) // (si.s + sj.s)) AS d
        |  FROM gd JOIN s0 si ON si.item = gd.i JOIN s0 sj ON sj.item = gd.j
        |  GROUP BY 1),
        |s1 AS (SELECT it.item, greatest(1,
        |    (COALESCE(wn.wins, 0) * 1000000000000) // d1.d) AS s
        |  FROM it JOIN d1 USING (item) LEFT JOIN wn USING (item)),
        |d2 AS (SELECT gd.i AS item,
        |    SUM((gd.n * 1000000000000) // (si.s + sj.s)) AS d
        |  FROM gd JOIN s1 si ON si.item = gd.i JOIN s1 sj ON sj.item = gd.j
        |  GROUP BY 1),
        |s2 AS (SELECT it.item, greatest(1,
        |    (COALESCE(wn.wins, 0) * 1000000000000) // d2.d) AS s
        |  FROM it JOIN d2 USING (item) LEFT JOIN wn USING (item)),
        |gm AS (SELECT i AS item, CAST(SUM(n) AS BIGINT) AS games
        |  FROM gd GROUP BY 1)
        |SELECT it.item, COALESCE(wn.wins, CAST(0 AS BIGINT)) AS wins,
        |  gm.games, CAST(s2.s AS BIGINT) AS s_e6
        |FROM it LEFT JOIN wn USING (item) JOIN gm USING (item)
        |JOIN s2 USING (item) ORDER BY item""".stripMargin)),

    // L210 — Fleiss' kappa over a minted 4-rater panel (120 items:
    // raters 0-2 follow the item's rubric class, rater 3 flips on
    // every 5th item): multi-rater chance-corrected agreement, all
    // components exact e6 integers, kappa one double division.
    Q("e_fleiss_kappa",
      (s, dir) => {
        val base = Tables.documents(s, dir).filter(col("doc_id") < 480L)
          .select(expr("doc_id div 4").as("item"),
            pmod(col("doc_id"), lit(4L)).as("rater"))
          .withColumn("cat",
            when(col("rater") === 3L && pmod(col("item"), lit(5L)) === 0L,
              pmod(pmod(col("item"), lit(3L)) + 1L, lit(3L)))
              .otherwise(pmod(col("item"), lit(3L))))
        EvalOps.fleissKappa(base, "item", "cat")
      },
      Some("""WITH b AS (SELECT doc_id // 4 AS item, doc_id % 4 AS rater,
        |    CASE WHEN doc_id % 4 = 3 AND (doc_id // 4) % 5 = 0
        |      THEN ((doc_id // 4) % 3 + 1) % 3
        |      ELSE (doc_id // 4) % 3 END AS cat
        |  FROM documents WHERE doc_id < 480),
        |ic AS (SELECT item, cat, CAST(COUNT(*) AS BIGINT) AS nik
        |  FROM b GROUP BY 1, 2),
        |pi AS (SELECT item, SUM(nik * nik) AS ssq FROM ic GROUP BY 1),
        |pb AS (SELECT CAST(SUM(((ssq - 4) * 1000000) // 12) // 120 AS BIGINT)
        |    AS p_bar_e6 FROM pi),
        |ck AS (SELECT cat, SUM(nik) AS ckn FROM ic GROUP BY 1),
        |pe AS (SELECT CAST(SUM(share * share) // 1000000 AS BIGINT) AS p_e_e6
        |  FROM (SELECT (ckn * 1000000) // 480 AS share FROM ck) sh)
        |SELECT CAST(120 AS BIGINT) AS n_items, CAST(4 AS BIGINT) AS n_raters,
        |  p_bar_e6, p_e_e6,
        |  CASE WHEN 1000000 - p_e_e6 > 0
        |    THEN CAST(p_bar_e6 - p_e_e6 AS DOUBLE)
        |      / CAST(1000000 - p_e_e6 AS DOUBLE)
        |    ELSE -1.0 END AS kappa
        |FROM pb CROSS JOIN pe""".stripMargin)),

    // L215 — Krippendorff's alpha over a minted VARYING-panel rating
    // set (the case Fleiss rejects): the e_fleiss_kappa panel with
    // rater 3 absent on item%3=0, raters 2-3 absent on item%7=0, and
    // item%11=0 reduced to a single rating (unpairable — exercises the
    // loud n_dropped path). Per-item disagreement e6-floored (the L210
    // discipline), expected disagreement exact from the marginals,
    // alpha one double division.
    Q("e_kripp_alpha",
      (s, dir) => {
        val base = Tables.documents(s, dir).filter(col("doc_id") < 480L)
          .select(expr("doc_id div 4").as("item"),
            pmod(col("doc_id"), lit(4L)).as("rater"))
          .withColumn("cat",
            when(col("rater") === 3L && pmod(col("item"), lit(5L)) === 0L,
              pmod(pmod(col("item"), lit(3L)) + 1L, lit(3L)))
              .otherwise(pmod(col("item"), lit(3L))))
          .filter(!(col("rater") === 3L && pmod(col("item"), lit(3L)) === 0L))
          .filter(!(col("rater") >= 2L && pmod(col("item"), lit(7L)) === 0L))
          .filter(!(col("rater") >= 1L && pmod(col("item"), lit(11L)) === 0L))
        EvalOps.krippendorffAlpha(base, "item", "cat")
      },
      Some("""WITH b AS (SELECT doc_id // 4 AS item, doc_id % 4 AS rater,
        |    CASE WHEN doc_id % 4 = 3 AND (doc_id // 4) % 5 = 0
        |      THEN ((doc_id // 4) % 3 + 1) % 3
        |      ELSE (doc_id // 4) % 3 END AS cat
        |  FROM documents WHERE doc_id < 480),
        |f AS (SELECT * FROM b
        |  WHERE NOT (rater = 3 AND item % 3 = 0)
        |    AND NOT (rater >= 2 AND item % 7 = 0)
        |    AND NOT (rater >= 1 AND item % 11 = 0)),
        |ic AS (SELECT item, cat, CAST(COUNT(*) AS BIGINT) AS nuc
        |  FROM f GROUP BY 1, 2),
        |pi AS (SELECT item, SUM(nuc) AS mu, SUM(nuc * nuc) AS ssq
        |  FROM ic GROUP BY 1),
        |pa AS (SELECT * FROM pi WHERE mu >= 2),
        |dr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_dropped
        |  FROM pi WHERE mu < 2),
        |dn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(mu) AS BIGINT) AS n,
        |    SUM(((mu * mu - ssq) * 1000000) // (mu - 1)) AS p_e6 FROM pa),
        |dd AS (SELECT n_items, n,
        |    CAST(CASE WHEN n > 0 THEN p_e6 // n ELSE 0 END AS BIGINT) AS do_e6
        |  FROM dn),
        |mg AS (SELECT cat, SUM(nuc) AS nc
        |  FROM ic JOIN pa USING (item) GROUP BY 1),
        |de AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_values,
        |    SUM(nc * nc) AS sc2 FROM mg),
        |fin AS (SELECT dd.n_items, dr.n_dropped, de.n_values, dd.do_e6,
        |    CAST(CASE WHEN dd.n > 1
        |      THEN ((dd.n * dd.n - de.sc2) * 1000000) // (dd.n * (dd.n - 1))
        |      ELSE 0 END AS BIGINT) AS de_e6
        |  FROM dd CROSS JOIN de CROSS JOIN dr)
        |SELECT n_items, n_dropped, n_values, do_e6, de_e6,
        |  CASE WHEN de_e6 > 0
        |    THEN CAST(de_e6 - do_e6 AS DOUBLE) / CAST(de_e6 AS DOUBLE)
        |    ELSE -2.0 END AS alpha
        |FROM fin""".stripMargin)),

    // L216 — McNemar's paired-classifier test: two formula-minted
    // correctness streams on the same documents; the statistic reads
    // only the discordant cells — exact integer numerator, one double
    // division.
    Q("e_mcnemar",
      (s, dir) => {
        val base = Tables.documents(s, dir).filter(col("doc_id") < 600L)
          .select((pmod(col("doc_id") * 7L, lit(10L)) < 7L).as("a_ok"),
            (pmod(col("doc_id") * 11L, lit(10L)) < 6L).as("b_ok"))
        EvalOps.mcnemar(base, "a_ok", "b_ok")
      },
      Some(mcnemarOracleSql)),

    // L229 — exact two-sample Kolmogorov–Smirnov statistic between the
    // even- and odd-event cents distributions: D·n_a·n_b is an exact
    // BIGINT over the merged distinct-value domain (step functions
    // change only at sample points — a scan of distinct values is the
    // exact sup, not a grid estimate); the whole-shape drift test next
    // to CUSUM's mean and the sketch's fixed quantiles.
    Q("e_ks_test",
      (s, dir) => {
        val e = evPoints(s, dir)
        EvalOps.ksTest(
          e.filter(pmod(col("event_id"), lit(2L)) === 0L),
          e.filter(pmod(col("event_id"), lit(2L)) === 1L), "cents")
      },
      Some("""WITH e AS (SELECT event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT cents AS v,
        |    CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na_v,
        |    CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nb_v
        |  FROM e GROUP BY 1),
        |t AS (SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
        |    CAST(SUM(nb_v) AS BIGINT) AS n_b FROM m),
        |c AS (SELECT SUM(na_v) OVER w AS ca, SUM(nb_v) OVER w AS cb
        |  FROM m WINDOW w AS (ORDER BY v)),
        |d AS (SELECT CAST(MAX(abs(t.n_b * c.ca - t.n_a * c.cb)) AS BIGINT)
        |    AS d_num FROM c CROSS JOIN t)
        |SELECT t.n_a, t.n_b, d.d_num,
        |  CASE WHEN t.n_a > 0 AND t.n_b > 0
        |    THEN CAST(d.d_num AS DOUBLE) / CAST(t.n_a * t.n_b AS DOUBLE)
        |    ELSE -1.0 END AS ks
        |FROM t CROSS JOIN d""".stripMargin)),

    // L258 — Mann–Whitney U: unpaired two-sample rank-sum over the
    // event-parity split of cents (the KS pair's stochastic-dominance
    // sibling); doubled average ranks + tie term exact, z a fixed
    // three-op IEEE sequence. event_id < 6000 keeps var_num ≤ N⁵/4
    // in exact longs (rank tests run on samples, the L217 posture).
    Q("e_mann_whitney",
      (s, dir) => {
        val e = evPoints(s, dir).filter(col("event_id") < 6000L)
        EvalOps.mannWhitneyU(
          e.filter(pmod(col("event_id"), lit(2L)) === 0L),
          e.filter(pmod(col("event_id"), lit(2L)) === 1L), "cents")
      },
      Some("""WITH e AS (SELECT event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events
        |  WHERE event_id < 6000),
        |m AS (SELECT cents AS v,
        |    CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na_v,
        |    CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nb_v
        |  FROM e GROUP BY 1),
        |r AS (SELECT na_v, nb_v, na_v + nb_v AS t,
        |    (SUM(na_v + nb_v) OVER (ORDER BY v) - (na_v + nb_v)) * 2
        |      + (na_v + nb_v) + 1 AS r2
        |  FROM m),
        |g AS (SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
        |    CAST(SUM(nb_v) AS BIGINT) AS n_b,
        |    CAST(SUM(na_v * r2) AS BIGINT) AS ra_2x,
        |    CAST(SUM(t * t * t - t) AS BIGINT) AS tie_term FROM r),
        |f AS (SELECT n_a, n_b, ra_2x - n_a * (n_a + 1) AS u_a_2x,
        |    tie_term, n_a + n_b AS n FROM g)
        |SELECT n_a, n_b, u_a_2x, tie_term,
        |  u_a_2x - n_a * n_b AS d,
        |  n_a * n_b * (n * n * n - n - tie_term) AS var_num,
        |  3 * n * (n - 1) AS var_den,
        |  CASE WHEN n_a * n_b * (n * n * n - n - tie_term) > 0
        |    THEN CAST(u_a_2x - n_a * n_b AS DOUBLE)
        |      / sqrt(CAST(n_a * n_b * (n * n * n - n - tie_term) AS DOUBLE)
        |        / CAST(3 * n * (n - 1) AS DOUBLE))
        |    ELSE -99.0 END AS z
        |FROM f""".stripMargin)),

    // L259 — chi-square independence + Cramér's V over the
    // (event_type × user_id mod 8) contingency table: per-cell
    // e6-floored exact terms in DECIMAL(38,0)/HUGEINT ((n·o)² passes
    // 2⁶³), V the sqrt of one exact quotient.
    Q("e_cramers_v",
      (s, dir) => EvalOps.cramersV(
        Tables.events(s, dir)
          .select(col("event_type"), pmod(col("user_id"), lit(8L)).as("ub")),
        "event_type", "ub"),
      Some("""WITH ct AS (SELECT event_type AS a,
        |    CAST(user_id % 8 AS VARCHAR) AS b,
        |    CAST(COUNT(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r_i FROM ct GROUP BY 1),
        |cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c_j FROM ct GROUP BY 1),
        |tt2 AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT a) AS BIGINT) AS n_rows_a,
        |    CAST(COUNT(DISTINCT b) AS BIGINT) AS n_cols_b FROM ct),
        |terms AS (SELECT
        |    (CAST(tt2.n AS HUGEINT) * COALESCE(ct.o, 0)
        |      - CAST(ra.r_i AS HUGEINT) * cb.c_j) AS dev,
        |    CAST(tt2.n AS HUGEINT) * ra.r_i * cb.c_j AS den
        |  FROM ra CROSS JOIN cb
        |    LEFT JOIN ct ON ct.a = ra.a AND ct.b = cb.b
        |    CROSS JOIN tt2)
        |SELECT tt2.n, tt2.n_rows_a, tt2.n_cols_b,
        |  (SELECT CAST(SUM((dev * dev * 1000000) // den) AS BIGINT)
        |    FROM terms) AS chisq_e6,
        |  CASE WHEN least(tt2.n_rows_a - 1, tt2.n_cols_b - 1) > 0
        |      AND tt2.n > 0
        |    THEN sqrt(CAST((SELECT SUM((dev * dev * 1000000) // den)
        |        FROM terms) AS DOUBLE)
        |      / CAST(tt2.n * least(tt2.n_rows_a - 1, tt2.n_cols_b - 1)
        |        * 1000000 AS DOUBLE))
        |    ELSE -1.0 END AS v
        |FROM tt2""".stripMargin)),

    // L266 — Kendall's tau-b between value (cents) and event time over
    // a deterministic 1200-row sample: five sign-compared pair buckets
    // (no value arithmetic — magnitudes can't overflow), tau-b as
    // num / sqrt of the product of two exact counts. Exact tau is
    // O(n²) by contract; the sample filter IS the documented posture.
    Q("e_kendall_tau",
      (s, dir) => EvalOps.kendallTau(
        evPoints(s, dir).filter(col("event_id") < 1200L), "cents", "tus"),
      Some("""WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
        |    epoch_us(ts) AS y FROM events WHERE event_id < 1200),
        |r AS (SELECT x, y, row_number() OVER (ORDER BY x, y) AS rid FROM e),
        |p AS (SELECT CASE
        |    WHEN (a.x < b.x AND a.y < b.y) OR (a.x > b.x AND a.y > b.y)
        |      THEN 'c'
        |    WHEN (a.x < b.x AND a.y > b.y) OR (a.x > b.x AND a.y < b.y)
        |      THEN 'd'
        |    WHEN a.x = b.x AND a.y = b.y THEN 'tb'
        |    WHEN a.x = b.x THEN 'tx'
        |    ELSE 'ty' END AS k
        |  FROM r a JOIN r b ON a.rid < b.rid),
        |g AS (SELECT
        |    CAST(COUNT(*) FILTER (k = 'c') AS BIGINT) AS conc,
        |    CAST(COUNT(*) FILTER (k = 'd') AS BIGINT) AS disc,
        |    CAST(COUNT(*) FILTER (k = 'tx') AS BIGINT) AS tie_x,
        |    CAST(COUNT(*) FILTER (k = 'ty') AS BIGINT) AS tie_y,
        |    CAST(COUNT(*) FILTER (k = 'tb') AS BIGINT) AS tie_both,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs FROM p)
        |SELECT n_pairs, conc, disc, tie_x, tie_y, tie_both,
        |  CASE WHEN conc + disc + tie_y > 0 AND conc + disc + tie_x > 0
        |    THEN CAST(conc - disc AS DOUBLE)
        |      / sqrt(CAST((conc + disc + tie_y) * (conc + disc + tie_x)
        |        AS DOUBLE))
        |    ELSE -2.0 END AS tau
        |FROM g""".stripMargin)),

    // L267 — exact OLS linear fit of cents on sequence position over a
    // 4000-row sample: all sums exact, slope/intercept/r each a single
    // division (intercept's numerator in DECIMAL/HUGEINT; deliberately
    // no floored div — truncate-vs-floor diverges on negatives).
    Q("e_linreg",
      (s, dir) => EvalOps.linearFit(
        evPoints(s, dir).filter(col("event_id") < 4000L)
          .select(col("event_id").as("x"), col("cents").as("y")),
        "x", "y"),
      Some("""WITH e AS (SELECT event_id AS x,
        |    CAST(round(value * 100) AS BIGINT) AS y FROM events
        |  WHERE event_id < 4000),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy FROM e),
        |d AS (SELECT n, sx, sy,
        |    n * sxy - sx * sy AS xy_dev,
        |    n * sxx - sx * sx AS xx_dev,
        |    n * syy - sy * sy AS yy_dev FROM g)
        |SELECT n, sx, sy, xy_dev, xx_dev, yy_dev,
        |  CASE WHEN xx_dev > 0
        |    THEN CAST(xy_dev AS DOUBLE) / CAST(xx_dev AS DOUBLE)
        |    ELSE 0.0 END AS slope,
        |  CASE WHEN xx_dev > 0
        |    THEN CAST(CAST(sy AS HUGEINT) * xx_dev
        |        - CAST(xy_dev AS HUGEINT) * sx AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * xx_dev AS DOUBLE)
        |    ELSE 0.0 END AS intercept,
        |  CASE WHEN xx_dev > 0 AND yy_dev > 0
        |    THEN CAST(xy_dev AS DOUBLE)
        |      / (sqrt(CAST(xx_dev AS DOUBLE)) * sqrt(CAST(yy_dev AS DOUBLE)))
        |    ELSE -2.0 END AS r
        |FROM d""".stripMargin)),

    // L269 — Benford first-digit audit over positive cents: e6-floored
    // log10(1+1/d) expected shares as shared literal constants — no
    // log evaluated in either engine; the fabricated-data / unit-mix
    // smoke detector.
    Q("e_benford",
      (s, dir) => EvalOps.benfordAudit(evPoints(s, dir), "cents"),
      Some(benfordOracleSql)),

    // L251 — Gwet's AC1 over a prevalence-skewed two-rater mint
    // (labels 0..2, rater B flips on every 5th doc): the
    // kappa-paradox-robust agreement read — pooled-marginal chance
    // model, exact integer components, one double division.
    Q("e_gwets_ac1",
      (s, dir) => {
        val base = Tables.documents(s, dir).filter(col("doc_id") < 900L)
          .select(col("doc_id"),
            pmod(pmod(col("doc_id"), lit(7L)), lit(3L)).as("a"))
          .withColumn("b",
            when(pmod(col("doc_id"), lit(5L)) === 0L,
              pmod(col("a") + 1L, lit(3L))).otherwise(col("a")))
        EvalOps.gwetsAc1(base, "a", "b", k = 3)
      },
      Some("""WITH b AS (SELECT (doc_id % 7) % 3 AS a,
        |    CASE WHEN doc_id % 5 = 0 THEN ((doc_id % 7) % 3 + 1) % 3
        |      ELSE (doc_id % 7) % 3 END AS bb
        |  FROM documents WHERE doc_id < 900),
        |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN a = bb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_agree FROM b),
        |pl AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS m FROM (
        |    SELECT a AS q FROM b UNION ALL SELECT bb FROM b) u GROUP BY 1),
        |pe AS (SELECT CAST(SUM(m * (2 * tt.n - m)) AS BIGINT) AS pe_num
        |  FROM pl CROSS JOIN tt)
        |SELECT tt.n, CAST(3 AS BIGINT) AS k, tt.n_agree, pe.pe_num,
        |  CAST(4 * tt.n * tt.n * 2 AS BIGINT) AS pe_den,
        |  CASE WHEN tt.n * (4 * tt.n * tt.n * 2 - pe.pe_num) <> 0
        |    THEN CAST(tt.n_agree * 4 * tt.n * tt.n * 2
        |        - tt.n * pe.pe_num AS DOUBLE)
        |      / CAST(tt.n * (4 * tt.n * tt.n * 2 - pe.pe_num) AS DOUBLE)
        |    ELSE -2.0 END AS ac1
        |FROM tt CROSS JOIN pe""".stripMargin)),

    // L245 — quadratic-weighted Cohen's kappa over minted ordinal
    // labels 0..4 (pred slides ±1 on deterministic slices): plain
    // kappa prices "4 vs 3" like "4 vs 0"; the (i−j)² weight charges
    // by distance. Observed and marginal-product sums exact BIGINTs,
    // one double division.
    Q("e_weighted_kappa",
      (s, dir) => {
        val base = Tables.documents(s, dir).filter(col("doc_id") < 1000L)
          .select(col("doc_id"), pmod(col("doc_id"), lit(5L)).as("g"))
          .withColumn("p",
            when(pmod(col("doc_id"), lit(7L)) === 0L,
              least(col("g") + 1L, lit(4L)))
              .when(pmod(col("doc_id"), lit(7L)) === 1L,
                greatest(col("g") - 1L, lit(0L)))
              .otherwise(col("g")))
        EvalOps.weightedKappa(base, "g", "p", k = 5)
      },
      Some("""WITH b AS (SELECT doc_id % 5 AS g,
        |    CASE WHEN doc_id % 7 = 0 THEN LEAST(doc_id % 5 + 1, 4)
        |      WHEN doc_id % 7 = 1 THEN GREATEST(doc_id % 5 - 1, 0)
        |      ELSE doc_id % 5 END AS p
        |  FROM documents WHERE doc_id < 1000),
        |o AS (SELECT g, p, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM b GROUP BY 1, 2),
        |tt AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |    CAST(SUM((g - p) * (g - p) * o) AS BIGINT) AS wo FROM o),
        |ri AS (SELECT g, CAST(SUM(o) AS BIGINT) AS r FROM o GROUP BY 1),
        |cj AS (SELECT p, CAST(SUM(o) AS BIGINT) AS c FROM o GROUP BY 1),
        |ww AS (SELECT CAST(SUM((g - p) * (g - p) * r * c) AS BIGINT) AS we
        |  FROM ri CROSS JOIN cj)
        |SELECT tt.n, CAST(5 AS BIGINT) AS k, tt.wo, ww.we,
        |  CASE WHEN ww.we > 0
        |    THEN CAST(ww.we - tt.n * tt.wo AS DOUBLE) / CAST(ww.we AS DOUBLE)
        |    ELSE -2.0 END AS kappa_w
        |FROM tt CROSS JOIN ww""".stripMargin)),

    // L243 — Wilcoxon signed-rank over paired minted scores (zeros
    // forced on every 17th doc): exact doubled-rank W statistics, the
    // continuous-score paired A/B next to McNemar's binary one; z from
    // an exactly-represented integer under IEEE sqrt.
    Q("e_wilcoxon",
      (s, dir) => {
        val base = Tables.documents(s, dir).filter(col("doc_id") < 2000L)
          .select(pmod(col("doc_id") * 7919L, lit(1000L)).as("x"),
            when(pmod(col("doc_id"), lit(17L)) === 0L,
              pmod(col("doc_id") * 7919L, lit(1000L)))
              .otherwise(pmod(col("doc_id") * 104729L, lit(1000L)))
              .as("y"))
        EvalOps.wilcoxonSignedRank(base, "x", "y")
      },
      Some("""WITH b AS (SELECT (doc_id * 7919) % 1000 AS x,
        |    CASE WHEN doc_id % 17 = 0 THEN (doc_id * 7919) % 1000
        |      ELSE (doc_id * 104729) % 1000 END AS y
        |  FROM documents WHERE doc_id < 2000),
        |d AS (SELECT x - y AS d FROM b),
        |zc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_zero FROM d WHERE d = 0),
        |nz AS (SELECT d, abs(d) AS ad FROM d WHERE d <> 0),
        |r AS (SELECT d, 2 * rank() OVER (ORDER BY ad)
        |    + COUNT(*) OVER (PARTITION BY ad) - 1 AS r2 FROM nz),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT)
        |      AS w_plus_2x,
        |    CAST(SUM(CASE WHEN d < 0 THEN r2 ELSE 0 END) AS BIGINT)
        |      AS w_minus_2x FROM r)
        |SELECT a.n, zc.n_zero, a.w_plus_2x, a.w_minus_2x,
        |  CASE WHEN a.n > 0
        |    THEN CAST(a.w_plus_2x - (a.n * (a.n + 1)) // 2 AS DOUBLE)
        |      / sqrt(CAST((a.n * (a.n + 1) * (2 * a.n + 1)) // 6 AS DOUBLE))
        |    ELSE -99.0 END AS z
        |FROM a CROSS JOIN zc""".stripMargin)),

    // L227 — Matthews correlation coefficient over minted gold/pred
    // streams: the imbalance-honest binary score; exact marginal
    // products, correctly-rounded IEEE sqrt of an exactly-represented
    // integer — identical doubles in both engines.
    Q("e_mcc",
      (s, dir) => {
        val base = Tables.documents(s, dir).filter(col("doc_id") < 600L)
          .select((pmod(col("doc_id"), lit(2L)) === 0L).as("gold"),
            (pmod(col("doc_id") * 3L + 1L, lit(7L)) < 4L).as("pred"))
        EvalOps.mcc(base, "gold", "pred")
      },
      Some("""WITH b AS (SELECT doc_id % 2 = 0 AS g,
        |    (doc_id * 3 + 1) % 7 < 4 AS p
        |  FROM documents WHERE doc_id < 600),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN g AND p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN NOT g AND p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS fp,
        |    CAST(SUM(CASE WHEN g AND NOT p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS fn,
        |    CAST(SUM(CASE WHEN NOT g AND NOT p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tn
        |  FROM b)
        |SELECT n, tp, fp, fn, tn, tp * tn - fp * fn AS mcc_num,
        |  CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) > 0
        |    THEN CAST(tp * tn - fp * fn AS DOUBLE)
        |      / sqrt(CAST((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
        |        AS DOUBLE))
        |    ELSE -2.0 END AS mcc
        |FROM ag""".stripMargin)),

    // L217 — Spearman rank correlation with exact average-rank ties:
    // two bucketed (deliberately tie-heavy) signals over documents;
    // DOUBLED average ranks are exact integers, the Pearson components
    // exact BIGINTs, rho = num / (sqrt(dx)·sqrt(dy)) — IEEE sqrt is
    // correctly rounded so both engines emit the identical double.
    Q("e_spearman",
      (s, dir) => {
        val base = Tables.documents(s, dir).filter(col("doc_id") < 4000L)
          .select(expr("n_chars div 100").as("xv"),
            (pmod(col("doc_id") * 31L, lit(50L))
              + expr("n_chars div 200")).as("yv"))
        EvalOps.spearmanRho(base, "xv", "yv")
      },
      Some("""WITH b AS (SELECT n_chars // 100 AS xv,
        |    (doc_id * 31) % 50 + n_chars // 200 AS yv
        |  FROM documents WHERE doc_id < 4000),
        |r AS (SELECT
        |    2 * rank() OVER (ORDER BY xv) + COUNT(*) OVER (PARTITION BY xv) - 1
        |      AS x,
        |    2 * rank() OVER (ORDER BY yv) + COUNT(*) OVER (PARTITION BY yv) - 1
        |      AS y
        |  FROM b),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy FROM r)
        |SELECT n, CAST(n * sxy - sx * sy AS BIGINT) AS num,
        |  CAST(n * sxx - sx * sx AS BIGINT) AS dx,
        |  CAST(n * syy - sy * sy AS BIGINT) AS dy,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |    ELSE -2.0 END AS rho
        |FROM a""".stripMargin)),

    // L211 — split-conformal threshold + coverage audit per event
    // type: calibration on even event ids, the ceil((n+1)·0.9)-th
    // smallest e6 score is the 90%-coverage gate, AUDITED on the odd
    // half — the distribution-free accept threshold an LLM-scoring
    // pipeline ships.
    Q("e_conformal",
      (s, dir) => {
        val e = evPoints(s, dir)
          .select(col("event_type"), col("event_id"),
            (col("event_id") * 7919L % 1000001L).as("score"))
        val cal = e.filter(pmod(col("event_id"), lit(2L)) === 0L)
        val test = e.filter(pmod(col("event_id"), lit(2L)) === 1L)
        EvalOps.conformalAudit(cal, test, "event_type", "score",
            alphaNum = 1, alphaDen = 10)
          .orderBy(col("group"))
      },
      Some("""WITH e AS (SELECT event_type AS grp, event_id,
        |    (event_id * 7919) % 1000001 AS s FROM events),
        |c AS (SELECT grp, s FROM e WHERE event_id % 2 = 0),
        |t AS (SELECT grp, s FROM e WHERE event_id % 2 = 1),
        |rk AS (SELECT grp, s,
        |    row_number() OVER (PARTITION BY grp ORDER BY s) AS rn,
        |    COUNT(*) OVER (PARTITION BY grp) AS n_cal FROM c),
        |kk AS (SELECT *, ((n_cal + 1) * 9 + 9) // 10 AS k FROM rk),
        |q AS (SELECT grp, CAST(n_cal AS BIGINT) AS n_cal,
        |    CAST(k AS BIGINT) AS k, CAST(s AS BIGINT) AS qhat_e6
        |  FROM kk WHERE rn = k),
        |tc AS (SELECT t.grp, CAST(COUNT(*) AS BIGINT) AS n_test,
        |    CAST(SUM(CASE WHEN t.s <= q.qhat_e6 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_covered
        |  FROM t JOIN q USING (grp) GROUP BY 1)
        |SELECT q.grp AS "group", q.n_cal, q.k, q.qhat_e6,
        |  COALESCE(tc.n_test, CAST(0 AS BIGINT)) AS n_test,
        |  COALESCE(tc.n_covered, CAST(0 AS BIGINT)) AS n_covered,
        |  CAST(CASE WHEN COALESCE(tc.n_test, 0) > 0 AND q.qhat_e6 >= 0
        |    THEN (tc.n_covered * 1000000) // tc.n_test
        |    ELSE -1 END AS BIGINT) AS coverage_e6
        |FROM q LEFT JOIN tc USING (grp) ORDER BY "group"""".stripMargin)),

    // L175 — day-of-week seasonality profile with exact-integer chi^2
    // vs uniform: the ingest-drift detector (a feed whose weekday mix
    // shifts is upstream breakage before volumes move). Weekday from
    // exact epoch arithmetic, never timezone date functions.
    Q("e_dow_profile",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        EventAnalytics.dowProfile(
            ev.withColumn("tus", Tables.tsUs(ev)), "event_type", "tus")
          .orderBy(col("type"))
      },
      Some("""WITH e AS (SELECT event_type AS type,
        |    ((epoch_us(ts) - epoch_us(ts) % 86400000000) // 86400000000 + 4) % 7
        |      AS dow
        |  FROM events),
        |bd AS (SELECT type, dow, CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM e GROUP BY type, dow),
        |ag AS (SELECT type, CAST(SUM(nd) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS n_dows,
        |    CAST(SUM(nd * nd) AS BIGINT) AS ssq
        |  FROM bd GROUP BY type)
        |SELECT type, n, n_dows,
        |  CAST(ssq * 49 - n * n * 7 AS BIGINT) AS chisq_num,
        |  CASE WHEN n > 0
        |    THEN CAST(ssq * 49 - n * n * 7 AS DOUBLE) / CAST(n * 7 AS DOUBLE)
        |    ELSE -1.0 END AS chisq
        |FROM ag ORDER BY type""".stripMargin)),

    // L280 — BENJAMINI–HOCHBERG FDR over a minted per-source p-value
    // table (the multiple-comparisons step after fanning KS/McNemar/
    // chi-square across sources): p_e6 = (id·9973) mod 1000001 gives a
    // near-uniform spread with a planted low-p head (id < 25 scaled
    // down), q = 5%. The oracle replays the step-up rule — max
    // qualifying rank, then reject every rank at or below it — via an
    // independent window mechanism.
    Q("e_fdr_bh",
      (s, dir) => {
        val tests = Tables.documents(s, dir).filter(col("doc_id") < 500)
          .select(col("doc_id").as("test_id"),
            when(col("doc_id") < 25, (col("doc_id") * 9973L) % 40L + 1L)
              .otherwise((col("doc_id") * 9973L) % 1000001L).as("p_e6"))
        EvalOps.bhFdr(tests, "test_id", "p_e6", 50000L)
          .orderBy(col("id"))
      },
      Some("""WITH t AS (SELECT doc_id AS id,
        |    CAST(CASE WHEN doc_id < 25 THEN (doc_id * 9973) % 40 + 1
        |      ELSE (doc_id * 9973) % 1000001 END AS BIGINT) AS p_e6
        |  FROM documents WHERE doc_id < 500),
        |r AS (SELECT id, p_e6,
        |    CAST(ROW_NUMBER() OVER (ORDER BY p_e6, id) AS BIGINT) AS rank,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS m
        |  FROM t),
        |k AS (SELECT COALESCE(MAX(rank) FILTER (p_e6 * m <= rank * 50000),
        |    0) AS k_max FROM r)
        |SELECT id, p_e6, rank, m, rank <= k_max AS reject
        |FROM r CROSS JOIN k ORDER BY id""".stripMargin)),

    // L282 — EXPECTED RECIPROCAL RANK @10 (the cascade-model metric
    // next to nDCG/AP — a satisfying result above hides everything
    // below, so stuffing the top with near-dups is punished): minted
    // 5×10 graded rankings; S·ERR stays exact integer (S = 2520·8¹⁰,
    // the lcm/power ladder — see Retrieval.errAtK) with the no-stop
    // product folded in ONE aggregate HOF; the oracle re-derives the
    // product via a window product() — an independent mechanism — and
    // err is the single division by the shared S literal.
    Q("r_err",
      (s, dir) => {
        val ranked = Tables.documents(s, dir).filter(col("doc_id") < 50)
          .select((col("doc_id") / 10).cast("long").as("query"),
            (col("doc_id") % 10 + 1).cast("long").as("rank"),
            ((col("doc_id") * 7) % 4).cast("long").as("grade"))
        Retrieval.errAtK(ranked, "query", "rank", "grade", k = 10)
          .orderBy(col("query"))
      },
      Some("""WITH g AS (SELECT doc_id // 10 AS query,
        |    doc_id % 10 + 1 AS rank,
        |    (1 << ((doc_id * 7) % 4)) - 1 AS n
        |  FROM documents WHERE doc_id < 50),
        |p AS (SELECT query, rank, n,
        |    CAST(COALESCE(product(8 - n) OVER (PARTITION BY query
        |      ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), 1) AS BIGINT) AS prod
        |  FROM g)
        |SELECT CAST(query AS BIGINT) AS query,
        |  CAST(COUNT(*) AS BIGINT) AS n_ranked,
        |  CAST(SUM((2520 // rank) * (1 << (3 * (10 - rank))) * n * prod)
        |    AS BIGINT) AS err_s,
        |  CAST(SUM((2520 // rank) * (1 << (3 * (10 - rank))) * n * prod)
        |    AS DOUBLE) / 2705829396480.0 AS err
        |FROM p GROUP BY query ORDER BY query""".stripMargin)),

    // L301 — MEAN RECIPROCAL RANK @10: the first-relevant-rank metric
    // (the navigational-query eval next to nDCG/AP/ERR/RBO — "how far
    // down is the answer?"): per query rr_e6 = 10⁶ div first relevant
    // rank (e6-floored, the defined-fold discipline), queries with no
    // relevant result report rr_e6 = 0 explicitly. Same graded mint
    // as r_err with the TREC binary collapse.
    Q("r_mrr",
      (s, dir) => {
        val ranked = Tables.documents(s, dir).filter(col("doc_id") < 50)
          .select((col("doc_id") / 10).cast("long").as("q"),
            (col("doc_id") % 10 + 1).cast("long").as("rank"),
            ((col("doc_id") * 7) % 4).cast("long").as("grade"))
        val queries = ranked.select(col("q")).distinct()
        val firstRel = ranked.filter(col("grade") > 0L)
          .groupBy(col("q")).agg(min(col("rank")).as("first_rel"))
        queries.join(firstRel, Seq("q"), "left")
          .select(col("q"),
            coalesce(col("first_rel"), lit(0L)).as("first_rel"),
            coalesce(expr("1000000L div first_rel"), lit(0L)).as("rr_e6"))
          .orderBy(col("q"))
      },
      Some("""WITH g AS (SELECT doc_id // 10 AS q, doc_id % 10 + 1 AS rank,
        |    (doc_id * 7) % 4 AS grade
        |  FROM documents WHERE doc_id < 50),
        |fr AS (SELECT q, CAST(MIN(rank) AS BIGINT) AS first_rel
        |  FROM g WHERE grade > 0 GROUP BY q)
        |SELECT CAST(g.q AS BIGINT) AS q,
        |  COALESCE(fr.first_rel, 0) AS first_rel,
        |  CAST(COALESCE(1000000 // fr.first_rel, 0) AS BIGINT) AS rr_e6
        |FROM (SELECT DISTINCT q FROM g) g LEFT JOIN fr ON g.q = fr.q
        |ORDER BY q""".stripMargin)),

    // L287 — FRIEDMAN TEST (k-system bake-off over shared blocks, the
    // k>2 sibling of Wilcoxon): minted 300 blocks × 4 systems with a
    // formula score that carries real ties; within-block doubled
    // average ranks keep everything exact, chisq is one division of
    // exact integers. The oracle re-derives the doubled ranks via an
    // independent mechanism (correlated COUNT subqueries per row
    // rather than two window frames).
    Q("e_friedman",
      (s, dir) => {
        val cells = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id"))
          .withColumn("j", explode(sequence(lit(0L), lit(3L))))
          .select(col("doc_id").as("block"), col("j").as("system"),
            ((col("doc_id") * 7 + col("j") * 13 +
              (col("doc_id") + col("j")) * (col("doc_id") + col("j")))
              % 50).as("score"))
        EvalOps.friedman(cells, "block", "system", "score")
      },
      Some("""WITH c AS (SELECT doc_id AS block,
        |    unnest(range(0, 4)) AS system
        |  FROM documents WHERE doc_id < 300),
        |v AS (SELECT block, system,
        |    (block * 7 + system * 13 +
        |      (block + system) * (block + system)) % 50 AS score
        |  FROM c),
        |r AS (SELECT block, system, score,
        |    2 * (SELECT COUNT(*) FROM v v2
        |      WHERE v2.block = v.block AND v2.score < v.score)
        |    + (SELECT COUNT(*) FROM v v3
        |      WHERE v3.block = v.block AND v3.score = v.score) + 1
        |      AS rank2
        |  FROM v),
        |pt AS (SELECT system, CAST(SUM(rank2) AS BIGINT) AS r2 FROM r
        |  GROUP BY system),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(r2 * r2) AS BIGINT) AS sum_r2_sq FROM pt),
        |nb AS (SELECT CAST(COUNT(DISTINCT block) AS BIGINT) AS n_blocks
        |  FROM c)
        |SELECT n_blocks, k, sum_r2_sq,
        |  CAST(3 * sum_r2_sq - 3 * n_blocks * n_blocks * k * (k + 1)
        |    * (k + 1) AS BIGINT) AS chisq_num,
        |  CAST(3 * sum_r2_sq - 3 * n_blocks * n_blocks * k * (k + 1)
        |      * (k + 1) AS DOUBLE)
        |    / CAST(n_blocks * k * (k + 1) AS DOUBLE) AS chisq
        |FROM ag CROSS JOIN nb""".stripMargin)),

    // L288 — COCHRAN'S Q (k binary gates over shared items, the k>2
    // sibling of McNemar): 400 items × 3 gates with formula-driven
    // pass bits; Q is one division of exact integers, unanimous
    // corpora report -1 instead of 0/0. Oracle replays the rollups.
    Q("e_cochran_q",
      (s, dir) => {
        val cells = Tables.documents(s, dir).filter(col("doc_id") < 400)
          .select(col("doc_id"))
          .withColumn("j", explode(sequence(lit(0L), lit(2L))))
          .select(col("doc_id").as("item"), col("j").as("gate"),
            ((col("doc_id") * (col("j") + 3) + col("j")) % 5 < 2)
              .as("pass"))
        EvalOps.cochranQ(cells, "item", "gate", "pass")
      },
      Some("""WITH c AS (SELECT doc_id AS item,
        |    unnest(range(0, 3)) AS gate
        |  FROM documents WHERE doc_id < 400),
        |x AS (SELECT item, gate,
        |    CASE WHEN (item * (gate + 3) + gate) % 5 < 2 THEN 1
        |      ELSE 0 END AS x
        |  FROM c),
        |ri AS (SELECT item, CAST(SUM(x) AS BIGINT) AS ri FROM x
        |  GROUP BY item),
        |ra AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(ri * ri) AS BIGINT) AS sum_ri_sq FROM ri),
        |cj AS (SELECT gate, CAST(SUM(x) AS BIGINT) AS cj FROM x
        |  GROUP BY gate),
        |ca AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(cj) AS BIGINT) AS n_success,
        |    CAST(SUM(cj * cj) AS BIGINT) AS sum_cj_sq FROM cj)
        |SELECT n_items, k, n_success,
        |  CAST((k - 1) * (k * sum_cj_sq - n_success * n_success)
        |    AS BIGINT) AS q_num,
        |  CAST(k * n_success - sum_ri_sq AS BIGINT) AS q_den,
        |  CASE WHEN k * n_success - sum_ri_sq > 0
        |    THEN CAST((k - 1) * (k * sum_cj_sq - n_success * n_success)
        |        AS DOUBLE)
        |      / CAST(k * n_success - sum_ri_sq AS DOUBLE)
        |    ELSE -1.0 END AS q
        |FROM ra CROSS JOIN ca""".stripMargin)),

    // L291 — RANK-BIASED OVERLAP @10 (Webber et al., TOIS 2010): the
    // top-weighted similarity of two rankings — the number an index/
    // ranker migration reports per query before cutover ("how much did
    // the top-10 move?"). With p = 9/10, S·RBO is EXACT integer: an
    // item common to both lists at ranks (ra, rb) contributes the
    // suffix weight W(max(ra,rb)) where w_d = (2520/d)·9^(d−1)·10^(10−d)
    // (lcm + power-ladder, the errAtK discipline) — so the whole
    // metric is one equi-join + one literal lookup + one sum, no
    // per-depth pass. The weight table is GENERATED once in Scala and
    // interpolated verbatim into both engines; rbo is the single
    // division by S = 2520·10¹⁰.
    Q("r_rbo",
      (s, dir) => {
        val base = Tables.documents(s, dir).filter(col("doc_id") < 100)
          .select((col("doc_id") / 10).cast("long").as("q"),
            (col("doc_id") % 10 + 1).cast("long").as("r"))
        val aT = base.select(col("q"), col("r").as("ra"),
          ((col("q") * 7 + col("r") * 7) % 10).as("doc"))
        val bT = base.select(col("q"), col("r").as("rb"),
          ((col("q") * 3 + col("r") * 5) % 12).as("doc"))
        val wArr = array(rboSuffixW.map(lit): _*)
        aT.join(bT, Seq("q", "doc"))
          .withColumn("m", greatest(col("ra"), col("rb")))
          .groupBy(col("q"))
          .agg(count(lit(1)).as("n_common"),
            sum(element_at(wArr, col("m").cast("int"))).as("rbo_s"))
          .withColumn("rbo",
            col("rbo_s").cast("double") / lit(25200000000000.0))
          .orderBy(col("q"))
      },
      Some(s"""WITH b0 AS (SELECT doc_id // 10 AS q, doc_id % 10 + 1 AS r
        |  FROM documents WHERE doc_id < 100),
        |a AS (SELECT q, r AS ra, (q * 7 + r * 7) % 10 AS doc FROM b0),
        |b AS (SELECT q, r AS rb, (q * 3 + r * 5) % 12 AS doc FROM b0),
        |j AS (SELECT a.q AS q, GREATEST(ra, rb) AS m
        |  FROM a JOIN b ON a.q = b.q AND a.doc = b.doc),
        |g AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS n_common,
        |    CAST(SUM(CASE m ${rboSuffixW.zipWithIndex.map {
          case (w, i) => s"WHEN ${i + 1} THEN $w"
        }.mkString(" ")} END) AS BIGINT) AS rbo_s
        |  FROM j GROUP BY q)
        |SELECT CAST(q AS BIGINT) AS q, n_common, rbo_s,
        |  CAST(rbo_s AS DOUBLE) / 25200000000000.0 AS rbo
        |FROM g ORDER BY q""".stripMargin)),

    // L295 — WALD–WOLFOWITZ RUNS TEST on a gate's ordered pass/fail
    // stream: bursty failures have the same RATE as uniform ones —
    // the runs count is what distinguishes them. Minted bits carry
    // genuine clustering (threshold on a slow formula); all components
    // exact, z the identical four-op IEEE tree in both engines.
    Q("e_runs_test",
      (s, dir) => {
        val bits = Tables.documents(s, dir).filter(col("doc_id") < 500)
          .select(col("doc_id"),
            ((col("doc_id") * 37) % 97 < 40).as("pass"))
        EvalOps.runsTest(bits, "doc_id", "pass")
      },
      Some("""WITH b AS (SELECT doc_id AS o,
        |    CASE WHEN (doc_id * 37) % 97 < 40 THEN 1 ELSE 0 END AS bit
        |  FROM documents WHERE doc_id < 500),
        |l AS (SELECT o, bit,
        |    lag(bit) OVER (ORDER BY o) AS prev FROM b),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(bit) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN prev IS NULL OR prev <> bit THEN 1
        |      ELSE 0 END) AS BIGINT) AS runs
        |  FROM l),
        |c AS (SELECT n, n1, n - n1 AS n2, runs,
        |    n * runs - 2 * n1 * (n - n1) - n AS z_num,
        |    2 * n1 * (n - n1) * (2 * n1 * (n - n1) - n) AS var_num,
        |    n * n * (n - 1) AS var_den
        |  FROM a)
        |SELECT n, n1, CAST(n2 AS BIGINT) AS n2, runs,
        |  CAST(z_num AS BIGINT) AS z_num,
        |  CAST(var_num AS BIGINT) AS var_num,
        |  CAST(var_den AS BIGINT) AS var_den,
        |  CASE WHEN var_num > 0
        |    THEN (CAST(z_num AS DOUBLE) / CAST(n AS DOUBLE))
        |      / sqrt(CAST(var_num AS DOUBLE) / CAST(var_den AS DOUBLE))
        |    ELSE 0.0 END AS z
        |FROM c""".stripMargin)),

    // L298 — PAGE'S TREND TEST (the ordered-alternative Friedman):
    // does quality improve MONOTONICALLY across the hypothesized
    // 1..k version order? Minted 300 blocks × 4 versions with a
    // built-in upward trend plus tie-bearing noise; L exact via the
    // shared doubled-rank core, z the identical IEEE tree. The oracle
    // re-derives the ranks via correlated COUNT subqueries.
    Q("e_page_trend",
      (s, dir) => {
        val cells = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id"))
          .withColumn("t", explode(sequence(lit(1L), lit(4L))))
          .select(col("doc_id").as("block"), col("t").as("version"),
            (col("t") * 10 +
              (col("doc_id") * 7 + col("t") * 13) % 15).as("score"))
        EvalOps.pageTrend(cells, "block", "version", "score")
      },
      Some("""WITH c AS (SELECT doc_id AS block,
        |    unnest(range(1, 5)) AS t
        |  FROM documents WHERE doc_id < 300),
        |v AS (SELECT block, t,
        |    t * 10 + (block * 7 + t * 13) % 15 AS score FROM c),
        |r AS (SELECT block, t,
        |    2 * (SELECT COUNT(*) FROM v v2
        |      WHERE v2.block = v.block AND v2.score < v.score)
        |    + (SELECT COUNT(*) FROM v v3
        |      WHERE v3.block = v.block AND v3.score = v.score) + 1
        |      AS rank2
        |  FROM v),
        |pt AS (SELECT t, CAST(SUM(rank2) AS BIGINT) AS r2 FROM r
        |  GROUP BY t),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(t * r2) AS BIGINT) AS l2 FROM pt),
        |nb AS (SELECT CAST(COUNT(DISTINCT block) AS BIGINT) AS n_blocks
        |  FROM c),
        |f AS (SELECT n_blocks, k, l2,
        |    CAST((n_blocks * k * (k + 1) * (k + 1)) // 2 AS BIGINT)
        |      AS mu_l2,
        |    CAST(n_blocks * k * k * (k + 1) * (k * k - 1) AS BIGINT)
        |      AS var_num
        |  FROM ag CROSS JOIN nb)
        |SELECT n_blocks, k, l2, mu_l2, var_num,
        |  CAST(36 AS BIGINT) AS var_den,
        |  CASE WHEN var_num > 0
        |    THEN CAST(l2 - mu_l2 AS DOUBLE)
        |      / sqrt(CAST(var_num AS DOUBLE) / 36.0)
        |    ELSE 0.0 END AS z
        |FROM f""".stripMargin)),

    // L302 — one-way ANOVA over a balanced 3×300 score grid (the
    // parametric sibling of e_friedman): exact integer F components,
    // F = 73-style single division; the fixture bounds keep f_num/f_den
    // inside BIGINT, so the query casts the op's DECIMAL(38,0) ledger
    // down for the comparator.
    Q("e_anova",
      (s, dir) => {
        val cells = Tables.documents(s, dir).filter(col("doc_id") < 498)
          .select(pmod(col("doc_id"), lit(3L)).as("g"),
            ((col("doc_id") * col("doc_id") + lit(5L) * col("doc_id"))
              % 97L).as("v"))
        EvalOps.oneWayAnova(cells, "g", "v")
          .select(col("n"), col("k"), col("f_num").cast("long").as("f_num"),
            col("f_den").cast("long").as("f_den"), col("f"))
      },
      Some("""WITH x AS (SELECT doc_id % 3 AS g,
        |    (doc_id * doc_id + 5 * doc_id) % 97 AS v
        |  FROM documents WHERE doc_id < 498),
        |pg AS (SELECT g, CAST(SUM(v) AS BIGINT) AS tg,
        |    CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(v * v) AS BIGINT) AS sxx_g FROM x GROUP BY g),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(tg) AS BIGINT) AS t,
        |    CAST(SUM(CAST(tg AS HUGEINT) * tg) AS HUGEINT) AS sum_tg_sq,
        |    CAST(SUM(sxx_g) AS BIGINT) AS sxx,
        |    CAST(MIN(ng) AS BIGINT) AS m FROM pg)
        |SELECT CAST(m * k AS BIGINT) AS n, k,
        |  CAST((m * k - k) * (k * sum_tg_sq - CAST(t AS HUGEINT) * t)
        |    AS BIGINT) AS f_num,
        |  CAST((k - 1) * k * (CAST(m AS HUGEINT) * sxx - sum_tg_sq)
        |    AS BIGINT) AS f_den,
        |  CASE WHEN (k - 1) * k * (CAST(m AS HUGEINT) * sxx - sum_tg_sq) > 0
        |    THEN CAST((m * k - k) * (k * sum_tg_sq
        |        - CAST(t AS HUGEINT) * t) AS DOUBLE)
        |      / CAST((k - 1) * k * (CAST(m AS HUGEINT) * sxx - sum_tg_sq)
        |        AS DOUBLE)
        |    ELSE -1.0 END AS f
        |FROM a""".stripMargin)),

    // L303 — Kruskal–Wallis over three UNBALANCED source groups with
    // deliberate ties: doubled global ranks, floored per-group terms
    // (h_s), tie-corrected H as one division; BIGINT-castable at the
    // fixture bounds.
    Q("e_kruskal_wallis",
      (s, dir) => {
        val cells = Tables.documents(s, dir).filter(col("doc_id") < 700)
          .select(
            when(pmod(col("doc_id"), lit(7L)) < 3L, 0L)
              .when(pmod(col("doc_id"), lit(7L)) < 5L, 1L)
              .otherwise(2L).as("g"),
            ((col("doc_id") * 13L) % 50L).as("v"))
        EvalOps.kruskalWallis(cells, "g", "v")
          .select(col("n"), col("k"), col("h_s"), col("tie_term"),
            col("h_num").cast("long").as("h_num"),
            col("h_den").cast("long").as("h_den"), col("h"))
      },
      Some("""WITH x AS (SELECT
        |    CASE WHEN doc_id % 7 < 3 THEN 0
        |      WHEN doc_id % 7 < 5 THEN 1 ELSE 2 END AS g,
        |    (doc_id * 13) % 50 AS v
        |  FROM documents WHERE doc_id < 700),
        |m AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM x GROUP BY v),
        |r AS (SELECT v, t,
        |    (SUM(t) OVER (ORDER BY v) - t) * 2 + t + 1 AS r2 FROM m),
        |gv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM x
        |  GROUP BY g, v),
        |pg AS (SELECT gv.g, CAST(SUM(gv.c * r.r2) AS BIGINT) AS r2g,
        |    CAST(SUM(gv.c) AS BIGINT) AS ng
        |  FROM gv JOIN r ON gv.v = r.v GROUP BY gv.g),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(ng) AS BIGINT) AS n,
        |    CAST(SUM((CAST(r2g AS HUGEINT) * r2g) // ng) AS BIGINT)
        |      AS h_s FROM pg),
        |tt3 AS (SELECT CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT)
        |    AS tie_term FROM m),
        |f AS (SELECT n, k, h_s, tie_term,
        |    (3 * CAST(h_s AS HUGEINT)
        |      - 3 * CAST(n AS HUGEINT) * (n + 1) * (n + 1))
        |      * (CAST(n AS HUGEINT) * n * n - n) AS h_num,
        |    CAST(n AS HUGEINT) * (n + 1)
        |      * (CAST(n AS HUGEINT) * n * n - n - tie_term) AS h_den
        |  FROM agg CROSS JOIN tt3)
        |SELECT n, k, h_s, tie_term,
        |  CAST(h_num AS BIGINT) AS h_num, CAST(h_den AS BIGINT) AS h_den,
        |  CASE WHEN h_den > 0
        |    THEN CAST(h_num AS DOUBLE) / CAST(h_den AS DOUBLE)
        |    ELSE -99.0 END AS h
        |FROM f""".stripMargin)),

    // L304 — Kaplan–Meier survival over formula lifetimes with a 20%
    // censor tier: reverse-cumulative risk sets, e6 integer survival
    // fold; the oracle replays the identical recurrence via a
    // RECURSIVE CTE — an independent mechanism for the same ladder.
    Q("e_kaplan_meier",
      (s, dir) => {
        val obs = Tables.documents(s, dir).filter(col("doc_id") < 500)
          .select((lit(1L) + pmod(col("doc_id"), lit(20L))).as("t"),
            (pmod(col("doc_id"), lit(5L)) =!= 0L).as("e"))
        EvalOps.kaplanMeier(obs, "t", "e")
      },
      Some("""WITH RECURSIVE x AS (SELECT 1 + doc_id % 20 AS t,
        |    CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END AS e
        |  FROM documents WHERE doc_id < 500),
        |bt AS (SELECT t, CAST(SUM(e) AS BIGINT) AS d,
        |    CAST(SUM(1 - e) AS BIGINT) AS c FROM x GROUP BY t),
        |o AS (SELECT t, d, c,
        |    CAST(SUM(d + c) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk,
        |    row_number() OVER (ORDER BY t) AS rn FROM bt),
        |f AS (
        |  SELECT rn, t, n_risk, d, c,
        |    (1000000 * (n_risk - d)) // n_risk AS s
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.rn, o.t, o.n_risk, o.d, o.c,
        |    (f.s * (o.n_risk - o.d)) // o.n_risk
        |  FROM f JOIN o ON o.rn = f.rn + 1)
        |SELECT t, n_risk, d, c, CAST(s AS BIGINT) AS s_e6 FROM f
        |ORDER BY t""".stripMargin)),

    // L305 — Goodman–Kruskal GAMMA: the tie-EXCLUDING ordinal
    // association next to tau-b (L266) — gamma reads only concordant/
    // discordant pairs, the right summary when ties carry no signal
    // (two coarse quality tiers compared across sources). Same exact
    // pair buckets as kendallTau; gamma = (C−D)/(C+D) one division.
    Q("e_gk_gamma",
      (s, dir) => {
        val pairs = EvalOps.kendallTau(
          evPoints(s, dir).filter(col("event_id") >= 1200L &&
            col("event_id") < 2400L), "cents", "tus")
        pairs.select(col("n_pairs"), col("conc"), col("disc"),
          when(col("conc") + col("disc") > 0L,
            (col("conc") - col("disc")).cast("double") /
              (col("conc") + col("disc")).cast("double"))
            .otherwise(lit(-2d)).as("gamma"))
      },
      Some("""WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
        |    epoch_us(ts) AS y FROM events
        |  WHERE event_id >= 1200 AND event_id < 2400),
        |r AS (SELECT x, y, row_number() OVER (ORDER BY x, y) AS rid FROM e),
        |p AS (SELECT CASE
        |    WHEN (a.x < b.x AND a.y < b.y) OR (a.x > b.x AND a.y > b.y)
        |      THEN 'c'
        |    WHEN (a.x < b.x AND a.y > b.y) OR (a.x > b.x AND a.y < b.y)
        |      THEN 'd'
        |    ELSE 't' END AS k
        |  FROM r a JOIN r b ON a.rid < b.rid),
        |g AS (SELECT
        |    CAST(COUNT(*) FILTER (k = 'c') AS BIGINT) AS conc,
        |    CAST(COUNT(*) FILTER (k = 'd') AS BIGINT) AS disc,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs FROM p)
        |SELECT n_pairs, conc, disc,
        |  CASE WHEN conc + disc > 0
        |    THEN CAST(conc - disc AS DOUBLE) / CAST(conc + disc AS DOUBLE)
        |    ELSE -2.0 END AS gamma
        |FROM g""".stripMargin)),

    // L319 — WELCH'S T between even/odd event cents: exact moments,
    // variances-over-n as single divisions, t the fixed five-op IEEE
    // tree (the L258 z discipline); no pooled-variance assumption.
    Q("e_welch_t",
      (s, dir) => {
        val e = evPoints(s, dir).filter(col("event_id") >= 2400L &&
          col("event_id") < 4800L)
        EvalOps.welchT(
          e.filter(pmod(col("event_id"), lit(2L)) === 0L),
          e.filter(pmod(col("event_id"), lit(2L)) === 1L), "cents")
      },
      Some("""WITH e AS (SELECT event_id,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE event_id >= 2400 AND event_id < 4800),
        |sa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a,
        |    CAST(SUM(v) AS BIGINT) AS sum_a,
        |    CAST(SUM(v * v) AS BIGINT) AS sxx_a FROM e
        |  WHERE event_id % 2 = 0),
        |sb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b,
        |    CAST(SUM(v) AS BIGINT) AS sum_b,
        |    CAST(SUM(v * v) AS BIGINT) AS sxx_b FROM e
        |  WHERE event_id % 2 = 1),
        |f AS (SELECT n_a, n_b, sum_a, sum_b,
        |    n_a * sxx_a - sum_a * sum_a AS va_num,
        |    n_b * sxx_b - sum_b * sum_b AS vb_num,
        |    n_a * n_a * (n_a - 1) AS va_den,
        |    n_b * n_b * (n_b - 1) AS vb_den
        |  FROM sa CROSS JOIN sb)
        |SELECT n_a, n_b, sum_a, sum_b, va_num, vb_num, va_den, vb_den,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND (va_num > 0 OR vb_num > 0)
        |    THEN (CAST(sum_a * n_b - sum_b * n_a AS DOUBLE)
        |        / CAST(n_a * n_b AS DOUBLE))
        |      / sqrt(CAST(va_num AS DOUBLE) / CAST(va_den AS DOUBLE)
        |        + CAST(vb_num AS DOUBLE) / CAST(vb_den AS DOUBLE))
        |    ELSE -99.0 END AS t
        |FROM f""".stripMargin)),

    // L325 — DETERMINISTIC BOOTSTRAP CI of the mean |cents| over a
    // 2000-row sample: 200 replicates drawn through public md5 (the
    // Feistel stance on resampling — reproducible across engines and
    // restarts), exact e6 replicate means, CI = the 5th/196th order
    // statistics. The oracle replays the identical draws.
    Q("e_bootstrap_ci",
      (s, dir) => EvalOps.bootstrapMeanCI(
        evPoints(s, dir).filter(col("event_id") < 2000L)
          .select(col("event_id"), abs(col("cents")).as("av")),
        "event_id", "av", b = 200, loIdx = 5, hiIdx = 196),
      Some("""WITH e AS (SELECT event_id AS i,
        |    abs(CAST(round(value * 100) AS BIGINT)) AS v FROM events
        |  WHERE event_id < 2000),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
        |d AS (SELECT r.b AS rep,
        |    CAST(('0x' || substr(md5(CAST(r.b AS VARCHAR) || '_'
        |      || CAST(e.i AS VARCHAR)), 1, 15)) AS BIGINT) % nn.n AS draw
        |  FROM e, range(200) r(b), nn),
        |m AS (SELECT d.rep,
        |    CAST((1000000 * SUM(e2.v)) // MAX(nn2.n) AS BIGINT)
        |      AS rep_mean_e6
        |  FROM d JOIN e e2 ON e2.i = d.draw CROSS JOIN nn nn2
        |  GROUP BY d.rep),
        |rk AS (SELECT rep_mean_e6,
        |    row_number() OVER (ORDER BY rep_mean_e6, rep) AS r FROM m),
        |ov AS (SELECT MAX(nn.n) AS n,
        |    CAST((1000000 * SUM(v)) // MAX(nn.n) AS BIGINT) AS mean_e6
        |  FROM e CROSS JOIN nn)
        |SELECT ov.n, CAST(200 AS BIGINT) AS b, ov.mean_e6,
        |  (SELECT rep_mean_e6 FROM rk WHERE r = 5) AS lo_e6,
        |  (SELECT rep_mean_e6 FROM rk WHERE r = 196) AS hi_e6
        |FROM ov""".stripMargin)),

    // L327 — JONCKHEERE–TERPSTRA over three ordered document groups
    // with a planted upward trend: doubled J exact from per-group
    // value-count tables, untied variance, z the fixed IEEE tree —
    // the unpaired sibling of e_page_trend.
    Q("e_jonckheere",
      (s, dir) => {
        val base = Tables.documents(s, dir).filter(col("doc_id") < 600)
          .select((lit(1L) + pmod(col("doc_id"), lit(3L))).as("g"),
            (((col("doc_id") * 11L) % 40L) +
              (lit(1L) + pmod(col("doc_id"), lit(3L))) * 3L).as("v"))
        EvalOps.jonckheereTerpstra(base, "g", "v")
      },
      Some("""WITH x AS (SELECT 1 + doc_id % 3 AS g,
        |    (doc_id * 11) % 40 + (1 + doc_id % 3) * 3 AS v
        |  FROM documents WHERE doc_id < 600),
        |vc AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM x
        |  GROUP BY g, v),
        |sz AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng FROM vc GROUP BY g),
        |gt AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(ng) AS BIGINT) AS n,
        |    CAST(SUM(ng * ng) AS BIGINT) AS sum_ng_sq,
        |    CAST(SUM(ng * ng * (2 * ng + 3)) AS BIGINT) AS sum_ng_var
        |  FROM sz),
        |jj AS (SELECT CAST(COALESCE(SUM(CASE
        |      WHEN a.v < b.v THEN 2 * a.c * b.c
        |      WHEN a.v = b.v THEN a.c * b.c ELSE 0 END), 0) AS BIGINT)
        |    AS j2
        |  FROM vc a JOIN vc b ON a.g < b.g)
        |SELECT gt.n, gt.k, jj.j2,
        |  CAST((gt.n * gt.n - gt.sum_ng_sq) // 2 AS BIGINT) AS mu2,
        |  CAST(gt.n * gt.n * (2 * gt.n + 3) - gt.sum_ng_var AS BIGINT)
        |    AS var_num,
        |  CASE WHEN gt.n * gt.n * (2 * gt.n + 3) - gt.sum_ng_var > 0
        |    THEN (CAST(jj.j2 - (gt.n * gt.n - gt.sum_ng_sq) // 2
        |        AS DOUBLE) / 2.0)
        |      / sqrt(CAST(gt.n * gt.n * (2 * gt.n + 3) - gt.sum_ng_var
        |        AS DOUBLE) / 72.0)
        |    ELSE 0.0 END AS z
        |FROM gt CROSS JOIN jj""".stripMargin)),

    // L328 — CLIFF'S DELTA effect size from the Mann–Whitney
    // components (δ = 2U/(n_a·n_b) − 1): the magnitude next to the
    // L258 significance — a huge corpus makes ANY difference
    // significant; delta says whether it matters. Romano et al.
    // thresholds as shared literals.
    Q("e_cliffs_delta",
      (s, dir) => {
        val e = evPoints(s, dir).filter(col("event_id") >= 4800L &&
          col("event_id") < 6000L)
        val u = EvalOps.mannWhitneyU(
          e.filter(pmod(col("event_id"), lit(2L)) === 0L),
          e.filter(pmod(col("event_id"), lit(2L)) === 1L), "cents")
        u.select(col("n_a"), col("n_b"), col("u_a_2x"),
            (col("u_a_2x").cast("double") /
              (col("n_a") * col("n_b")).cast("double") - lit(1.0))
              .as("delta"))
          .withColumn("magnitude",
            when(abs(col("delta")) < 0.147, "negligible")
              .when(abs(col("delta")) < 0.33, "small")
              .when(abs(col("delta")) < 0.474, "medium")
              .otherwise("large"))
      },
      Some("""WITH e AS (SELECT event_id,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE event_id >= 4800 AND event_id < 6000),
        |m AS (SELECT v,
        |    CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na_v,
        |    CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nb_v
        |  FROM e GROUP BY 1),
        |r AS (SELECT na_v, nb_v,
        |    (SUM(na_v + nb_v) OVER (ORDER BY v) - (na_v + nb_v)) * 2
        |      + (na_v + nb_v) + 1 AS r2
        |  FROM m),
        |g AS (SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
        |    CAST(SUM(nb_v) AS BIGINT) AS n_b,
        |    CAST(SUM(na_v * r2) AS BIGINT) AS ra_2x FROM r),
        |f AS (SELECT n_a, n_b,
        |    ra_2x - n_a * (n_a + 1) AS u_a_2x FROM g),
        |d AS (SELECT n_a, n_b, u_a_2x,
        |    CAST(u_a_2x AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) - 1.0
        |      AS delta FROM f)
        |SELECT n_a, n_b, u_a_2x, delta,
        |  CASE WHEN abs(delta) < 0.147 THEN 'negligible'
        |    WHEN abs(delta) < 0.33 THEN 'small'
        |    WHEN abs(delta) < 0.474 THEN 'medium'
        |    ELSE 'large' END AS magnitude
        |FROM d""".stripMargin))
  )

  /** RBO@10 suffix weights W(m) = Σ_{d=m..10} (2520/d)·9^(d−1)·10^(10−d)
    * — exact longs, shared verbatim with the SQL mirror (p = 9/10;
    * 2520 = lcm(1..10) makes every 2520/d integral).
    */
  private lazy val rboSuffixW: Seq[Long] = {
    val w = (1 to 10).map { d =>
      var p9 = 1L; var p10 = 1L
      (1 until d).foreach(_ => p9 *= 9L)
      (d until 10).foreach(_ => p10 *= 10L)
      (2520L / d) * p9 * p10
    }
    (1 to 10).map(m => w.drop(m - 1).sum)
  }
}
