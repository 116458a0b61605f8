package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.GraftFunctions.{cdc, winnow84}
import graft.ops.{Curation, Dedup, EventAnalytics, GraphOps, MLlibOps, Multimodal, Retrieval, SegmentAlgebra, SegmentOps, Similarity, TextOps}
import graft.QuerySupport._

/** Deduplication family: exact/near-dup candidate generation,
  * verification, components, canonicalization (SURVEY §2.11).
  */
private[graft] object QueriesDedup {

  def entries: Seq[Q] = Seq(

    // Dedup — winnowing-fingerprint pairing (the MOSS copy-detection
    // stage): docs sharing >= 10 discriminative fingerprints (document
    // frequency <= 50 — over-common fingerprints are boilerplate AND the
    // quadratic hazard; here the cap genuinely binds, max df is ~1300).
    Q("dedup_winnow",
      (s, dir) => {
        Dedup.winnowPairs(
            Tables.documents(s, dir)
              .select(col("doc_id"), explode(winnow84(col("text"))).as("fp")),
            "doc_id", minShared = 10L, maxDocFreq = 50L)
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH c AS (SELECT doc_id,
        |  lower(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS canon FROM documents),
        |g AS (SELECT doc_id, CASE WHEN strlen(canon) >= 8
        |    THEN list_transform(range(0, strlen(canon) - 8 + 1), i -> md5(substr(canon, CAST(i + 1 AS INTEGER), 8)))
        |    ELSE [] END AS grams FROM c),
        |f AS (SELECT doc_id, unnest(CASE WHEN len(grams) >= 4
        |    THEN list_distinct(list_transform(range(0, len(grams) - 4 + 1),
        |      j -> list_min(grams[CAST(j + 1 AS INTEGER):CAST(j + 4 AS INTEGER)])))
        |    WHEN len(grams) > 0 THEN [list_min(grams)] ELSE [] END) AS fp FROM g),
        |d AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= 50),
        |r AS (SELECT f.doc_id, f.fp FROM f JOIN d ON d.fp = f.fp),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared
        |  FROM r x JOIN r y ON x.fp = y.fp AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT a, b, n_shared FROM p WHERE n_shared >= 10 ORDER BY a, b""".stripMargin)),


    // Dedup — CONTENT-DEFINED CHUNKING (rsync/LBFS family): a rolling
    // polynomial hash cuts chunk boundaries wherever hash % 64 == 0,
    // so boundaries depend only on local content and an edit re-chunks
    // at most its own window — shifted/partially-edited documents
    // still share every untouched chunk (fixed-size chunking shares
    // none). One fused codegen Expression (O(1) rolling update per
    // char); the oracle recomputes each boundary from the equivalent
    // per-window Σ c_j·B^(k−1−j) mod M in exact integers. Output: the
    // cross-document shared-chunk table (the dedup signal).
    Q("dedup_cdc_chunks",
      (s, dir) => {
        Tables.documents(s, dir)
          .select(col("doc_id"), explode(cdc(col("text"))).as("chunk"))
          .groupBy(md5(col("chunk")).as("chunk_fp"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"),
            min(length(col("chunk"))).cast("long").as("clen"))
          .filter(col("n_docs") > 1L)
          .orderBy(col("chunk_fp"))
      },
      Some("""WITH c AS (SELECT doc_id,
        |  lower(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS canon FROM documents),
        |b AS (SELECT doc_id, canon, CAST(strlen(canon) AS BIGINT) AS n
        |  FROM c WHERE strlen(canon) > 0),
        |k AS (SELECT doc_id, canon, n,
        |  CASE WHEN n >= 8 THEN list_filter(range(8, n + 1), e ->
        |    (((ord(substr(canon, CAST(e - 7 AS INTEGER), 1)) * 531575
        |      + ord(substr(canon, CAST(e - 6 AS INTEGER), 1)) * 501020
        |      + ord(substr(canon, CAST(e - 5 AS INTEGER), 1)) * 629067
        |      + ord(substr(canon, CAST(e - 4 AS INTEGER), 1)) * 923521
        |      + ord(substr(canon, CAST(e - 3 AS INTEGER), 1)) * 29791
        |      + ord(substr(canon, CAST(e - 2 AS INTEGER), 1)) * 961
        |      + ord(substr(canon, CAST(e - 1 AS INTEGER), 1)) * 31
        |      + ord(substr(canon, CAST(e AS INTEGER), 1))) % 1000003) % 64) = 0)
        |  ELSE [] END AS cuts FROM b),
        |ch AS (SELECT doc_id,
        |  CASE WHEN n < 8 THEN [canon]
        |  ELSE list_filter(list_transform(range(0, len(cuts) + 1), i ->
        |    substr(canon,
        |      CAST((CASE WHEN i = 0 THEN 0 ELSE cuts[CAST(i AS INTEGER)] END) + 1 AS INTEGER),
        |      CAST((CASE WHEN i = CAST(len(cuts) AS BIGINT) THEN n
        |            ELSE cuts[CAST(i + 1 AS INTEGER)] END)
        |        - (CASE WHEN i = 0 THEN 0 ELSE cuts[CAST(i AS INTEGER)] END) AS INTEGER))),
        |    x -> strlen(x) > 0) END AS chunks FROM k),
        |u AS (SELECT doc_id, unnest(chunks) AS chunk FROM ch)
        |SELECT md5(chunk) AS chunk_fp, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  COUNT(*) AS n_occ, CAST(MIN(strlen(chunk)) AS BIGINT) AS clen
        |FROM u GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1 ORDER BY 1""".stripMargin)),


    // Dedup — exact (prefix) fingerprint groups; md5 over normalized text
    // head catches head-identical near-dups as exact groups.
    Q("dedup_exact",
      (s, dir) => Dedup.exactGroups(
          Tables.documents(s, dir).select(col("doc_id"),
            TextOps.fingerprint(col("text"), 200).as("fp")),
          "doc_id", "fp")
        .select(col("fp"), col("n_dups"), col("canonical"))
        .orderBy(col("fp")),
      Some("""SELECT fp, COUNT(*) AS n_dups, MIN(doc_id) AS canonical FROM (
        |  SELECT doc_id, md5(substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 200)) AS fp
        |  FROM documents) t
        |GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp""".stripMargin)),


    // Dedup — exhaustive word-3-gram Jaccard pairs: candidates share a
    // rare shingle (document-frequency cap 50 bounds hot-shingle fan-out
    // at scale; a no-op on this corpus, max df = 25), then exact verify
    // over ALL shingles — reported Jaccard values are uncapped.
    Q("dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairsFrom(
          sessionPairCommons(s, dir), 0.8)
        .orderBy(col("a"), col("b")),
      Some(s"""WITH $shingleSqlCte,
        |fq AS (SELECT shingle FROM (SELECT shingle, COUNT(*) AS df FROM sd GROUP BY shingle) t
        |  WHERE df <= 50),
        |rs AS (SELECT sd.doc_id, sd.shingle FROM sd JOIN fq ON fq.shingle = sd.shingle),
        |cand AS (SELECT DISTINCT sa.doc_id AS a, sb.doc_id AS b
        |  FROM rs sa JOIN rs sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id),
        |co AS (SELECT t.a, t.b, COUNT(*) AS common FROM (
        |    SELECT c.a, c.b, x.shingle FROM cand c
        |    JOIN sd x ON x.doc_id = c.a
        |    JOIN sd y ON y.doc_id = c.b AND y.shingle = x.shingle) t
        |  GROUP BY t.a, t.b),
        |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sd GROUP BY doc_id),
        |j AS (SELECT co.a, co.b, co.common,
        |  CAST(co.common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - co.common AS DOUBLE) AS jaccard
        |  FROM co JOIN n na ON na.doc_id = co.a JOIN n nb ON nb.doc_id = co.b)
        |SELECT a, b, common, jaccard FROM j WHERE jaccard >= 0.8 ORDER BY a, b""".stripMargin)),


    // L101 — DEDUP THRESHOLD SENSITIVITY CURVE: pair yield at five
    // Jaccard thresholds from ONE commons pass (the candidate stage is
    // threshold-independent); gates integer cross-multiplied, unpivot
    // via stack. The tuning artifact every dedup rollout reads first.
    Q("dedup_threshold_curve",
      (s, dir) => Dedup.thresholdCurveFrom(
          sessionPairCommons(s, dir),
          Seq((5, 10), (6, 10), (7, 10), (8, 10), (9, 10)))
        .orderBy(col("t_permille")),
      Some(s"""WITH $shingleSqlCte,
        |fq AS (SELECT shingle FROM (SELECT shingle, COUNT(*) AS df FROM sd GROUP BY shingle) t
        |  WHERE df <= 50),
        |rs AS (SELECT sd.doc_id, sd.shingle FROM sd JOIN fq ON fq.shingle = sd.shingle),
        |cand AS (SELECT DISTINCT sa.doc_id AS a, sb.doc_id AS b
        |  FROM rs sa JOIN rs sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id),
        |co AS (SELECT t.a, t.b, COUNT(*) AS common FROM (
        |    SELECT c.a, c.b, x.shingle FROM cand c
        |    JOIN sd x ON x.doc_id = c.a
        |    JOIN sd y ON y.doc_id = c.b AND y.shingle = x.shingle) t
        |  GROUP BY t.a, t.b),
        |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sd GROUP BY doc_id),
        |j AS (SELECT co.common, na.n_sh AS na, nb.n_sh AS nb
        |  FROM co JOIN n na ON na.doc_id = co.a JOIN n nb ON nb.doc_id = co.b),
        |th(t_permille, num, den) AS (VALUES (500, 5, 10), (600, 6, 10),
        |  (700, 7, 10), (800, 8, 10), (900, 9, 10))
        |SELECT CAST(th.t_permille AS BIGINT) AS t_permille,
        |  CAST(SUM(CASE WHEN j.common IS NOT NULL
        |    AND j.common * th.den >= th.num * (j.na + j.nb - j.common)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
        |FROM th LEFT JOIN j ON TRUE
        |GROUP BY th.t_permille ORDER BY t_permille""".stripMargin)),


    // L104 — LSH RECALL AUDIT: the first question a production dedup
    // asks — is the banded index missing pairs? Exhaustive rare-shingle
    // pairs at J ≥ 0.5 are ground truth; the 8-band MinHash pairs are
    // the candidate path; the query reports both counts, the overlap,
    // and the recall fraction on a documented bounded slice
    // (doc_id < 1500, cf. the minhash_mllib slice). A recall printed per
    // corpus beats the (1−J)^bands formula assumed per paper.
    Q("dedup_lsh_recall",
      (s, dir) => {
        // truth side: exhaustive rare-shingle pairs over the SLICE's own
        // shingle table — its df≤50 cap counts over the slice, so it is
        // NOT derivable from any full-corpus pair relation and is
        // computed here (the audit is the query). The slice's shingle
        // table itself is exactly the session table's restriction, since
        // shingling is per document.
        val sd = sessionShingles(s, dir).filter(col("doc_id") < 1500)
        val truth = Dedup.ngramJaccardPairs(sd, "doc_id", 0.5,
          maxShingleDocFreq = 50L).select(col("a"), col("b")).cache()
        truth.count() // eager: feeds n_true AND the overlap join
        // LSH side: band signatures are per-doc and the exact-Jaccard
        // verify is per-pair, so the slice's LSH pairs are EXACTLY the
        // session's staged full-corpus pair graph restricted to both
        // endpoints < 1500 (the cascade's set-restriction commutation) —
        // a scan + filter instead of a second signature+verify pipeline
        // (the former thread-pool overlap of the two pipelines is moot
        // now that this side is a few-ms read).
        val lsh = sessionMinhashPairs(s, dir)
          .filter(col("a") < 1500L && col("b") < 1500L)
          .select(col("a"), col("b")).cache()
        lsh.count() // eager: feeds n_lsh AND the overlap join
        truth.agg(count(lit(1)).as("n_true"))
          .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
          .crossJoin(truth.join(lsh, Seq("a", "b"))
            .agg(count(lit(1)).as("n_common")))
          // zero-guard: with no true pairs Spark's x/0 = NaN but
          // DuckDB's is NULL — agree on NULL in the degenerate case
          .select(col("n_true"), col("n_lsh"), col("n_common"),
            when(col("n_true") === 0L, lit(null).cast("double"))
              .otherwise(col("n_common").cast("double")
                / col("n_true").cast("double")).as("recall"))
      },
      Some(s"""WITH $shingleSqlCte,
        |sds AS (SELECT * FROM sd WHERE doc_id < 1500),
        |fq AS (SELECT shingle FROM (SELECT shingle, COUNT(*) AS df FROM sds GROUP BY shingle) t
        |  WHERE df <= 50),
        |rs AS (SELECT sds.doc_id, sds.shingle FROM sds JOIN fq ON fq.shingle = sds.shingle),
        |cand AS (SELECT DISTINCT sa.doc_id AS a, sb.doc_id AS b
        |  FROM rs sa JOIN rs sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id),
        |co AS (SELECT t.a, t.b, COUNT(*) AS common FROM (
        |    SELECT c.a, c.b, x.shingle FROM cand c
        |    JOIN sds x ON x.doc_id = c.a
        |    JOIN sds y ON y.doc_id = c.b AND y.shingle = x.shingle) t
        |  GROUP BY t.a, t.b),
        |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sds GROUP BY doc_id),
        |truth AS (SELECT co.a, co.b FROM co
        |  JOIN n na ON na.doc_id = co.a JOIN n nb ON nb.doc_id = co.b
        |  WHERE CAST(co.common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - co.common AS DOUBLE) >= 0.5),
        |mh AS (SELECT doc_id, r.band AS band,
        |  MIN(('0x' || substr(md5(shingle) || md5(shingle), CAST(r.band*4+1 AS INTEGER), 15))::BIGINT) AS sig
        |  FROM sds, range(8) r(band) GROUP BY doc_id, r.band),
        |cand2 AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM mh x JOIN mh y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |co2 AS (SELECT t.a, t.b, COUNT(*) AS common FROM (
        |    SELECT c.a, c.b, x.shingle FROM cand2 c
        |    JOIN sds x ON x.doc_id = c.a
        |    JOIN sds y ON y.doc_id = c.b AND y.shingle = x.shingle) t
        |  GROUP BY t.a, t.b),
        |lsh AS (SELECT co2.a, co2.b FROM co2
        |  JOIN n na ON na.doc_id = co2.a JOIN n nb ON nb.doc_id = co2.b
        |  WHERE CAST(co2.common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - co2.common AS DOUBLE) >= 0.5),
        |ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth),
        |cl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh FROM lsh),
        |cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM truth t JOIN lsh l ON t.a = l.a AND t.b = l.b)
        |SELECT ct.n_true, cl.n_lsh, cc.n_common,
        |  CAST(cc.n_common AS DOUBLE) / CAST(NULLIF(ct.n_true, 0) AS DOUBLE)
        |    AS recall
        |FROM ct, cl, cc""".stripMargin)),


    // Dedup — MinHash+LSH: 8 band-min signatures, bucket-join candidates,
    // exact-Jaccard verify (the 100 TB dedup path).
    Q("dedup_minhash_lsh",
      (s, dir) => sessionMinhashPairs(s, dir)
        .orderBy(col("a"), col("b")),
      Some(s"""WITH $shingleSqlCte,
        |mh AS (SELECT doc_id, r.band AS band,
        |  MIN(('0x' || substr(md5(shingle) || md5(shingle), CAST(r.band*4+1 AS INTEGER), 15))::BIGINT) AS sig
        |  FROM sd, range(8) r(band) GROUP BY doc_id, r.band),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM mh x JOIN mh y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |co AS (SELECT t.a, t.b, COUNT(*) AS common FROM (
        |    SELECT c.a, c.b, x.shingle FROM cand c
        |    JOIN sd x ON x.doc_id = c.a
        |    JOIN sd y ON y.doc_id = c.b AND y.shingle = x.shingle) t
        |  GROUP BY t.a, t.b),
        |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sd GROUP BY doc_id),
        |j AS (SELECT co.a, co.b, co.common,
        |  CAST(co.common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - co.common AS DOUBLE) AS jaccard
        |  FROM co JOIN n na ON na.doc_id = co.a JOIN n nb ON nb.doc_id = co.b)
        |SELECT a, b, common, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin)),


    // Dedup — 16-bit SimHash signatures + Hamming-distance pairs. The
    // Spark side generates candidates with the pigeonhole band join
    // (recall 1 by construction, no cross join); the oracle's brute-force
    // formulation is therefore the same result set.
    Q("dedup_simhash",
      (s, dir) => Dedup.simhashPairs(
          TextOps.simhash16(
            sessionShingles(s, dir),
            "doc_id"),
          "doc_id", 1)
        .orderBy(col("a"), col("b")),
      Some(s"""WITH $shingleSqlCte,
        |bits AS (SELECT doc_id, r.band AS b,
        |  substr(md5(shingle), CAST(r.band + 1 AS INTEGER), 1) IN ('1','3','5','7','9','b','d','f') AS odd
        |  FROM sd, range(16) r(band)),
        |v AS (SELECT doc_id, b, CAST(SUM(CASE WHEN odd THEN 1 ELSE -1 END) AS BIGINT) AS v
        |  FROM bits GROUP BY doc_id, b),
        |sh AS (SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM v GROUP BY doc_id)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
        |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 1 ORDER BY a, b""".stripMargin)),


    // Dedup — exact duplicated-substring spans (L29, the suffix-array
    // dedup of Lee et al. 2022 re-expressed as k-gram seeds + diagonal
    // merge; recall 1 for shared runs of >= 10 tokens by construction).
    Q("dedup_substring",
      (s, dir) => Dedup.substringDupSpans(
          Tables.documents(s, dir), "doc_id", "text", 10)
        .orderBy(col("a"), col("b"), col("a_start"), col("b_start")),
      Some(s"""WITH $toksSqlCte,
        |tt AS (SELECT doc_id, unnest(range(len(toks) - 9)) AS i FROM d WHERE len(toks) >= 10),
        |g AS (SELECT t.doc_id, CAST(t.i AS BIGINT) AS pos,
        |    array_to_string(d.toks[CAST(t.i + 1 AS INTEGER):CAST(t.i + 10 AS INTEGER)], ' ') AS gram
        |  FROM tt t JOIN d ON d.doc_id = t.doc_id),
        |m AS (SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, y.pos AS pb
        |  FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id),
        |runs AS (SELECT a, b, pa - pb AS diag, pa,
        |  pa - ROW_NUMBER() OVER (PARTITION BY a, b, pa - pb ORDER BY pa) AS grp FROM m)
        |SELECT a, b, MIN(pa) AS a_start, CAST(MIN(pa) - diag AS BIGINT) AS b_start,
        |  CAST(COUNT(*) + 9 AS BIGINT) AS span_len
        |FROM runs GROUP BY a, b, diag, grp
        |ORDER BY a, b, a_start, b_start""".stripMargin)),


    // L29 ∘ A4 — per-doc duplicated-token fraction (the Lee et al. 2022
    // headline metric): union the substring spans each doc participates
    // in (both orientations) with the exact IntervalUnionAgg, divide by
    // the doc's token count. One extra shuffle over the span table.
    Q("dedup_substring_stats",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val spans = Dedup.substringDupSpans(docs, "doc_id", "text", 10)
        // one pass over spans: explode each pair row to its two
        // endpoint intervals instead of a unionAll of two reads of the
        // span pipeline (the seed join + diagonal window ran twice)
        val ivs = spans.select(explode(array(
            struct(col("a").as("doc_id"), col("a_start").as("s"),
              (col("a_start") + col("span_len")).as("e")),
            struct(col("b").as("doc_id"), col("b_start").as("s"),
              (col("b_start") + col("span_len")).as("e")))).as("iv"))
          .select(col("iv.doc_id").as("doc_id"), col("iv.s").as("s"),
            col("iv.e").as("e"))
        val unionLen = udaf(new graft.expr.IntervalUnionAgg())
        docs.select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
          .join(ivs.groupBy(col("doc_id"))
              .agg(unionLen(col("s"), col("e")).as("dup_toks")),
            Seq("doc_id"))
          .withColumn("dup_frac",
            col("dup_toks").cast("double") / col("n_toks").cast("double"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksSqlCte,
        |tt AS (SELECT doc_id, unnest(range(len(toks) - 9)) AS i FROM d WHERE len(toks) >= 10),
        |g AS (SELECT t.doc_id, CAST(t.i AS BIGINT) AS pos,
        |    array_to_string(d.toks[CAST(t.i + 1 AS INTEGER):CAST(t.i + 10 AS INTEGER)], ' ') AS gram
        |  FROM tt t JOIN d ON d.doc_id = t.doc_id),
        |m AS (SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, y.pos AS pb
        |  FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id),
        |runs AS (SELECT a, b, pa - pb AS diag, pa,
        |  pa - ROW_NUMBER() OVER (PARTITION BY a, b, pa - pb ORDER BY pa) AS grp FROM m),
        |spans AS (SELECT a, b, diag, MIN(pa) AS a_start,
        |  CAST(COUNT(*) + 9 AS BIGINT) AS span_len
        |  FROM runs GROUP BY a, b, diag, grp),
        |iv AS (SELECT a AS doc_id, a_start AS s, a_start + span_len AS e FROM spans
        |  UNION ALL SELECT b, a_start - diag, a_start - diag + span_len FROM spans),
        |ev AS (SELECT doc_id, s AS t, CAST(1 AS BIGINT) AS delta FROM iv
        |  UNION ALL SELECT doc_id, e AS t, CAST(-1 AS BIGINT) AS delta FROM iv),
        |c AS (SELECT doc_id, t, delta,
        |  CAST(SUM(delta) OVER w AS BIGINT) AS n_active, lead(t) OVER w AS next_t
        |  FROM ev WINDOW w AS (PARTITION BY doc_id ORDER BY t, delta
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |u AS (SELECT doc_id, CAST(SUM(next_t - t) AS BIGINT) AS dup_toks
        |  FROM c WHERE n_active > 0 AND next_t > t GROUP BY doc_id),
        |n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM d)
        |SELECT u.doc_id, n.n_toks, u.dup_toks,
        |  CAST(u.dup_toks AS DOUBLE) / CAST(n.n_toks AS DOUBLE) AS dup_frac
        |FROM u JOIN n ON n.doc_id = u.doc_id ORDER BY u.doc_id""".stripMargin)),


    // L135 — SPAN SURGERY: the end product of substring dedup (the Lee
    // et al. 2022 pipeline CUTS the duplicated spans): every token
    // position a doc contributes as the LATER (b) side of a span pair
    // is removed — first occurrence keeps its text — and the cleaned
    // document is rebuilt as the canonical single-space token join.
    // Overlap needs no pre-merge: removal is the set union of covered
    // positions, decided per token by an exists() HOF over the doc's
    // own collected span list (no range join).
    Q("dedup_span_surgery",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.removeDupSpans(docs,
            Dedup.substringDupSpans(docs, "doc_id", "text", 10),
            "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksSqlCte,
        |tt AS (SELECT doc_id, unnest(range(len(toks) - 9)) AS i FROM d WHERE len(toks) >= 10),
        |g AS (SELECT t.doc_id, CAST(t.i AS BIGINT) AS pos,
        |    array_to_string(d.toks[CAST(t.i + 1 AS INTEGER):CAST(t.i + 10 AS INTEGER)], ' ') AS gram
        |  FROM tt t JOIN d ON d.doc_id = t.doc_id),
        |m AS (SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, y.pos AS pb
        |  FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id),
        |runs AS (SELECT a, b, pa - pb AS diag, pa,
        |  pa - ROW_NUMBER() OVER (PARTITION BY a, b, pa - pb ORDER BY pa) AS grp FROM m),
        |sp AS (SELECT b AS doc_id, CAST(MIN(pa) - diag AS BIGINT) AS s,
        |  CAST(MIN(pa) - diag + COUNT(*) + 9 AS BIGINT) AS e
        |  FROM runs GROUP BY a, b, diag, grp),
        |tp AS (SELECT doc_id, unnest(range(len(toks))) AS i FROM d),
        |tk AS (SELECT t.doc_id, CAST(t.i AS BIGINT) AS pos,
        |    d.toks[CAST(t.i + 1 AS INTEGER)] AS tok
        |  FROM tp t JOIN d ON d.doc_id = t.doc_id),
        |rm AS (SELECT DISTINCT tk.doc_id, tk.pos FROM tk
        |  JOIN sp ON sp.doc_id = tk.doc_id AND tk.pos >= sp.s AND tk.pos < sp.e),
        |keep AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tk
        |  LEFT JOIN rm ON rm.doc_id = tk.doc_id AND rm.pos = tk.pos
        |  WHERE rm.pos IS NULL),
        |res AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  string_agg(tok, ' ' ORDER BY pos) AS clean_text FROM keep GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_toks,
        |  CAST(len(d.toks) AS BIGINT) - COALESCE(res.n_kept, 0) AS n_removed,
        |  COALESCE(res.clean_text, '') AS clean_text
        |FROM d LEFT JOIN res ON res.doc_id = d.doc_id ORDER BY d.doc_id""".stripMargin)),


    // Dedup — embedding-cosine near-dups on integer-quantized vectors
    // (exact longs: summation-order-free, bit-identical across engines).
    // The all-pairs kernel is the VERIFY BASELINE, registered on a
    // bounded slice (vec_id < 1500) like the MLlib integration flavors —
    // the full-corpus production paths are dedup_embedding_lsh (SRP
    // bands) and dedup_embedding_ivf (cells); no registered query runs
    // an unbounded cartesian (PlanSpec enforces this).
    Q("dedup_embedding_cosine",
      (s, dir) => Similarity.nearDupPairs(
          Similarity.quantize(
            Tables.embeddings(s, dir).filter(col("vec_id") < 1500),
            "vec_id", "embedding"),
          "vec_id", 0.45)
        .orderBy(col("a"), col("b")),
      Some(s"""WITH $quantSqlCte,
        |p AS (SELECT a.vec_id AS a, b.vec_id AS b, unnest(a.qv) AS av, unnest(b.qv) AS bv
        |  FROM q a, q b WHERE a.vec_id < b.vec_id AND a.vec_id < 1500 AND b.vec_id < 1500),
        |dt AS (SELECT a, b, CAST(SUM(av*bv) AS BIGINT) AS dot FROM p GROUP BY a, b),
        |sc AS (SELECT a, b, dot,
        |  CAST(dot AS DOUBLE)/(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |  FROM dt JOIN nm na ON na.vec_id = a JOIN nm nb ON nb.vec_id = b)
        |SELECT a, b, dot, cos FROM sc WHERE cos >= 0.45 ORDER BY a, b""".stripMargin)),


    // Dedup — deterministic SRP-LSH band candidates + exact verify, the
    // 100 TB embedding-dedup composition. Both stages (fixed-seed ±1
    // projections, integer dots, band join, cosine verify) are mirrored
    // verbatim in the oracle, so the check is exact regardless of the
    // LSH recall curve.
    Q("dedup_embedding_lsh",
      (s, dir) => Similarity.srpNearDupPairs(
          Tables.embeddings(s, dir), "vec_id", "embedding", 0.45, dim = 64)
        .orderBy(col("a"), col("b")),
      Some(s"""WITH $quantSqlCte,
        |$srpSqlCte,
        |vd AS (SELECT c.a, c.b,
        |  CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qb.qv[i])) AS BIGINT) AS dot
        |  FROM scand c JOIN q qa ON qa.vec_id = c.a JOIN q qb ON qb.vec_id = c.b),
        |sc AS (SELECT a, b, dot,
        |  CAST(dot AS DOUBLE)/(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |  FROM vd JOIN nm na ON na.vec_id = a JOIN nm nb ON nb.vec_id = b)
        |SELECT a, b, dot, cos FROM sc WHERE cos >= 0.45 ORDER BY a, b""".stripMargin)),


    // Dedup — MLlib MinHash-LSH candidates + exact set-Jaccard verify
    // over the true shingle table. True near-dups here sit at Jaccard
    // ≥ 0.8, so 6 seeded hash tables give per-pair candidate miss
    // ≤ 0.2^6; the oracle is the exhaustive shared-shingle formulation.
    // Dedup — IVF-style ANN: nearest-centroid cell assignment (argmax
    // cosine against the 16 deterministic seed vectors), same-cell
    // candidate pairs, exact verify. The inverted-file shape: candidate
    // volume is sum of squared cell sizes, not n²; the oracle mirrors
    // the cell assignment relationally.
    Q("dedup_embedding_ivf",
      (s, dir) => sessionIvfPairs(s, dir)
        .orderBy(col("a"), col("b")),
      Some(s"""WITH $quantSqlCte,
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
        |  sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS snorm
        |  FROM q WHERE vec_id < 16),
        |scored AS (SELECT q.vec_id, s.seed_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*s.sv[i])) AS BIGINT) AS DOUBLE)
        |    / s.snorm AS score
        |  FROM q CROSS JOIN seeds s),
        |cells AS (SELECT vec_id, seed_id AS cell FROM (
        |  SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, seed_id) AS rn FROM scored) t WHERE rn = 1),
        |cand AS (SELECT x.vec_id AS a, y.vec_id AS b FROM cells x
        |  JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id),
        |vd AS (SELECT c.a, c.b,
        |  CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qb.qv[i])) AS BIGINT) AS dot
        |  FROM cand c JOIN q qa ON qa.vec_id = c.a JOIN q qb ON qb.vec_id = c.b),
        |sc AS (SELECT a, b, dot,
        |  CAST(dot AS DOUBLE)/(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |  FROM vd JOIN nm na ON na.vec_id = a JOIN nm nb ON nb.vec_id = b)
        |SELECT a, b, dot, cos FROM sc WHERE cos >= 0.45 ORDER BY a, b""".stripMargin)),


    // Secondary integration flavor on a bounded slice (doc_id < 2500) —
    // see sim_ann_lsh; dedup_minhash_lsh is the full-corpus primary.
    Q("dedup_minhash_mllib",
      (s, dir) => MLlibOps.minhashVerifiedNearDups(
          Tables.documents(s, dir).filter(col("doc_id") < 2500),
          "doc_id", "text", 3, 0.5)
        .orderBy(col("a"), col("b")),
      Some(s"""WITH $shingleSqlCte,
        |cand AS (SELECT DISTINCT sa.doc_id AS a, sb.doc_id AS b
        |  FROM sd sa JOIN sd sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
        |  WHERE sa.doc_id < 2500 AND sb.doc_id < 2500),
        |co AS (SELECT t.a, t.b, COUNT(*) AS common FROM (
        |    SELECT c.a, c.b, x.shingle FROM cand c
        |    JOIN sd x ON x.doc_id = c.a
        |    JOIN sd y ON y.doc_id = c.b AND y.shingle = x.shingle) t
        |  GROUP BY t.a, t.b),
        |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sd GROUP BY doc_id),
        |j AS (SELECT co.a, co.b, co.common,
        |  CAST(co.common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - co.common AS DOUBLE) AS jaccard
        |  FROM co JOIN n na ON na.doc_id = co.a JOIN n nb ON nb.doc_id = co.b)
        |SELECT a, b, common, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin)),


    // The production dedup CASCADE — exact canonical → MinHash+LSH text
    // near-dups → SRP-LSH embedding near-dups, each stage over the
    // previous stage's survivors (Dedup.cascadeSurvivors). The oracle
    // exploits that every drop rule is PAIRWISE (signatures/distances
    // depend only on the two docs), so candidate+verify pair tables can
    // be computed over the full corpus and filtered to survivors —
    // set restriction commutes with each stage.
    Q("dedup_cascade",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // Stage 2 reuses the session's staged full-corpus 8-band J≥0.5
        // pair graph (same shingleN/bands/threshold) restricted to
        // stage-1 survivors — the pairwise set-restriction commutation
        // the op documents and the oracle itself uses; re-shingling +
        // re-pairing the survivor corpus was the query's dominant cost
        Dedup.cascadeSurvivors(
            docs,
            Tables.embeddings(s, dir)
              .select(col("vec_id").as("doc_id"), col("embedding")),
            "doc_id", fpPrefixLen = 200, shingleN = 3, bands = 8,
            minJaccard = 0.5, minCos = 0.45, dim = 64,
            fullNearPairs = Some(sessionMinhashPairs(s, dir)))
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $shingleSqlCte,
        |fpt AS (SELECT doc_id, md5(substr(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), 1, 200)) AS fp
        |  FROM documents),
        |s1 AS (SELECT doc_id FROM (SELECT doc_id,
        |  row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fpt) t WHERE rn = 1),
        |mh AS (SELECT doc_id, r.band AS band,
        |  MIN(('0x' || substr(md5(shingle) || md5(shingle), CAST(r.band*4+1 AS INTEGER), 15))::BIGINT) AS sig
        |  FROM sd, range(8) r(band) GROUP BY doc_id, r.band),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM mh x JOIN mh y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |co AS (SELECT t.a, t.b, COUNT(*) AS common FROM (
        |    SELECT c.a, c.b, x.shingle FROM cand c
        |    JOIN sd x ON x.doc_id = c.a
        |    JOIN sd y ON y.doc_id = c.b AND y.shingle = x.shingle) t
        |  GROUP BY t.a, t.b),
        |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sd GROUP BY doc_id),
        |jp AS (SELECT co.a, co.b FROM co
        |  JOIN n na ON na.doc_id = co.a JOIN n nb ON nb.doc_id = co.b
        |  WHERE CAST(co.common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - co.common AS DOUBLE) >= 0.5),
        |s2 AS (SELECT doc_id FROM s1 WHERE doc_id NOT IN (
        |  SELECT j.b FROM jp j JOIN s1 a1 ON a1.doc_id = j.a JOIN s1 b1 ON b1.doc_id = j.b)),
        |$quantSqlCte,
        |$srpSqlCte,
        |vp AS (SELECT c.a, c.b FROM scand c
        |  JOIN q qa ON qa.vec_id = c.a JOIN q qb ON qb.vec_id = c.b
        |  JOIN nm na ON na.vec_id = c.a JOIN nm nb ON nb.vec_id = c.b
        |  WHERE CAST(CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qb.qv[i])) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) >= 0.45),
        |s3 AS (SELECT doc_id FROM s2 WHERE doc_id NOT IN (
        |  SELECT v.b FROM vp v JOIN s2 a2 ON a2.doc_id = v.a JOIN s2 b2 ON b2.doc_id = v.b))
        |SELECT s3.doc_id AS doc_id, dd.lang AS lang
        |FROM s3 JOIN documents dd ON dd.doc_id = s3.doc_id
        |ORDER BY doc_id""".stripMargin)),


    // L-series — connected components over the MinHash near-dup pair
    // graph (alternating large-star/small-star, O(log² n) rounds): every
    // doc labeled with its component's minimum doc_id plus the cluster
    // size. The oracle computes min-reachable-id with a recursive CTE —
    // exactly the component minimum, since reachability over symmetric
    // edges enumerates the whole component.
    Q("dedup_components",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val cc = sessionCcLabels(s, dir)
        val lbl = docs.select(col("doc_id"))
          .join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"))
        val sizes = lbl.groupBy(col("component"))
          .agg(count(lit(1)).as("cluster_size"))
        lbl.join(sizes, "component")
          .select(col("doc_id"), col("component"), col("cluster_size"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $nearDupCcSqlCtes,
        |sz AS (SELECT component, COUNT(*) AS cluster_size FROM lbl GROUP BY component)
        |SELECT l.doc_id, l.component, s.cluster_size
        |FROM lbl l JOIN sz s ON s.component = l.component
        |ORDER BY l.doc_id""".stripMargin)),


    // L116 — LABEL-PROPAGATION cluster refinement over the SAME
    // near-dup pair graph (the sessionMinhashPairs memo): where L19's
    // connected components transitively glue everything a chain
    // touches, LPA votes — majority neighbor label, ties to the
    // smallest, two synchronous iterations — the standard chain-breaker
    // between LSH candidates and canonical selection. Oracle reuses the
    // shared pair-graph CTEs up to `e` and unrolls both iterations.
    Q("dedup_lpa",
      (s, dir) => {
        val lpa = GraphOps.labelPropagation(
          sessionMinhashPairs(s, dir), "a", "b", iters = 2)
        val sizes = lpa.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
        lpa.join(sizes, "lbl")
          .select(col("node").as("doc_id"), col("lbl").as("lpa_label"),
            col("cluster_size"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $nearDupCcSqlCtes,
        |l0 AS (SELECT DISTINCT u AS node FROM e),
        |c1 AS (SELECT e.u AS node, l.node AS lbl, COUNT(*) AS cnt
        |  FROM e JOIN l0 l ON l.node = e.v GROUP BY 1, 2),
        |l1 AS (SELECT node, lbl FROM (SELECT node, lbl, row_number() OVER (
        |    PARTITION BY node ORDER BY cnt DESC, lbl) AS rn FROM c1) WHERE rn = 1),
        |c2 AS (SELECT e.u AS node, l.lbl AS lbl, COUNT(*) AS cnt
        |  FROM e JOIN l1 l ON l.node = e.v GROUP BY 1, 2),
        |l2 AS (SELECT node, lbl FROM (SELECT node, lbl, row_number() OVER (
        |    PARTITION BY node ORDER BY cnt DESC, lbl) AS rn FROM c2) WHERE rn = 1),
        |sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM l2 GROUP BY 1)
        |SELECT l2.node AS doc_id, l2.lbl AS lpa_label, sz.cluster_size
        |FROM l2 JOIN sz USING (lbl) ORDER BY doc_id""".stripMargin)),


    // L97 — PREFIX-FILTERING similarity join (PPJoin candidate rule):
    // shingles sorted by one global rarest-first order; a Jaccard ≥ 0.8
    // pair must collide inside each other's (n − ceil(0.8n) + 1)-token
    // prefix — recall 1 by theorem, candidates far tighter than
    // "shares any rare token"; exact verify restores precision. Same
    // output contract as dedup_ngram_jaccard (OpsSpec asserts result
    // equality with the uncapped Jaccard path).
    Q("dedup_ppjoin",
      (s, dir) => Dedup.prefixFilterPairs(
          sessionShingles(s, dir),
          "doc_id", tNum = 4, tDen = 5)
        .orderBy(col("a"), col("b")),
      Some(s"""WITH $shingleSqlCte,
        |f AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sd GROUP BY shingle),
        |k AS (SELECT sd.doc_id, printf('%012d', f.df) || '|' || sd.shingle AS key
        |  FROM sd JOIN f USING (shingle)),
        |arr AS (SELECT doc_id, list_sort(list(key)) AS ks,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM k GROUP BY doc_id),
        |pre AS (SELECT doc_id, unnest(ks[1 : CAST(n - (4*n + 4)//5 + 1 AS INTEGER)]) AS key
        |  FROM arr),
        |cand AS (SELECT DISTINCT pa.doc_id AS a, pb.doc_id AS b
        |  FROM pre pa JOIN pre pb ON pa.key = pb.key AND pa.doc_id < pb.doc_id),
        |co AS (SELECT t.a, t.b, COUNT(*) AS common FROM (
        |    SELECT c.a, c.b, x.shingle FROM cand c
        |    JOIN sd x ON x.doc_id = c.a
        |    JOIN sd y ON y.doc_id = c.b AND y.shingle = x.shingle) t
        |  GROUP BY t.a, t.b),
        |n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sd GROUP BY doc_id)
        |SELECT co.a, co.b, CAST(co.common AS BIGINT) AS common,
        |  CAST(co.common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - co.common AS DOUBLE) AS jaccard
        |FROM co JOIN n na ON na.doc_id = co.a JOIN n nb ON nb.doc_id = co.b
        |WHERE CAST(co.common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - co.common AS DOUBLE) >= 0.8
        |ORDER BY a, b""".stripMargin)),


    // L100 — CROSS-SOURCE DUPLICATION FLOW: which sources copy which —
    // for every near-dup component spanning ≥2 sources, count the
    // (source, source) pairs it links; a hot (A, B) cell means A
    // scrapes/mirrors B and one of them should be down-weighted before
    // training. Per-component distinct source lists are tiny, so the
    // pair explosion is |sources-per-component|² — bounded — and the
    // rollup is one hash agg on the (sa, sb) cell.
    Q("dedup_source_flow",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val cc = sessionCcLabels(s, dir)
        val cs = docs.select(col("doc_id"), col("source")).join(cc, "doc_id")
          .select(col("component"), col("source")).distinct()
        cs.as("x").join(cs.as("y"), Seq("component"))
          .filter(col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
          .agg(countDistinct(col("component")).as("n_components"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(s"""WITH RECURSIVE $nearDupCcSqlCtes,
        |multi AS (SELECT component FROM lbl GROUP BY component HAVING COUNT(*) > 1),
        |cs AS (SELECT DISTINCT l.component, d.source
        |  FROM lbl l JOIN multi m ON m.component = l.component
        |  JOIN documents d ON d.doc_id = l.doc_id)
        |SELECT x.source AS src_a, y.source AS src_b,
        |  CAST(COUNT(DISTINCT x.component) AS BIGINT) AS n_components
        |FROM cs x JOIN cs y ON x.component = y.component AND x.source < y.source
        |GROUP BY x.source, y.source ORDER BY src_a, src_b""".stripMargin)),


    // L99 — BEST-QUALITY CANONICAL per near-dup component: production
    // dedup keeps the best COPY, not the smallest id — per component,
    // canonical = argmax quality (tie: min doc_id) via one window over
    // the component partition; is_kept marks survivors. Composes L-CC
    // labels with the quality signal.
    Q("dedup_canonical_best",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val cc = sessionCcLabels(s, dir)
        val lbl = docs.select(col("doc_id"), col("n_chars"))
          .join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chars"),
            coalesce(col("component"), col("doc_id")).as("component"))
        // argmax by order-insensitive struct-min (a windowed first() over
        // an unordered partition would be row-order-dependent)
        val cano = lbl.groupBy(col("component"))
          .agg(min(struct((lit(0L) - col("n_chars")).as("nq"),
            col("doc_id").as("id"))).as("m"))
          .select(col("component"), col("m.id").as("canonical"))
        lbl.join(cano, "component")
          .select(col("doc_id"), col("component"), col("n_chars"),
            col("canonical"), (col("doc_id") === col("canonical")).as("is_kept"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $nearDupCcSqlCtes,
        |lq AS (SELECT l.doc_id, l.component, d.n_chars
        |  FROM lbl l JOIN documents d USING (doc_id)),
        |cn AS (SELECT component, doc_id AS canonical FROM (
        |    SELECT component, doc_id, row_number() OVER (
        |      PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rn
        |    FROM lq) t WHERE rn = 1)
        |SELECT lq.doc_id, lq.component, lq.n_chars, cn.canonical,
        |  lq.doc_id = cn.canonical AS is_kept
        |FROM lq JOIN cn USING (component) ORDER BY lq.doc_id""".stripMargin)),


    // L95 — INCREMENTAL connected components: the previous run's labels
    // are a star edge set (member—center, center = component min), so
    // folding a day's new pairs into them via CC over [stars ∪ delta]
    // reproduces full-history CC labels at O(|labels| + |delta|) cost —
    // the oracle runs the full-graph recursive-CTE CC and must agree on
    // every doc. "Old" = pairs among doc_id % 4 != 1 (the seen corpus),
    // "new" = pairs touching a % 4 == 1 doc.
    Q("dedup_components_incr",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = sessionMinhashPairs(s, dir)
          .select(col("a"), col("b"))
        val isNew = (c: org.apache.spark.sql.Column) =>
          pmod(c, lit(4L)) === 1L
        val oldLbl = Dedup.connectedComponents(
          pairs.where(not(isNew(col("a"))) && not(isNew(col("b")))), "a", "b")
        val merged = Dedup.incrementalComponents(
          oldLbl.withColumnRenamed("id", "doc_id"),
          pairs.where(isNew(col("a")) || isNew(col("b"))), "doc_id")
        docs.select(col("doc_id"))
          .join(merged.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $nearDupCcSqlCtes
        |SELECT doc_id, component FROM lbl ORDER BY doc_id""".stripMargin)),


    // L-series — INCREMENTAL dedup: the batch-arrival shape. Docs with
    // doc_id % 4 == 1 are the "new" batch; the rest are the seen corpus
    // whose signatures stand in for a persisted index. New signatures
    // probe seen ∪ new — seen–seen pairs are never generated, so the
    // per-batch cost is O(|new| · collisions) regardless of corpus size.
    // The oracle computes full-corpus signatures and applies the same
    // probe-side restriction.
    Q("dedup_incremental",
      (s, dir) => {
        // band signatures are per-doc, so the seen/new signature tables
        // are filters of the session-staged full-corpus signature table
        // — the two per-query signature aggregations disappear; the
        // band probe and the exact verify stay the query's own work
        val sigs = sessionMinhashSigs(s, dir)
        Dedup.incrementalNearDupsFromSigs(
            sigs.where(col("doc_id") % 4 =!= 1),
            sigs.where(col("doc_id") % 4 === 1),
            sessionShingles(s, dir), "doc_id", 0.5)
          .orderBy(col("new_id"), col("match_id"))
      },
      Some(s"""WITH $shingleSqlCte,
        |mh AS (SELECT doc_id, r.band AS band,
        |  MIN(('0x' || substr(md5(shingle) || md5(shingle), CAST(r.band*4+1 AS INTEGER), 15))::BIGINT) AS sig
        |  FROM sd, range(8) r(band) GROUP BY doc_id, r.band),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |  CASE WHEN y.doc_id % 4 = 1 THEN 'new' ELSE 'seen' END AS m_side
        |  FROM mh x JOIN mh y ON x.band = y.band AND x.sig = y.sig
        |  WHERE x.doc_id % 4 = 1
        |    AND ((y.doc_id % 4 != 1 AND x.doc_id != y.doc_id)
        |      OR (y.doc_id % 4 = 1 AND x.doc_id < y.doc_id))),
        |co AS (SELECT t.a, t.b, COUNT(*) AS common FROM (
        |    SELECT c.a, c.b, x.shingle FROM cand c
        |    JOIN sd x ON x.doc_id = c.a
        |    JOIN sd y ON y.doc_id = c.b AND y.shingle = x.shingle) t
        |  GROUP BY t.a, t.b),
        |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sd GROUP BY doc_id),
        |j AS (SELECT co.a, co.b, co.common,
        |  CAST(co.common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - co.common AS DOUBLE) AS jaccard
        |  FROM co JOIN n na ON na.doc_id = co.a JOIN n nb ON nb.doc_id = co.b)
        |SELECT j.a AS new_id, j.b AS match_id, c2.m_side AS match_side, j.common, j.jaccard
        |FROM j JOIN cand c2 ON c2.a = j.a AND c2.b = j.b
        |WHERE j.jaccard >= 0.5 ORDER BY new_id, match_id""".stripMargin)),


    // L35 — SemDeDup (Abbas et al. 2023): semantic dedup = embedding
    // near-dup pairs from IVF cells (broadcast centroids, same-cell
    // candidates — Σ|cell|², never n²) → connected components
    // (large/small-star, O(log² n) rounds) → keep the component-minimum
    // vector. The oracle replays the identical cell assignment and
    // verification, then computes min-reachable-id with a recursive CTE.
    Q("dedup_semdedup",
      (s, dir) => {
        val pairs = sessionIvfPairs(s, dir).select(col("a"), col("b"))
        val cc = Dedup.connectedComponents(pairs, "a", "b")
          .withColumnRenamed("id", "vec_id")
        val lbl = Tables.embeddings(s, dir).select(col("vec_id"))
          .join(cc, Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("component"), col("vec_id")).as("component"))
        val sizes = lbl.groupBy(col("component"))
          .agg(count(lit(1)).as("cluster_size"))
        lbl.join(sizes, "component")
          .select(col("vec_id"), col("component"), col("cluster_size"),
            (col("vec_id") === col("component")).as("kept"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH RECURSIVE $quantSqlCte,
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
        |  sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS DOUBLE)) AS snorm
        |  FROM q WHERE vec_id < 16),
        |scored AS (SELECT q.vec_id, s.seed_id,
        |  CAST(CAST(list_sum(list_transform(range(1,65), i -> q.qv[i]*s.sv[i])) AS BIGINT) AS DOUBLE)
        |    / s.snorm AS score
        |  FROM q CROSS JOIN seeds s),
        |cells AS (SELECT vec_id, seed_id AS cell FROM (
        |  SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, seed_id) AS rn FROM scored) t WHERE rn = 1),
        |cand AS (SELECT x.vec_id AS a, y.vec_id AS b FROM cells x
        |  JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id),
        |vd AS (SELECT c.a, c.b,
        |  CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qb.qv[i])) AS BIGINT) AS dot
        |  FROM cand c JOIN q qa ON qa.vec_id = c.a JOIN q qb ON qb.vec_id = c.b),
        |jp AS (SELECT a, b FROM (SELECT a, b,
        |  CAST(dot AS DOUBLE)/(sqrt(CAST(na.nn AS DOUBLE))*sqrt(CAST(nb.nn AS DOUBLE))) AS cos
        |  FROM vd JOIN nm na ON na.vec_id = a JOIN nm nb ON nb.vec_id = b) t
        |  WHERE cos >= 0.45),
        |e AS (SELECT a AS u, b AS v FROM jp UNION SELECT b AS u, a AS v FROM jp),
        |cc AS (
        |  SELECT vec_id AS id, vec_id AS r FROM embeddings
        |  UNION
        |  SELECT cc.id, e.v FROM cc JOIN e ON e.u = cc.r),
        |lbl AS (SELECT id AS vec_id, MIN(r) AS component FROM cc GROUP BY id),
        |sz AS (SELECT component, COUNT(*) AS cluster_size FROM lbl GROUP BY component)
        |SELECT l.vec_id, l.component, s.cluster_size,
        |  l.vec_id = l.component AS kept
        |FROM lbl l JOIN sz s ON s.component = l.component
        |ORDER BY l.vec_id""".stripMargin)),


    // L78 — SORTED-NEIGHBORHOOD dedup (Hernández & Stolfo 1995): docs
    // sort by their 16-char normalized prefix inside 2-char blocks,
    // each row meets only its 3 successors — O(n·w) candidates by
    // construction regardless of data skew (contrast LSH's
    // data-dependent buckets) — then exact Jaccard verify. One block
    // shuffle, partition-local sort + lead, no global sort.
    Q("dedup_snm",
      (s, dir) => Dedup.sortedNeighborhoodPairs(
          Tables.documents(s, dir),
          sessionShingles(s, dir),
          "doc_id", "text", keyChars = 16, blockChars = 2, window = 4,
          minJaccard = 0.8)
        .orderBy(col("a"), col("b")),
      Some(s"""WITH $shingleSqlCte,
        |kb AS (SELECT doc_id,
        |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 16) AS snm_key,
        |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 2) AS snm_blk
        |  FROM documents),
        |ld AS (SELECT doc_id, lead(doc_id, 1) OVER w AS l1,
        |    lead(doc_id, 2) OVER w AS l2, lead(doc_id, 3) OVER w AS l3
        |  FROM kb WINDOW w AS (PARTITION BY snm_blk ORDER BY snm_key, doc_id)),
        |cand AS (SELECT DISTINCT least(doc_id, l) AS a, greatest(doc_id, l) AS b
        |  FROM (SELECT doc_id, unnest([l1, l2, l3]) AS l FROM ld) t
        |  WHERE l IS NOT NULL),
        |co AS (SELECT t.a, t.b, COUNT(*) AS common FROM (
        |    SELECT c.a, c.b, x.shingle FROM cand c
        |    JOIN sd x ON x.doc_id = c.a
        |    JOIN sd y ON y.doc_id = c.b AND y.shingle = x.shingle) t
        |  GROUP BY t.a, t.b),
        |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sd GROUP BY doc_id),
        |j AS (SELECT co.a, co.b, co.common,
        |  CAST(co.common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - co.common AS DOUBLE) AS jaccard
        |  FROM co JOIN n na ON na.doc_id = co.a JOIN n nb ON nb.doc_id = co.b)
        |SELECT a, b, common, jaccard FROM j WHERE jaccard >= 0.8 ORDER BY a, b""".stripMargin)),


    // L85 — EDIT-DISTANCE DEDUP: SNM candidates (L78's stage, any
    // verifier plugs in) verified by relative Levenshtein ≤ 10% of the
    // longer text — the record-linkage verifier for short fields. The
    // |len_a − len_b| lower bound gates the O(L²) DP.
    Q("dedup_edit_distance",
      (s, dir) => Dedup.editDistancePairs(
          Tables.documents(s, dir),
          Dedup.sortedNeighborhoodCandidates(Tables.documents(s, dir),
            "doc_id", "text", keyChars = 16, blockChars = 2, window = 4),
          "doc_id", "text", maxDistPermille = 100)
        .orderBy(col("a"), col("b")),
      Some("""WITH kb AS (SELECT doc_id,
        |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 16) AS snm_key,
        |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 2) AS snm_blk
        |  FROM documents),
        |ld AS (SELECT doc_id, lead(doc_id, 1) OVER w AS l1,
        |    lead(doc_id, 2) OVER w AS l2, lead(doc_id, 3) OVER w AS l3
        |  FROM kb WINDOW w AS (PARTITION BY snm_blk ORDER BY snm_key, doc_id)),
        |cand AS (SELECT DISTINCT least(doc_id, l) AS a, greatest(doc_id, l) AS b
        |  FROM (SELECT doc_id, unnest([l1, l2, l3]) AS l FROM ld) t
        |  WHERE l IS NOT NULL),
        |ed AS (SELECT c.a, c.b, da.text AS ta, db.text AS tb FROM cand c
        |  JOIN documents da ON da.doc_id = c.a
        |  JOIN documents db ON db.doc_id = c.b),
        |lf AS (SELECT a, b, ta, tb,
        |    CAST(length(ta) AS BIGINT) AS len_a,
        |    CAST(length(tb) AS BIGINT) AS len_b FROM ed
        |  WHERE abs(length(ta) - length(tb)) * 1000
        |    <= greatest(length(ta), length(tb)) * 100),
        |dd AS (SELECT a, b, CAST(levenshtein(ta, tb) AS BIGINT) AS dist,
        |    len_a, len_b FROM lf)
        |SELECT a, b, dist, len_a, len_b FROM dd
        |WHERE dist * 1000 <= greatest(len_a, len_b) * 100
        |ORDER BY a, b""".stripMargin)),


    // L86 — SUBSET-CONTAINMENT dedup: common/min(|A|,|B|) ≥ 0.8 — the
    // asymmetric measure that catches a short doc quoted whole inside
    // a long one (Jaccard ≈ |small|/|large| ≈ 0 there). Candidates
    // share a rare shingle (df ≤ 50), commons count over ALL shingles,
    // the gate is integer, the score one division.
    Q("dedup_containment",
      (s, dir) => Dedup.containmentPairsFrom(
          sessionPairCommons(s, dir), minContainPermille = 800)
        .orderBy(col("a"), col("b")),
      Some(s"""WITH $shingleSqlCte,
        |fq AS (SELECT shingle FROM (SELECT shingle, COUNT(*) AS df FROM sd GROUP BY shingle) t
        |  WHERE df <= 50),
        |rs AS (SELECT sd.doc_id, sd.shingle FROM sd JOIN fq ON fq.shingle = sd.shingle),
        |cand AS (SELECT DISTINCT sa.doc_id AS a, sb.doc_id AS b
        |  FROM rs sa JOIN rs sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id),
        |co AS (SELECT t.a, t.b, COUNT(*) AS common FROM (
        |    SELECT c.a, c.b, x.shingle FROM cand c
        |    JOIN sd x ON x.doc_id = c.a
        |    JOIN sd y ON y.doc_id = c.b AND y.shingle = x.shingle) t
        |  GROUP BY t.a, t.b),
        |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sd GROUP BY doc_id),
        |j AS (SELECT co.a, co.b, CAST(co.common AS BIGINT) AS common,
        |    CAST(na.n_sh AS BIGINT) AS na, CAST(nb.n_sh AS BIGINT) AS nb
        |  FROM co JOIN n na ON na.doc_id = co.a JOIN n nb ON nb.doc_id = co.b)
        |SELECT a, b, common, na, nb,
        |  CAST(common AS DOUBLE) / CAST(least(na, nb) AS DOUBLE) AS containment
        |FROM j WHERE common * 1000 >= 800 * least(na, nb)
        |ORDER BY a, b""".stripMargin)),

    // L207 — blocking-quality audit: the SNM candidate generator (L78
    // config: 16-char key, 2-char block, window 4) priced against the
    // session's LSH-verified pair set — exact reduction ratio and
    // pairs completeness, the two numbers that justify a blocker
    // before a 100 TB run. 1-row total frames cross-joined (m_eer
    // posture); truth CTE reuses the shared verified-pair chain.
    Q("dedup_blocking_audit",
      (s, dir) => Dedup.blockingAudit(
          Tables.documents(s, dir), "doc_id",
          Dedup.sortedNeighborhoodCandidates(Tables.documents(s, dir),
            "doc_id", "text", keyChars = 16, blockChars = 2, window = 4),
          "a", "b",
          sessionMinhashPairs(s, dir), "a", "b"),
      Some(s"""WITH RECURSIVE $nearDupCcSqlCtes,
        |kb AS (SELECT doc_id,
        |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 16) AS snm_key,
        |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 2) AS snm_blk
        |  FROM documents),
        |ld AS (SELECT doc_id, lead(doc_id, 1) OVER w2 AS l1,
        |    lead(doc_id, 2) OVER w2 AS l2, lead(doc_id, 3) OVER w2 AS l3
        |  FROM kb WINDOW w2 AS (PARTITION BY snm_blk ORDER BY snm_key, doc_id)),
        |scand AS (SELECT DISTINCT least(doc_id, l) AS a, greatest(doc_id, l) AS b
        |  FROM (SELECT doc_id, unnest([l1, l2, l3]) AS l FROM ld) t
        |  WHERE l IS NOT NULL AND doc_id <> l),
        |tr AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
        |  FROM jp WHERE a <> b),
        |nd2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |ncd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM scand),
        |ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM tr),
        |nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit FROM (
        |    SELECT DISTINCT s.a, s.b FROM scand s JOIN tr USING (a, b)) x)
        |SELECT n_docs,
        |  CAST((n_docs * (n_docs - 1)) // 2 AS BIGINT) AS n_total_pairs,
        |  n_cand, n_truth, n_hit,
        |  CAST(CASE WHEN (n_docs * (n_docs - 1)) // 2 > 0
        |    THEN 1000000 - ((n_cand * 1000000) // ((n_docs * (n_docs - 1)) // 2))
        |    ELSE -1 END AS BIGINT) AS rr_e6,
        |  CAST(CASE WHEN n_truth > 0 THEN (n_hit * 1000000) // n_truth
        |    ELSE -1 END AS BIGINT) AS completeness_e6
        |FROM nd2, ncd, ntr, nh""".stripMargin)),

    // L204 — affix-overlap pairs (continuation leakage for sequence
    // packing): doc A's last 8 tokens == doc B's first 8 tokens — a
    // shape Jaccard can't see (8 shared tokens of two long docs ≈ 0)
    // but that leaks verbatim continuations when docs pack into one
    // training sequence. Mint: per bucket (doc_id div 11), the %11==3
    // doc gets a bucket-salted 8-token suffix and the %11==4 doc the
    // same phrase as its prefix — exactly one planted pair per bucket;
    // hot grams (df > 50) are dropped before the equi join (the winnow
    // posture).
    Q("dedup_affix_overlap",
      (s, dir) => {
        val phrase = concat(lit("qq ww ee rr tt yy uu b"),
          expr("doc_id div 11"))
        val minted = Tables.documents(s, dir)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(11L)) === 3L,
              concat(col("text"), lit(" "), phrase))
              .when(pmod(col("doc_id"), lit(11L)) === 4L,
                concat(phrase, lit(" "), col("text")))
              .otherwise(col("text")).as("text"))
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        Dedup.affixOverlapPairs(minted, "doc_id", "toks", k = 8,
            maxGramDf = 50L)
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH t AS (SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 3
        |      THEN text || ' qq ww ee rr tt yy uu b' || (doc_id // 11)
        |    WHEN doc_id % 11 = 4
        |      THEN 'qq ww ee rr tt yy uu b' || (doc_id // 11) || ' ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |d2 AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x != '') AS toks FROM t),
        |f AS (SELECT doc_id, toks FROM d2 WHERE len(toks) >= 8),
        |suf AS (SELECT doc_id AS a,
        |    array_to_string(list_slice(toks, len(toks) - 7, len(toks)), ' ') AS gram
        |  FROM f),
        |pre AS (SELECT doc_id AS b,
        |    array_to_string(list_slice(toks, 1, 8), ' ') AS gram FROM f),
        |rare AS (SELECT gram FROM (
        |    SELECT gram, COUNT(*) AS c FROM (
        |      SELECT gram FROM suf UNION ALL SELECT gram FROM pre) u
        |    GROUP BY 1) v WHERE c <= 50)
        |SELECT suf.a, pre.b, suf.gram
        |FROM suf JOIN rare USING (gram) JOIN pre USING (gram)
        |WHERE suf.a <> pre.b ORDER BY a, b""".stripMargin)),

    // L199 — MinHash S-curve calibration for THE configured banding
    // scheme (b = 8 bands, r = 1 row — the sessionMinhashPairs
    // signature layout): p(J) = 1 − (1 − J)⁸ tabulated over the 0.01
    // J grid as exact e9 fixed-point floor-fold integers (the IBAN/
    // Hilbert defined-recurrence discipline — both engines replay the
    // identical fold, bit-identical drift). This is the "why 0.8 / why
    // 0.5" answer in table form: candidate recall at the verify
    // thresholds, false-candidate mass below them.
    Q("dedup_scurve",
      (s, dir) => Dedup.lshSCurve(s, bands = 8, rows = 1)
        .orderBy(col("j_e2")),
      Some("""WITH g AS (SELECT CAST(unnest(range(0, 101)) AS BIGINT) AS j_e2),
        |f AS (SELECT j_e2,
        |    list_reduce(list_prepend(CAST(1000000000 AS BIGINT), range(1, 2)),
        |      (x, k) -> (x * j_e2) // 100) AS jr_e9
        |  FROM g),
        |q AS (SELECT j_e2, jr_e9,
        |    CAST(1000000000 - jr_e9 AS BIGINT) AS q_e9 FROM f)
        |SELECT j_e2, jr_e9, q_e9,
        |  CAST(1000000000 - list_reduce(
        |    list_prepend(CAST(1000000000 AS BIGINT), range(1, 9)),
        |    (y, k) -> (y * q_e9) // 1000000000) AS BIGINT) AS p_e9
        |FROM q ORDER BY j_e2""".stripMargin))
  )
}
