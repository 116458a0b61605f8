package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, EventAnalytics, GraphOps, MLlibOps, Multimodal, Retrieval, SegmentAlgebra, SegmentOps, Similarity, TextOps}
import graft.QuerySupport._

/** Corpus curation: sampling, mixing, decontamination, packing,
  * scoring, sharding, calibration (SURVEY §2.11 c_* ids).
  */
private[graft] object QueriesCuration {

  def entries: Seq[Q] = Seq(

    // The end-to-end curation trace a training-data pipeline runs:
    // quality gate (token floor + stopword ratio) → exact-duplicate
    // removal keeping the min-id canonical → per-language corpus stats.
    // One composed plan: filters push to the scan, the dedup argmin is a
    // window over the fingerprint hash partition, the final rollup is a
    // two-level hash aggregate.
    Q("curation_pipeline",
      (s, dir) => {
        val scored = docToks(s, dir).select(col("doc_id"), col("lang"),
            size(col("toks")).cast("long").as("n_tokens"),
            TextOps.stopwordHits(col("toks"), TextOps.langMarkers.head._2).as("stop_hits"))
          .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tokens"))
          .filter(col("n_tokens") >= 50 && col("stop_ratio") >= 0.02)
        // min-id canonical as a hash aggregate — no window sort
        val canonical = Tables.documents(s, dir)
          .select(col("doc_id"), TextOps.fingerprint(col("text"), 200).as("fp"))
          .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        scored.join(canonical, "doc_id")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
            min(col("doc_id")).as("first_doc"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH $toksSqlCte,
        |sc AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t))) AS BIGINT) AS DOUBLE)
        |    / CAST(len(toks) AS BIGINT) AS stop_ratio
        |  FROM d),
        |ql AS (SELECT doc_id, lang, n_tokens FROM sc
        |  WHERE n_tokens >= 50 AND stop_ratio >= 0.02),
        |fp AS (SELECT doc_id,
        |  md5(substr(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), 1, 200)) AS fp
        |  FROM documents),
        |canon AS (SELECT doc_id FROM (SELECT doc_id,
        |  row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fp) t WHERE rn = 1)
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  MIN(ql.doc_id) AS first_doc
        |FROM ql JOIN canon ON canon.doc_id = ql.doc_id
        |GROUP BY lang ORDER BY lang""".stripMargin)),


    // Curation — URL CANONICALIZATION: the normalization every
    // web-scale URL-level dedup runs first (scheme/host lowercased,
    // www. and default ports stripped, utm_* dropped, query keys
    // sorted, fragment discarded, path case preserved). Pure column
    // expressions over synthesized messy URLs; the oracle states the
    // expected canonical form directly from the synthesis parameters.
    Q("c_url_canonical",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val url = concat(
          when(pmod(col("doc_id"), lit(2L)) === 0L, lit("HTTP://WWW."))
            .otherwise(lit("https://")),
          col("source"), lit(".Example.COM"),
          when(pmod(col("doc_id"), lit(2L)) === 0L, lit(":80")).otherwise(lit(":443")),
          lit("/Docs/"), col("doc_id"),
          lit("?utm_source=feed&b=2&a=1&utm_medium=m#sec"))
        docs.select(col("doc_id"), Curation.canonicalUrl(url).as("canon_url"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  concat(CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END,
        |    '://', lower(source), '.example.com/Docs/', doc_id, '?a=1&b=2') AS canon_url
        |FROM documents ORDER BY doc_id""".stripMargin)),


    // Curation — benchmark DECONTAMINATION: corpus docs sharing >= 3
    // distinct word-3-grams with any probe (benchmark) doc. The probe
    // side is tiny and broadcast; the corpus streams by on the shingle
    // equi key — the standard pre-training decontamination sweep.
    Q("c_decontaminate",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Curation.decontaminate(
            docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
            "doc_id", "text", shingleN = 3, minHits = 3L)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $shingleSqlCte,
        |cs AS (SELECT doc_id, shingle FROM sd WHERE doc_id >= 20),
        |ps AS (SELECT doc_id AS probe_id, shingle FROM sd WHERE doc_id < 20),
        |h AS (SELECT cs.doc_id, COUNT(DISTINCT cs.shingle) AS n_hits,
        |  COUNT(DISTINCT ps.probe_id) AS n_probes
        |  FROM cs JOIN ps ON ps.shingle = cs.shingle GROUP BY cs.doc_id)
        |SELECT doc_id, n_hits, n_probes FROM h WHERE n_hits >= 3
        |ORDER BY doc_id""".stripMargin)),


    // Curation — deterministic hash-gate sampling (md5-prefix Bernoulli
    // gate, rate 0x2a/0x100 ≈ 16.4%): reproducible across engines,
    // reruns, and repartitions, unlike rand(). Per-lang pre/post tallies.
    Q("c_hash_sample",
      (s, dir) => Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(Curation.hashSampleGate(col("doc_id"), "2a", 2), 1L)
            .otherwise(0L)).as("n_sampled"))
        .orderBy(col("lang")),
      Some("""SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < '2a'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),


    // Curation — mixture-weight allocation: split a 1M-token budget
    // across languages proportionally to corpus size by largest
    // remainder (Hamilton), exact integer arithmetic end to end.
    Q("c_mix_weights",
      (s, dir) => Curation.allocateBudget(
          Tables.documents(s, dir).groupBy(col("lang"))
            .agg(sum(col("n_chars")).as("tokens")),
          "lang", "tokens", budget = 1000000L)
        .orderBy(col("lang")),
      Some("""WITH t AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS tokens
        |  FROM documents GROUP BY lang),
        |w AS (SELECT lang, tokens, CAST(SUM(tokens) OVER () AS BIGINT) AS T FROM t),
        |f AS (SELECT lang, tokens, (1000000 * tokens) // T AS fl,
        |  (1000000 * tokens) % T AS rem FROM w),
        |r AS (SELECT lang, tokens, fl,
        |  row_number() OVER (ORDER BY rem DESC, lang) AS rk,
        |  1000000 - CAST(SUM(fl) OVER () AS BIGINT) AS leftover FROM f)
        |SELECT lang, tokens,
        |  CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY lang""".stripMargin)),


    // Curation — exact-quota stratified sample: Hamilton-allocated
    // per-lang quotas (budget 100 docs, proportional to stratum size)
    // filled by deterministic md5-rank within each stratum. Exactly 100
    // rows out, reproducible across engines — the L14+L15 composition.
    Q("c_stratified_sample",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        val quotas = Curation.allocateBudget(
            docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs")),
            "lang", "n_docs", budget = 100L)
          .select(col("lang"), col("alloc").as("quota"))
        Curation.stratifiedSample(docs, "lang", "doc_id", quotas)
          .orderBy(col("lang"), col("doc_id"))
      },
      Some("""WITH t AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_docs, CAST(SUM(n_docs) OVER () AS BIGINT) AS T FROM t),
        |f AS (SELECT lang, n_docs, (100 * n_docs) // T AS fl,
        |  (100 * n_docs) % T AS rem FROM w),
        |r AS (SELECT lang, fl,
        |  row_number() OVER (ORDER BY rem DESC, lang) AS rk,
        |  100 - CAST(SUM(fl) OVER () AS BIGINT) AS leftover FROM f),
        |qt AS (SELECT lang, fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota FROM r),
        |sr AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents)
        |SELECT sr.doc_id, sr.lang FROM sr JOIN qt ON qt.lang = sr.lang AND sr.rn <= qt.quota
        |ORDER BY sr.lang, sr.doc_id""".stripMargin)),


    // Curation — Gopher-style repetition metrics over word-2-grams:
    // duplicate-2-gram and top-2-gram fractions, the standard repetition
    // filters. One per-doc aggregation, ratios as single divisions of
    // exact integers.
    Q("c_repetition",
      (s, dir) => Curation.repetitionMetrics(
          Tables.documents(s, dir), "doc_id", "text", shingleN = 2)
        .orderBy(col("doc_id")),
      Some(s"""WITH $toksSqlCte,
        |tt AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS i FROM d),
        |g0 AS (SELECT doc_id, tok || ' ' || lead(tok,1)
        |  OVER (PARTITION BY doc_id ORDER BY i) AS g FROM tt),
        |g AS (SELECT doc_id, g FROM g0 WHERE g IS NOT NULL),
        |c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g),
        |m AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
        |  COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_count
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_distinct, top_count,
        |  CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac,
        |  CAST(top_count AS DOUBLE) / CAST(n_grams AS DOUBLE) AS top_frac
        |FROM m ORDER BY doc_id""".stripMargin)),


    // Curation — sequence packing (pack-then-split pretraining layout):
    // within each lang shard, docs in id order form one token stream cut
    // every 2048 tokens; one window cumsum per shard.
    Q("c_pack_sequences",
      (s, dir) => Curation.packSequences(
          docToks(s, dir).select(col("lang"), col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens")),
          "lang", "doc_id", "n_tokens", seqLen = 2048L)
        .orderBy(col("lang"), col("seq_id")),
      Some(s"""WITH $toksSqlCte,
        |n AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS t FROM d),
        |o AS (SELECT doc_id, lang, t,
        |  COALESCE(CAST(SUM(t) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS off
        |  FROM n),
        |sq AS (SELECT lang, doc_id, t, off // 2048 AS seq_id FROM o)
        |SELECT lang, seq_id, COUNT(*) AS n_docs,
        |  CAST(SUM(t) AS BIGINT) AS sum_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM sq GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin)),


    // Curation — PII redaction (Curation.scrubPii). The synthetic corpus
    // carries no PII, so both engines append the SAME deterministic
    // doc_id-derived email/phone/IP suffixes before scrubbing — the scrub
    // logic (match, typed placeholder, ordered passes, per-category
    // counts) is what's under test, and the redacted text is compared
    // byte-for-byte. Patterns live in the RE2 ∩ java.util.regex subset.
    Q("c_pii_scrub",
      (s, dir) => {
        val aug = Tables.documents(s, dir).select(col("doc_id"), concat(
          col("text"),
          when(pmod(col("doc_id"), lit(3L)) === 0L, concat(
            lit(" contact u"), col("doc_id").cast("string"),
            lit("@ex"), pmod(col("doc_id"), lit(7L)).cast("string"),
            lit(".com"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5L)) === 0L, concat(
            lit(" call 555-"),
            lpad(pmod(col("doc_id"), lit(1000L)).cast("string"), 3, "0"),
            lit("-"),
            lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7L)) === 0L, concat(
            lit(" from 10."), pmod(col("doc_id"), lit(256L)).cast("string"),
            lit(".0."), pmod(col("doc_id"), lit(250L)).cast("string"))).otherwise(lit(""))
        ).as("text"))
        Curation.scrubPii(aug, "doc_id", "text").orderBy(col("doc_id"))
      },
      Some("""WITH aug AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR)
        |    || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN ' call 555-'
        |    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
        |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |  CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |    || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t,
        |    '\b\d{3}[- ]\d{3}[- ]\d{4}\b')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(strlen(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS BIGINT) AS clean_len
        |FROM aug ORDER BY doc_id""".stripMargin)),


    // Curation — corpus-level line dedup (Curation.dedupLines): keep the
    // globally first occurrence of each distinct 5-token line; nonzero
    // drops come from the corpus's planted near/exact-duplicate docs,
    // exactly the boilerplate case the pass exists for.
    Q("c_dedup_lines",
      (s, dir) => Curation.dedupLines(Tables.documents(s, dir),
          "doc_id", "text", lineLen = 5)
        .orderBy(col("doc_id")),
      Some(s"""WITH $toksSqlCte,
        |tt AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS i FROM d),
        |ln AS (SELECT doc_id, i // 5 AS line_no,
        |  string_agg(tok, ' ' ORDER BY i) AS line, COUNT(*) AS n_toks
        |  FROM tt GROUP BY doc_id, i // 5),
        |k AS (SELECT doc_id, line_no, n_toks,
        |  row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn FROM ln)
        |SELECT doc_id, COUNT(*) AS n_lines,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN rn = 1 THEN n_toks ELSE 0 END) AS BIGINT) AS n_toks_kept
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),


    // L98 — BORDA RANK FUSION of three quality signals per language
    // (length, scaled type-token ratio, scaled avg word length):
    // scale-free blend = sum of within-group ranks, re-ranked; all
    // integers, deterministic ties by doc_id.
    Q("c_rank_fusion",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
            size(array_distinct(toks)).cast("long").as("__dt"),
            greatest(size(toks).cast("long"), lit(1L)).as("__nt"))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            expr("__dt * 1000000L div __nt").as("ttr_e6"),
            expr("cast(length(text) as bigint) * 1000L div __nt").as("awl_e3"))
        Curation.rankFusion(base, "lang", "doc_id",
            Seq("n_chars", "ttr_e6", "awl_e3"))
          .select(col("doc_id"), col("lang"), col("rank_n_chars"),
            col("rank_ttr_e6"), col("rank_awl_e3"), col("borda"),
            col("fused_rank"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksSqlCte,
        |sg AS (SELECT d.doc_id, d.lang, dd.n_chars,
        |    CAST(len(list_distinct(d.toks))::BIGINT * 1000000
        |      // greatest(len(d.toks), 1) AS BIGINT) AS ttr_e6,
        |    CAST(length(dd.text)::BIGINT * 1000
        |      // greatest(len(d.toks), 1) AS BIGINT) AS awl_e3
        |  FROM d JOIN documents dd USING (doc_id)),
        |r AS (SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank_n_chars,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY ttr_e6 DESC, doc_id) AS BIGINT) AS rank_ttr_e6,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY awl_e3 DESC, doc_id) AS BIGINT) AS rank_awl_e3
        |  FROM sg),
        |b AS (SELECT *, rank_n_chars + rank_ttr_e6 + rank_awl_e3 AS borda FROM r)
        |SELECT doc_id, lang, rank_n_chars, rank_ttr_e6, rank_awl_e3, borda,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY borda, doc_id) AS BIGINT) AS fused_rank
        |FROM b ORDER BY doc_id""".stripMargin)),


    // L107 — RECIPROCAL-RANK FUSION of the same three signals (the
    // SIGIR'09 standard complementing L98's Borda): contribution
    // ⌊1e9/(60+rank)⌋ per signal — top agreement dominates, the tail
    // flattens — summed in exact scaled integers, re-ranked desc.
    Q("c_rank_fusion_rrf",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
            size(array_distinct(toks)).cast("long").as("__dt"),
            greatest(size(toks).cast("long"), lit(1L)).as("__nt"))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            expr("__dt * 1000000L div __nt").as("ttr_e6"),
            expr("cast(length(text) as bigint) * 1000L div __nt").as("awl_e3"))
        Curation.rrfFusion(base, "lang", "doc_id",
            Seq("n_chars", "ttr_e6", "awl_e3"))
          .select(col("doc_id"), col("lang"), col("rank_n_chars"),
            col("rank_ttr_e6"), col("rank_awl_e3"), col("rrf_e9"),
            col("fused_rank"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksSqlCte,
        |sg AS (SELECT d.doc_id, d.lang, dd.n_chars,
        |    CAST(len(list_distinct(d.toks))::BIGINT * 1000000
        |      // greatest(len(d.toks), 1) AS BIGINT) AS ttr_e6,
        |    CAST(length(dd.text)::BIGINT * 1000
        |      // greatest(len(d.toks), 1) AS BIGINT) AS awl_e3
        |  FROM d JOIN documents dd USING (doc_id)),
        |r AS (SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank_n_chars,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY ttr_e6 DESC, doc_id) AS BIGINT) AS rank_ttr_e6,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY awl_e3 DESC, doc_id) AS BIGINT) AS rank_awl_e3
        |  FROM sg),
        |b AS (SELECT *, 1000000000 // (60 + rank_n_chars)
        |    + 1000000000 // (60 + rank_ttr_e6)
        |    + 1000000000 // (60 + rank_awl_e3) AS rrf_e9 FROM r)
        |SELECT doc_id, lang, rank_n_chars, rank_ttr_e6, rank_awl_e3,
        |  CAST(rrf_e9 AS BIGINT) AS rrf_e9,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY rrf_e9 DESC, doc_id) AS BIGINT) AS fused_rank
        |FROM b ORDER BY doc_id""".stripMargin)),


    // L103 — SKETCH-CALIBRATED QUALITY GATE: the documented 100 TB swap
    // for c_quality_calibrated made concrete — per-source thresholds
    // from the L45 log-histogram sketch (one partial-merge agg, no
    // per-source window) broadcast back as a MAP-SIDE gate, reported
    // side by side with the exact-rank keep count so the bucket-
    // resolution error is measured, not guessed.
    Q("c_quality_gate_sketch",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars").as("score"))
        val thr = Curation.logQuantiles(docs, "source", "score",
            Seq((70, 7L, 10L)))
          .select(col("source"), col("n"), col("bkt").as("thr_bkt"))
        val exact = Curation.calibratedQualityGate(
            docs, "doc_id", "source", "score", 3, 10)
          .groupBy(col("source"))
          .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("exact_kept"))
        val sk = docs.join(broadcast(thr), "source")
          .groupBy(col("source"))
          .agg(sum(when(
            graft.expr.LogHist.bucket(col("score")) > col("thr_bkt"), 1L)
            .otherwise(0L)).as("sketch_kept"))
        thr.join(exact, "source").join(sk, "source")
          .select(col("source"), col("n"), col("exact_kept"),
            col("thr_bkt").cast("long").as("thr_bkt"), col("sketch_kept"))
          .orderBy(col("source"))
      },
      Some("""WITH x AS (SELECT doc_id, source, n_chars AS score,
        |    greatest(n_chars, 1) AS v FROM documents),
        |b AS (SELECT doc_id, source, v,
        |    CAST(length(format('{:b}', v)) - 1 AS INTEGER) AS k FROM x),
        |bb AS (SELECT doc_id, source, CAST(k*8
        |    + ((v - (1::BIGINT << k))*8) // (1::BIGINT << k) AS BIGINT) AS bkt FROM b),
        |g AS (SELECT source, bkt, CAST(COUNT(*) AS BIGINT) AS cnt FROM bb GROUP BY 1, 2),
        |nn AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM g GROUP BY 1),
        |c AS (SELECT source, bkt, CAST(SUM(cnt) OVER (PARTITION BY source
        |    ORDER BY bkt) AS BIGINT) AS cum FROM g),
        |thr AS (SELECT c.source, CAST(MIN(c.bkt) AS BIGINT) AS thr_bkt
        |  FROM c JOIN nn USING (source)
        |  WHERE c.cum >= (nn.n * 7 + 9) // 10 GROUP BY c.source),
        |ek AS (SELECT source, CAST(SUM(CASE WHEN rank * 10 <= 3 * n THEN 1 ELSE 0 END) AS BIGINT) AS exact_kept
        |  FROM (SELECT source,
        |      CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
        |      CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |    FROM x) r GROUP BY source),
        |sk AS (SELECT bb.source, CAST(SUM(CASE WHEN bb.bkt > thr.thr_bkt THEN 1 ELSE 0 END) AS BIGINT) AS sketch_kept
        |  FROM bb JOIN thr USING (source) GROUP BY bb.source)
        |SELECT nn.source, nn.n, ek.exact_kept, thr.thr_bkt, sk.sketch_kept
        |FROM nn JOIN ek USING (source) JOIN thr USING (source) JOIN sk USING (source)
        |ORDER BY source""".stripMargin)),


    // L96 — PER-SOURCE QUALITY DRIFT: lower-median n_chars per (source,
    // ingest decile), then the per-source OLS slope with the division
    // cleared — (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) — integers end to end,
    // the one division last. Ingest decile = (doc_id·10) div (max+1)
    // (ids are assigned on ingest; the corpus has no crawl timestamp).
    Q("c_quality_drift",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val mx = docs.agg(max(col("doc_id")).as("__mx"))
        Curation.qualityDrift(
            docs.crossJoin(broadcast(mx))
              .select(col("source"),
                expr("(doc_id * 10) div (__mx + 1)").as("wk"),
                col("n_chars")),
            "source", "wk", "n_chars")
          .orderBy(col("source"))
      },
      Some("""WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
        |b AS (SELECT source, (doc_id * 10) // (mx.m + 1) AS wk, n_chars
        |  FROM documents, mx),
        |r AS (SELECT source, wk, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source, wk ORDER BY n_chars) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY source, wk) AS BIGINT) AS n FROM b),
        |md AS (SELECT source, wk AS x, n_chars AS y FROM r WHERE rn = (n + 1) // 2),
        |ag AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |    SUM(x::HUGEINT) AS sx, SUM(y::HUGEINT) AS sy,
        |    SUM(x::HUGEINT * y::HUGEINT) AS sxy,
        |    SUM(x::HUGEINT * x::HUGEINT) AS sxx FROM md GROUP BY source)
        |SELECT source, n_buckets,
        |  CAST(n_buckets::HUGEINT * sxy - sx * sy AS BIGINT) AS slope_num,
        |  CAST(n_buckets::HUGEINT * sxx - sx * sx AS BIGINT) AS slope_den,
        |  CASE WHEN n_buckets::HUGEINT * sxx - sx * sx = 0 THEN NULL
        |    ELSE CAST(n_buckets::HUGEINT * sxy - sx * sy AS DOUBLE)
        |      / CAST(n_buckets::HUGEINT * sxx - sx * sx AS DOUBLE) END AS slope
        |FROM ag ORDER BY source""".stripMargin)),


    // L51 — CORPUS SNAPSHOT DIFF (the incremental-ingest delta): two
    // snapshots derived deterministically from the corpus (old misses
    // the docs "added" later and carries pre-edit text for the
    // "changed" ones; new misses the "removed" ones — mirrored verbatim
    // in the oracle), then one full-outer join on doc_id comparing md5
    // content fingerprints — the wide text never crosses the shuffle.
    Q("c_snapshot_diff",
      (s, dir) => {
        val base = Tables.documents(s, dir)
        val oldSnap = base.filter(pmod(col("doc_id"), lit(17L)) =!= 3L)
          .withColumn("text",
            when(pmod(col("doc_id"), lit(13L)) === 5L,
              concat(col("text"), lit("#v1"))).otherwise(col("text")))
        val newSnap = base.filter(pmod(col("doc_id"), lit(19L)) =!= 7L)
        Curation.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
          .filter(col("status") =!= "unchanged")
          .orderBy(col("doc_id"))
      },
      Some("""WITH o AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 5 THEN text || '#v1' ELSE text END) AS ho
        |  FROM documents WHERE doc_id % 17 <> 3),
        |n AS (SELECT doc_id, md5(text) AS hn FROM documents WHERE doc_id % 19 <> 7),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.ho = n.hn THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM o FULL OUTER JOIN n ON n.doc_id = o.doc_id)
        |SELECT doc_id, status FROM j WHERE status <> 'unchanged'
        |ORDER BY doc_id""".stripMargin)),


    // L53 — deterministic SHARD ASSIGNMENT + training order: shard =
    // 60-bit md5 prefix mod 8, within-shard position by the same hash —
    // a reproducible global shuffle that decomposes into independent
    // per-shard sorts (one writer task per shard at 100 TB, no global
    // sort, no cross-shard coordination).
    Q("c_shard_assign",
      (s, dir) => Curation.shardAssign(Tables.documents(s, dir), "doc_id", 8),
      Some("""WITH h AS (SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, h, h % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8
        |    ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin)),


    // L34 — GOPHER QUALITY GATES (Rae et al. 2021 A1.1): the canonical
    // rule suite (word-count bounds, mean word length, symbol ratio,
    // alpha-word fraction, stop-word floor). Gate booleans decided in
    // exact integer arithmetic; ratios reported as single divisions.
    // Pure per-row expressions — the whole filter is one codegen'd map.
    // L252 — ANNOTATION ROUTING BY VOTE MARGIN: per item of the
    // varying-panel rating mint (the e_kripp_alpha panel), the
    // top1−top2 vote margin — items at margin ≤ 1 route back to the
    // rater pool, the standard budget-efficient escalation rule
    // (disagreement, not volume, buys more labels). One count agg +
    // one per-item rank window over ≤ k category rows.
    Q("c_annotation_routing",
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
        val ic = base.groupBy(col("item"), col("cat"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("item"))
          .orderBy(col("c").desc, col("cat"))
        ic.withColumn("rn", row_number().over(w))
          .groupBy(col("item"))
          .agg(sum(col("c")).as("n_votes"),
            max(when(col("rn") === 1, col("c"))).as("top1"),
            coalesce(max(when(col("rn") === 2, col("c"))), lit(0L))
              .as("top2"))
          .withColumn("margin", col("top1") - col("top2"))
          .withColumn("needs_more", col("margin") <= 1L)
          .orderBy(col("item"))
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
        |ic AS (SELECT item, cat, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM f GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY item
        |    ORDER BY c DESC, cat) AS rn FROM ic),
        |ag AS (SELECT item, CAST(SUM(c) AS BIGINT) AS n_votes,
        |    CAST(MAX(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS top1,
        |    CAST(COALESCE(MAX(CASE WHEN rn = 2 THEN c END), 0) AS BIGINT)
        |      AS top2
        |  FROM r GROUP BY 1)
        |SELECT item, n_votes, top1, top2, top1 - top2 AS margin,
        |  top1 - top2 <= 1 AS needs_more
        |FROM ag ORDER BY item""".stripMargin)),

    // L240 — TOKEN-BUDGET FORECAST: per source, the repetition factor
    // (epochs) a training budget implies under the mixture weights —
    // the data-constrained planning table (allocated = budget·w;
    // epochs = allocated/available; the >4-epoch flag marks sources
    // past the useful-repetition regime). Budget = 10× corpus tokens,
    // weights formula-minted; everything exact integers.
    Q("c_token_budget",
      (s, dir) => {
        val per = Tables.documents(s, dir)
          .select(col("source"), TextOps.tokens(col("text")).as("toks"))
          .groupBy(col("source"))
          .agg(sum(size(col("toks")).cast("long")).as("n_tokens"))
          .withColumn("wraw", (pmod(length(col("source")), lit(4)) + 1)
            .cast("long"))
        val tot = per.agg(sum(col("wraw")).as("wsum"),
          sum(col("n_tokens")).as("corpus_tokens"))
        per.crossJoin(broadcast(tot))
          .withColumn("weight_e6", expr("(wraw * 1000000L) div wsum"))
          .withColumn("budget", col("corpus_tokens") * 10L)
          .withColumn("allocated",
            expr("(budget * weight_e6) div 1000000L"))
          .withColumn("epochs_e6",
            expr("IF(n_tokens > 0, (allocated * 1000000L) div n_tokens, -1L)"))
          .withColumn("over_4ep", col("epochs_e6") > 4000000L)
          .select(col("source"), col("n_tokens"), col("weight_e6"),
            col("budget"), col("allocated"), col("epochs_e6"),
            col("over_4ep"))
          .orderBy(col("source"))
      },
      Some("""WITH d2 AS (SELECT source,
        |    len(list_filter(string_split(text, ' '), x -> x != '')) AS nt
        |  FROM documents),
        |per AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |    CAST(len(source) % 4 + 1 AS BIGINT) AS wraw
        |  FROM d2 GROUP BY source),
        |tot AS (SELECT CAST(SUM(wraw) AS BIGINT) AS wsum,
        |    CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens FROM per),
        |j AS (SELECT per.*, tot.wsum, tot.corpus_tokens,
        |    (wraw * 1000000) // tot.wsum AS weight_e6,
        |    tot.corpus_tokens * 10 AS budget
        |  FROM per CROSS JOIN tot),
        |k AS (SELECT *, (budget * weight_e6) // 1000000 AS allocated
        |  FROM j)
        |SELECT source, n_tokens, CAST(weight_e6 AS BIGINT) AS weight_e6,
        |  CAST(budget AS BIGINT) AS budget,
        |  CAST(allocated AS BIGINT) AS allocated,
        |  CAST(CASE WHEN n_tokens > 0
        |    THEN (allocated * 1000000) // n_tokens ELSE -1 END AS BIGINT)
        |    AS epochs_e6,
        |  CASE WHEN n_tokens > 0
        |    THEN (allocated * 1000000) // n_tokens > 4000000
        |    ELSE FALSE END AS over_4ep
        |FROM k ORDER BY source""".stripMargin)),

    // L233 — LICENSE / RIGHTS-MARKER SCAN: per source, how many
    // documents carry SPDX identifiers, copyright lines, or
    // all-rights-reserved notices (markers minted onto deterministic
    // doc slices) — the provenance census a code/web corpus runs
    // before license-conditioned filtering; detection is
    // case-insensitive substring on the raw text, one pass.
    Q("c_license_scan",
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .withColumn("t", lower(concat(col("text"),
            when(pmod(col("doc_id"), lit(7L)) === 0L,
              lit(" SPDX-License-Identifier: MIT")).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(11L)) === 0L,
              lit(" Copyright (c) 2019 Example Corp")).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(13L)) === 0L,
              lit(" All rights reserved.")).otherwise(lit("")))))
        base.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("t").contains("spdx-license-identifier"), 1L)
              .otherwise(0L)).as("n_spdx"),
            sum(when(col("t").contains("copyright"), 1L).otherwise(0L))
              .as("n_copyright"),
            sum(when(col("t").contains("all rights reserved"), 1L)
              .otherwise(0L)).as("n_rights"),
            sum(when(col("t").contains("spdx-license-identifier")
              || col("t").contains("copyright")
              || col("t").contains("all rights reserved"), 1L)
              .otherwise(0L)).as("n_any"))
          .orderBy(col("source"))
      },
      Some("""WITH d2 AS (SELECT source, lower(text
        |    || CASE WHEN doc_id % 7 = 0
        |      THEN ' SPDX-License-Identifier: MIT' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |      THEN ' Copyright (c) 2019 Example Corp' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0
        |      THEN ' All rights reserved.' ELSE '' END) AS t
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN contains(t, 'spdx-license-identifier')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_spdx,
        |  CAST(SUM(CASE WHEN contains(t, 'copyright') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_copyright,
        |  CAST(SUM(CASE WHEN contains(t, 'all rights reserved')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_rights,
        |  CAST(SUM(CASE WHEN contains(t, 'spdx-license-identifier')
        |    OR contains(t, 'copyright') OR contains(t, 'all rights reserved')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_any
        |FROM d2 GROUP BY source ORDER BY source""".stripMargin)),

    // L228 — QUALITY-GATE ATTRITION REPORT: per gate, total fails and
    // UNIQUE fails (docs only that gate kills) from one bitmask pass
    // — the redundancy audit a filter cascade ships with (zero unique
    // kills = the gate is dead weight; many = it deserves its own
    // calibration). Four real gates over documents: length band, word
    // count, mean word length band, distinct-token ratio.
    Q("c_gate_attrition",
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars"),
            TextOps.tokens(col("text")).as("toks"))
          .withColumn("nt", size(col("toks")).cast("long"))
        Curation.gateAttrition(base, Seq(
            "distinct" -> (expr("size(array_distinct(toks)) * 100")
              >= col("nt") * 30L),
            "len" -> col("n_chars").between(100L, 20000L),
            "word_len" -> (col("nt") > 0L
              && expr("(n_chars * 10) div nt").between(30L, 120L)),
            "words" -> (col("nt") >= 20L)))
          .orderBy(col("gate"))
      },
      Some("""WITH d2 AS (SELECT doc_id, n_chars,
        |    list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |g AS (SELECT
        |    len(list_distinct(toks)) * 100 >= len(toks) * 30 AS g0,
        |    n_chars BETWEEN 100 AND 20000 AS g1,
        |    len(toks) > 0 AND (n_chars * 10) // len(toks)
        |      BETWEEN 30 AND 120 AS g2,
        |    len(toks) >= 20 AS g3
        |  FROM d2),
        |mk AS (SELECT (CASE WHEN g0 THEN 0 ELSE 1 END)
        |    + (CASE WHEN g1 THEN 0 ELSE 2 END)
        |    + (CASE WHEN g2 THEN 0 ELSE 4 END)
        |    + (CASE WHEN g3 THEN 0 ELSE 8 END) AS mask FROM g),
        |h AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM mk GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN mask <> 0 THEN n ELSE 0 END) AS BIGINT)
        |      AS n_killed FROM h),
        |gates(gate, i) AS (VALUES ('distinct', 0), ('len', 1),
        |  ('word_len', 2), ('words', 3)),
        |pg AS (SELECT gate,
        |    CAST(COALESCE(SUM(CASE WHEN (mask // (1 << i)) % 2 = 1
        |      THEN n END), 0) AS BIGINT) AS n_fail,
        |    CAST(COALESCE(SUM(CASE WHEN mask = (1 << i) THEN n END), 0)
        |      AS BIGINT) AS n_unique_fail
        |  FROM gates CROSS JOIN h GROUP BY gate)
        |SELECT gate, n_fail, n_unique_fail, tot.n_docs, tot.n_killed
        |FROM pg CROSS JOIN tot ORDER BY gate""".stripMargin)),

    Q("c_gopher_gates",
      (s, dir) => Curation.gopherGates(
          Tables.documents(s, dir), "doc_id", "text",
          minWords = 50L, maxWords = 100000L)
        .orderBy(col("doc_id")),
      Some("""WITH d AS (SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), x -> x != '') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_word_len,
        |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
        |    CAST(len(list_filter(toks, t -> t IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stop,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |    CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ellipsis
        |  FROM d)
        |SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_stop, n_hash, n_ellipsis,
        |  CAST(sum_word_len AS DOUBLE)/CAST(n_words AS DOUBLE) AS mean_word_len,
        |  CAST(n_alpha_words AS DOUBLE)/CAST(n_words AS DOUBLE) AS alpha_frac,
        |  CAST(n_hash + n_ellipsis AS DOUBLE)/CAST(n_words AS DOUBLE) AS symbol_ratio,
        |  n_words >= 50 AND n_words <= 100000 AS pass_word_count,
        |  sum_word_len >= 3*n_words AND sum_word_len <= 10*n_words AS pass_mean_len,
        |  5*n_alpha_words >= 4*n_words AS pass_alpha,
        |  10*(n_hash + n_ellipsis) <= n_words AS pass_symbol,
        |  n_stop >= 2 AS pass_stop,
        |  (n_words >= 50 AND n_words <= 100000)
        |    AND (sum_word_len >= 3*n_words AND sum_word_len <= 10*n_words)
        |    AND (5*n_alpha_words >= 4*n_words)
        |    AND (10*(n_hash + n_ellipsis) <= n_words)
        |    AND (n_stop >= 2) AS pass
        |FROM c ORDER BY doc_id""".stripMargin)),


    // L42 — TABLE PROFILER (the ANALYZE pass): per column of documents,
    // row/null counts, exact ndv, string-form min/max, and the KMV ndv
    // ESTIMATE side by side — one single-pass partial+final aggregation
    // for ALL columns, unpivoted to a row per column. The oracle unrolls
    // the same stats per column and the same public-md5 KMV order
    // statistic.
    Q("c_table_profile",
      (s, dir) => Curation.profileTable(
          Tables.documents(s, dir),
          Seq("doc_id", "lang", "n_chars", "source", "text"), kmvK = 16)
        .orderBy(col("column")),
      Some {
        val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
        val blocks = cols.map { c =>
          s"""(SELECT '$c' AS "column",
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_rows,
             |  (SELECT CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM documents) AS n_nulls,
             |  (SELECT CAST(COUNT(DISTINCT $c) AS BIGINT) FROM documents) AS ndv_exact,
             |  (SELECT MIN(CAST($c AS VARCHAR)) FROM documents) AS min_str,
             |  (SELECT MAX(CAST($c AS VARCHAR)) FROM documents) AS max_str,
             |  (SELECT CASE WHEN MAX(CASE WHEN rn = 16 THEN hv END) IS NULL
             |     THEN CAST(COUNT(*) AS DOUBLE)
             |     ELSE 15.0 * 1152921504606846976.0
             |       / CAST(MAX(CASE WHEN rn = 16 THEN hv END) AS DOUBLE) END
             |   FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM (
             |     SELECT DISTINCT CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
             |     FROM documents WHERE $c IS NOT NULL) h) r
             |   WHERE rn <= 16) AS ndv_kmv_est)""".stripMargin
        }
        blocks.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
      }),


    // L36 — cross-source OVERLAP MATRIX: distinct shared shingles +
    // shingle-set Jaccard for every source pair — the contamination /
    // redundancy audit before mixing sources into a training blend. The
    // (source, shingle) distinct collapses document frequency before the
    // self-join, so hot shingles cost |sources|² rows, never df².
    Q("c_source_overlap",
      (s, dir) => Curation.sourceOverlap(
          Tables.documents(s, dir), "source", "text", shingleN = 3)
        .orderBy(col("source_a"), col("source_b")),
      Some(s"""WITH ds AS (SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x != '') AS toks FROM documents),
        |tt AS (SELECT doc_id, source, unnest(toks) AS tok,
        |    unnest(range(len(toks))) AS i FROM ds),
        |s0 AS (SELECT source, tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS shingle
        |  FROM tt WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |ss AS (SELECT DISTINCT source, shingle FROM s0 WHERE shingle IS NOT NULL),
        |n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM ss GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, na.n_sh AS n_a, nb.n_sh AS n_b, p.n_shared,
        |  CAST(p.n_shared AS DOUBLE) / CAST(na.n_sh + nb.n_sh - p.n_shared AS DOUBLE) AS jaccard
        |FROM p JOIN n na ON na.source = p.source_a JOIN n nb ON nb.source = p.source_b
        |ORDER BY p.source_a, p.source_b""".stripMargin)),


    // L123 — SKETCHED SOURCE-OVERLAP MATRIX: the exact L36 join above
    // reduced to bounded KMV sketches per source (k=16, ≤16 longs of
    // state, map-side-combined) — pairwise union/Jaccard/intersection
    // estimates from the tiny sketch table alone; the corpus is
    // touched once however many sources exist. Same public-md5 hash
    // convention as L31, so the approximate sketch replays exactly.
    Q("c_overlap_sketch",
      (s, dir) => Curation.sourceOverlapSketch(
          Tables.documents(s, dir), "source", "text", shingleN = 3, k = 16)
        .orderBy(col("source_a"), col("source_b")),
      Some("""WITH ds AS (SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x != '') AS toks FROM documents),
        |tt AS (SELECT doc_id, source, unnest(toks) AS tok,
        |    unnest(range(len(toks))) AS i FROM ds),
        |s0 AS (SELECT source, tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS shingle
        |  FROM tt WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |sh AS (SELECT DISTINCT source, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS hv
        |  FROM s0 WHERE shingle IS NOT NULL),
        |r AS (SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM sh),
        |sk AS (SELECT source, list(hv ORDER BY hv) AS sk FROM r WHERE rn <= 16 GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b, a.sk AS ska, b.sk AS skb
        |  FROM sk a JOIN sk b ON a.source < b.source),
        |uu AS (SELECT source_a, source_b, ska, skb,
        |  list_sort(list_distinct(ska || skb))[1:16] AS u FROM p),
        |m AS (SELECT source_a, source_b,
        |  CAST(len(u) AS BIGINT) AS k_union,
        |  CAST(len(list_filter(u, h -> list_contains(ska, h) AND list_contains(skb, h))) AS BIGINT) AS n_common,
        |  len(u) < 16 AS union_exact,
        |  u[16] AS kth FROM uu)
        |SELECT source_a, source_b, k_union, n_common, union_exact,
        |  CAST(n_common AS DOUBLE) / CAST(k_union AS DOUBLE) AS j_est,
        |  CASE WHEN union_exact THEN CAST(k_union AS DOUBLE)
        |       ELSE (15.0 * 1152921504606846976.0) / CAST(kth AS DOUBLE) END AS union_est,
        |  (CAST(n_common AS DOUBLE) / CAST(k_union AS DOUBLE)) *
        |  (CASE WHEN union_exact THEN CAST(k_union AS DOUBLE)
        |        ELSE (15.0 * 1152921504606846976.0) / CAST(kth AS DOUBLE) END) AS inter_est
        |FROM m ORDER BY source_a, source_b""".stripMargin)),


    // L37 — per-source VOCABULARY stats: token count, vocabulary size,
    // type-token ratio. Two-level hash agg; TTR one exact division.
    Q("c_vocab_stats",
      (s, dir) => Curation.vocabStats(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source")),
      Some(s"""WITH $toksSqlCte,
        |src AS (SELECT d.doc_id, dd.source, d.toks FROM d
        |  JOIN documents dd ON dd.doc_id = d.doc_id),
        |t AS (SELECT source, unnest(toks) AS tok FROM src)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types,
        |  CAST(COUNT(DISTINCT tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS type_token_ratio
        |FROM t GROUP BY source ORDER BY source""".stripMargin)),


    // L43 — DSIR importance scoring (Xie et al. 2023): rank raw docs by
    // target-likeness over hashed bigram features. Target = the English
    // slice; the log-likelihood-ratio weight is replaced by the
    // integer-exact cross-multiplied surrogate (same per-feature sign),
    // so the oracle reproduces every score bit-for-bit. Bucket tables
    // are fixed-width (4096) regardless of corpus size — both
    // broadcast; the corpus side is two hash aggs, no wide shuffle.
    Q("c_dsir_score",
      (s, dir) => Curation.dsirScoresTagged(Tables.documents(s, dir),
          col("lang") === "en",
          "doc_id", "text", buckets = 4096, shingleN = 2)
        .orderBy(col("doc_id")),
      Some("""WITH d AS (SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> x != '') AS toks FROM documents),
        |tt AS (SELECT doc_id, lang, unnest(toks) AS tok,
        |    unnest(range(len(toks))) AS i FROM d),
        |g0 AS (SELECT doc_id, lang, tok || ' ' || lead(tok, 1)
        |    OVER (PARTITION BY doc_id ORDER BY i) AS g FROM tt),
        |f AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5(g), 1, 8))::BIGINT % 4096 AS bucket
        |  FROM g0 WHERE g IS NOT NULL),
        |tc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct FROM f
        |  WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr FROM f GROUP BY 1),
        |tn AS (SELECT CAST(SUM(ct) AS BIGINT) AS n_tgt FROM tc),
        |rn AS (SELECT CAST(SUM(cr) AS BIGINT) AS n_raw FROM rc),
        |tf AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM f GROUP BY 1, 2),
        |sc AS (SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_feats,
        |    CAST(SUM(tf.tf * (COALESCE(tc.ct, 0) * rn.n_raw
        |      - rc.cr * tn.n_tgt)) AS BIGINT) AS score
        |  FROM tf JOIN rc USING (bucket) LEFT JOIN tc USING (bucket)
        |  CROSS JOIN tn CROSS JOIN rn
        |  GROUP BY 1)
        |SELECT doc_id, n_feats, score, score > 0 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin)),


    // L44 — n-gram NOVELTY: the fraction of a doc's distinct 3-gram
    // shingles appearing in no other document — the inverse boilerplate
    // signal. df collapses on the distinct (doc, shingle) table; one
    // shingle-keyed hash agg + join back + per-doc agg.
    Q("c_novelty",
      // the 3-gram shingle table here is exactly the session-staged one
      // (same docs/id/text/N) and feeds two plan branches — read it
      // instead of re-deriving it twice
      (s, dir) => Curation.noveltyStatsFrom(sessionShingles(s, dir), "doc_id")
        .orderBy(col("doc_id")),
      Some(s"""WITH $shingleSqlCte,
        |dfc AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sd GROUP BY 1)
        |SELECT sd.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS novel_frac
        |FROM sd JOIN dfc USING (shingle)
        |GROUP BY sd.doc_id ORDER BY sd.doc_id""".stripMargin)),


    // L47 — PER-DOMAIN CAP (RefinedWeb-style domain balancing): the
    // corpus has no URL column, so one is derived deterministically
    // from doc_id (md5-slice host + tld, mirrored verbatim in the
    // oracle — the PII-scrub posture), then host extraction is Spark's
    // native parse_url, blocklisted hosts drop via broadcast anti join,
    // and each host keeps its best 5 docs through the bounded-state
    // TopKAgg — giant hosts ship 5 rows per map partition, not all.
    Q("c_domain_cap",
      (s, dir) => {
        val md = md5(col("doc_id").cast("string"))
        val docs = Tables.documents(s, dir).withColumn("url",
          concat(lit("https://h"),
            pmod(conv(substring(md, 1, 6), 16, 10).cast("long"), lit(37L)),
            lit(".example."),
            element_at(array(lit("com"), lit("org"), lit("net")),
              (pmod(conv(substring(md, 7, 6), 16, 10).cast("long"), lit(3L)) + 1L)
                .cast("int")),
            lit("/p/"), col("doc_id")))
        Curation.domainCap(docs, "doc_id", "url", "n_chars",
          cap = 5, blocked = Seq("h3.example.com", "h17.example.org"))
      },
      Some("""WITH u AS (SELECT doc_id, n_chars,
        |    'h' || CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 37 AS VARCHAR)
        |      || '.example.'
        |      || ['com','org','net'][CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 7, 6))::BIGINT % 3 AS INTEGER) + 1]
        |      AS host
        |  FROM documents),
        |f AS (SELECT * FROM u
        |  WHERE host NOT IN ('h3.example.com', 'h17.example.org')),
        |g AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n_host FROM f GROUP BY 1),
        |r AS (SELECT host, doc_id, n_chars,
        |    CAST(row_number() OVER (PARTITION BY host
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank
        |  FROM f)
        |SELECT r.host, g.n_host, r.rank, r.doc_id, r.n_chars
        |FROM r JOIN g USING (host)
        |WHERE rank <= 5 ORDER BY host, rank""".stripMargin)),


    // L48 — TIME-DECAYED COUNTS (half-life = 1 day): the recency
    // weighting behind "trending" rankings, exactly: per-row weight is
    // the integer 2^(day − minDay) (a shift, never float pow), one
    // map-side-combined sum per event_type, one final division by
    // 2^(maxDay − minDay). The checked columns stay integral; the one
    // double is a single division, bit-stable cross-engine.
    Q("c_decayed_counts",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        Curation.decayedCounts(
          ev.select(col("event_type"), Tables.tsUs(ev).as("tus")),
          "event_type", "tus", bucketUs = 86400000000L)
      },
      Some(decayedOracleSql)),


    // L49 — deterministic BOTTOM-K-BY-HASH per-group sample: fixed-size
    // uniform sample per language, mergeable across shards/batches (the
    // union's bottom-k is the bottom-k of the parts), bounded-state via
    // TopKAgg on the negated 60-bit md5 prefix — no per-group sort of
    // the full corpus, the one-pass sampling shape for 100 TB.
    Q("c_bottomk_sample",
      (s, dir) => Curation.bottomKSample(
        Tables.documents(s, dir), "lang", "doc_id", 10),
      Some(bottomkOracleSql)),


    // L57 — Z-ORDER DATA LAYOUT + MIN-MAX FILE SKIPPING (Delta OPTIMIZE
    // ZORDER / Iceberg sort-order analog): events clustered by the
    // bit-interleaved (user_id, event-time) key so per-file min/max
    // envelopes are tight in BOTH dimensions and a range predicate on
    // either column prunes most files. All-integer bucket + interleave
    // math, mirrored term-for-term in the oracle; the result is the
    // per-file stats manifest a skipping scan consults. OpsSpec asserts
    // the actual pruning win over a linear time-sorted layout.
    Q("c_zorder_layout",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        Curation.zorderLayout(
          ev.select(col("user_id"), Tables.tsUs(ev).as("tus"), col("event_id")),
          "user_id", "tus", "event_id", bits = 12, rowsPerFile = 4096)
      },
      Some(zorderOracleSql(bits = 12, rowsPerFile = 4096))),


    // L189 — HILBERT-CURVE LAYOUT: the locality upgrade over L57 —
    // consecutive Hilbert indices are always Manhattan-adjacent (no
    // power-of-2-seam jumps), so file envelopes tighten and range
    // scans prune more (the Delta liquid-clustering move). Same
    // bounds/buckets/manifest as c_zorder_layout; the xy2d fold runs
    // as ONE aggregate HOF (linear expression size) and the oracle
    // unrolls it per level with fresh column names.
    Q("c_hilbert_layout",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        Curation.hilbertLayout(
          ev.select(col("user_id"), Tables.tsUs(ev).as("tus"), col("event_id")),
          "user_id", "tus", "event_id", bits = 12, rowsPerFile = 4096)
      },
      Some(hilbertOracleSql(bits = 12, rowsPerFile = 4096))),


    // L60 — LEAKAGE-SAFE TRAIN/VAL/TEST SPLIT: split by NEAR-DUP
    // COMPONENT, never by document, so no near-dup pair straddles the
    // split boundary and eval never scores memorization. Components over
    // the same banded MinHash pair graph as dedup_components (shared
    // oracle CTEs), then a deterministic 60-bit md5 hash of the
    // COMPONENT id into 10 buckets: 0-7 train, 8 val, 9 test — a pure
    // function of content, reproducible across runs and shards.
    Q("c_split_leakage_safe",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Curation.leakageSafeSplit(docs, sessionMinhashPairs(s, dir), "doc_id",
          nBuckets = 10, trainHi = 8, valHi = 9,
          ccLabels = Some(sessionCcLabels(s, dir)))
      },
      Some(s"""WITH RECURSIVE $nearDupCcSqlCtes,
        |hb AS (SELECT doc_id, component,
        |    ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15))::BIGINT % 10 AS bucket
        |  FROM lbl)
        |SELECT doc_id, component, bucket,
        |  CASE WHEN bucket < 8 THEN 'train' WHEN bucket < 9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM hb ORDER BY doc_id""".stripMargin)),


    // L64 — CCNet-style LM FAMILIARITY filter (Wenzek et al. 2020):
    // rank docs by mean smoothed bigram probability under a model
    // trained on the trusted slice (here: lang='en'). Integer-exact
    // per-bigram floor(scale·(c2+1)/(c1+V)) — see Curation.lmFamiliarity;
    // the oracle reproduces every score and the adaptive below-corpus-
    // mean flag bit-for-bit (cross-multiplied in HUGEINT/DECIMAL38).
    Q("c_lm_familiarity",
      (s, dir) => {
        // read the session-memoized (c2, c1, vocab) model tables (the
        // next-token/DoReMi memo) instead of re-aggregating the en
        // corpus's bigram + unigram tables per run
        val docs = Tables.documents(s, dir)
        val (c2, c1, vocab) = sessionLmModel(s, dir)
        Curation.lmFamiliarityFrom(docs, c2, c1, vocab,
            "doc_id", "text", scale = 1000000L)
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> x != '') AS toks FROM documents),
        |tt AS (SELECT doc_id, lang, unnest(toks) AS tok,
        |    unnest(range(len(toks))) AS i FROM d),
        |bg0 AS (SELECT doc_id, lang, tok AS w1, tok || ' ' || lead(tok, 1)
        |    OVER (PARTITION BY doc_id ORDER BY i) AS g FROM tt),
        |bg AS (SELECT doc_id, lang, w1, g FROM bg0 WHERE g IS NOT NULL),
        |c2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg
        |  WHERE lang = 'en' GROUP BY 1),
        |c1 AS (SELECT tok AS w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM tt
        |  WHERE lang = 'en' GROUP BY 1),
        |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1),
        |tf AS (SELECT doc_id, g, w1, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM bg GROUP BY 1, 2, 3),
        |sc AS (SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(tf.tf * ((1000000 * (COALESCE(c2.c2, 0) + 1))
        |      // (COALESCE(c1.c1, 0) + v.v))) AS BIGINT) AS fam_sum
        |  FROM tf LEFT JOIN c2 USING (g) LEFT JOIN c1 USING (w1)
        |  CROSS JOIN v GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_bigrams) AS BIGINT) AS tot_n,
        |    CAST(SUM(fam_sum) AS BIGINT) AS tot_fam FROM sc)
        |SELECT doc_id, n_bigrams, fam_sum, fam_sum // n_bigrams AS fam_scaled,
        |  (fam_sum::HUGEINT * tot_n::HUGEINT)
        |    < (tot_fam::HUGEINT * n_bigrams::HUGEINT) AS low_familiarity
        |FROM sc CROSS JOIN tot ORDER BY doc_id""".stripMargin)),


    // L137 — LM NEXT-TOKEN TOP-K: per top-20 context word, the 3 most
    // likely continuations under the SAME session-memoized bigram
    // model tables the familiarity gate joins, with the identical
    // Laplace-smoothed scaled-integer probability — the completion
    // table an engineer reads to sanity-check the trained filter model.
    Q("c_lm_next_token",
      (s, dir) => {
        val (c2, c1, vocab) = sessionLmModel(s, dir)
        Curation.lmNextTokenTopK(c2, c1, vocab,
            nContexts = 20, k = 3, scale = 1000000L)
          .orderBy(col("ctx"), col("rnk"))
      },
      Some(s"""WITH $toksSqlCte,
        |tt AS (SELECT doc_id, lang, unnest(toks) AS tok,
        |    unnest(range(len(toks))) AS i FROM d),
        |bg0 AS (SELECT doc_id, lang, tok AS w1, tok || ' ' || lead(tok, 1)
        |    OVER (PARTITION BY doc_id ORDER BY i) AS g FROM tt),
        |bg AS (SELECT doc_id, lang, w1, g FROM bg0 WHERE g IS NOT NULL),
        |c2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg
        |  WHERE lang = 'en' GROUP BY 1),
        |c1 AS (SELECT tok AS w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM tt
        |  WHERE lang = 'en' GROUP BY 1),
        |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1),
        |ctx AS (SELECT w1 AS ctx, c1 AS ctx_n FROM c1
        |  ORDER BY c1 DESC, w1 LIMIT 20),
        |nx AS (SELECT ctx.ctx, ctx.ctx_n,
        |    string_split(c2.g, ' ')[2] AS next_tok, c2.c2 AS cnt
        |  FROM c2 JOIN ctx ON string_split(c2.g, ' ')[1] = ctx.ctx),
        |p AS (SELECT ctx, next_tok, cnt,
        |  CAST((1000000 * (cnt + 1)) // (ctx_n + v.v) AS BIGINT) AS p_scaled,
        |  CAST(row_number() OVER (PARTITION BY ctx
        |    ORDER BY cnt DESC, next_tok) AS BIGINT) AS rnk
        |  FROM nx CROSS JOIN v)
        |SELECT ctx, rnk, next_tok, cnt, p_scaled FROM p WHERE rnk <= 3
        |ORDER BY ctx, rnk""".stripMargin)),


    // L138 — DoReMi-STYLE MIXTURE REWEIGHTING: one integer-exact round
    // of the multiplicative-weights loop — per-source familiarity vs
    // the corpus mean (cross-multiplied, no division), hard sources
    // double their weight, Hamilton re-allocates the 1M-slot budget.
    // Reuses the session-memoized model tables.
    Q("c_doremi_reweight",
      (s, dir) => {
        val base = Tables.documents(s, dir)
        val (c2, c1, vocab) = sessionLmModel(s, dir)
        Curation.doremiReweight(base, "source", "text", c2, c1, vocab,
            scale = 1000000L, budget = 1000000L)
          .orderBy(col("source"))
      },
      Some("""WITH dd AS (SELECT doc_id, lang, source,
        |    list_filter(string_split(text, ' '), x -> x != '') AS toks FROM documents),
        |tt AS (SELECT doc_id, lang, source, unnest(toks) AS tok,
        |    unnest(range(len(toks))) AS i FROM dd),
        |bg0 AS (SELECT doc_id, lang, source, tok AS w1, tok || ' ' || lead(tok, 1)
        |    OVER (PARTITION BY doc_id ORDER BY i) AS g FROM tt),
        |bg AS (SELECT doc_id, lang, source, w1, g FROM bg0 WHERE g IS NOT NULL),
        |c2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg
        |  WHERE lang = 'en' GROUP BY 1),
        |c1 AS (SELECT tok AS w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM tt
        |  WHERE lang = 'en' GROUP BY 1),
        |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1),
        |tf AS (SELECT source, g, w1, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM bg GROUP BY 1, 2, 3),
        |sc AS (SELECT tf.source, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(tf.tf * ((1000000 * (COALESCE(c2.c2, 0) + 1))
        |      // (COALESCE(c1.c1, 0) + v.v))) AS BIGINT) AS fam_sum
        |  FROM tf LEFT JOIN c2 USING (g) LEFT JOIN c1 USING (w1)
        |  CROSS JOIN v GROUP BY 1),
        |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_bigrams) AS BIGINT) AS tot_n,
        |    CAST(SUM(fam_sum) AS BIGINT) AS tot_fam FROM sc),
        |fl AS (SELECT sc.source, nd.n_docs, sc.n_bigrams,
        |    sc.fam_sum // sc.n_bigrams AS fam_scaled,
        |    (sc.fam_sum::HUGEINT * tot.tot_n::HUGEINT)
        |      < (tot.tot_fam::HUGEINT * sc.n_bigrams::HUGEINT) AS hard
        |  FROM sc JOIN nd USING (source) CROSS JOIN tot),
        |ww AS (SELECT source, n_docs, n_bigrams, fam_scaled, hard,
        |    CAST(n_docs * CASE WHEN hard THEN 2 ELSE 1 END AS BIGINT) AS w FROM fl),
        |wt AS (SELECT *, CAST(SUM(w) OVER () AS BIGINT) AS T FROM ww),
        |ha AS (SELECT *, (1000000 * w) // T AS fl2, (1000000 * w) % T AS rem FROM wt),
        |hr AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
        |    1000000 - CAST(SUM(fl2) OVER () AS BIGINT) AS leftover FROM ha)
        |SELECT source, n_docs, n_bigrams, fam_scaled, hard, w,
        |  CAST(fl2 + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM hr ORDER BY source""".stripMargin)),


    // L66 — C4-style BOILERPLATE STRIP: lines (5-token windows) whose
    // document frequency reaches 2 are removed from every doc; the
    // cleaned text is checked via md5 of the kept lines in order
    // (Curation.stripBoilerplate), not just counts. Contrast
    // c_dedup_lines, which keeps first occurrences.
    Q("c_boilerplate_strip",
      (s, dir) => Curation.stripBoilerplate(Tables.documents(s, dir),
          "doc_id", "text", lineLen = 5, minDf = 2L)
        .orderBy(col("doc_id")),
      Some(s"""WITH $toksSqlCte,
        |tt AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS i FROM d),
        |ln AS (SELECT doc_id, i // 5 AS line_no,
        |  string_agg(tok, ' ' ORDER BY i) AS line, COUNT(*) AS n_toks
        |  FROM tt GROUP BY doc_id, i // 5),
        |dfc AS (SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS line_df
        |  FROM ln GROUP BY 1)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN line_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  CAST(SUM(CASE WHEN line_df < 2 THEN n_toks ELSE 0 END) AS BIGINT) AS n_toks_kept,
        |  md5(COALESCE(string_agg(CASE WHEN line_df < 2 THEN line END,
        |    ' ' ORDER BY line_no), '')) AS clean_md5
        |FROM ln JOIN dfc USING (line)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),


    // L69 — UniMax BUDGET-CAPPED language allocation (Chung et al.
    // 2023): integer water-filling of a 15k-token budget over per-lang
    // token counts — low-resource langs keep everything, high-resource
    // ones cap at the common level; the floor remainder is reported,
    // not smeared (contrast c_mix_weights' largest-remainder top-up).
    Q("c_unimax_alloc",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Curation.unimaxAllocation(
            docs.select(col("lang"), TextOps.tokenCount(col("text")).as("nt"))
              .groupBy(col("lang")).agg(sum(col("nt")).as("n")),
            "lang", "n", budget = 15000L)
          .orderBy(col("lang"))
      },
      Some("""WITH d AS (SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> x != '') AS toks FROM documents),
        |cnt AS (SELECT lang, CAST(SUM(len(toks)) AS BIGINT) AS n FROM d GROUP BY 1),
        |idx AS (SELECT lang, n,
        |    CAST(row_number() OVER (ORDER BY n, lang) AS BIGINT) AS i,
        |    CAST(SUM(n) OVER (ORDER BY n, lang) AS BIGINT) AS prefix,
        |    lead(n, 1) OVER (ORDER BY n, lang) AS next_n FROM cnt),
        |l AS (SELECT CAST(COUNT(*) AS BIGINT) AS l FROM idx),
        |cand AS (SELECT i AS k, n AS nk, prefix, next_n, l.l
        |    FROM idx CROSS JOIN l
        |  UNION ALL SELECT 0, NULL, 0, NULL, l FROM l),
        |ch AS (SELECT k, CASE WHEN k < l THEN (15000 - prefix) // (l - k) END AS t,
        |    prefix AS pk, l
        |  FROM cand
        |  WHERE (k = l AND prefix <= 15000)
        |     OR (k < l AND (k = 0 OR (15000 - prefix) // (l - k) >= nk)
        |         AND ((15000 - prefix) // (l - k) < next_n OR next_n IS NULL))
        |  ORDER BY k DESC LIMIT 1)
        |SELECT idx.lang, idx.n,
        |  CASE WHEN idx.i <= ch.k THEN idx.n ELSE ch.t END AS alloc,
        |  ch.t AS level,
        |  15000 - (CASE WHEN ch.k = ch.l THEN ch.pk
        |    ELSE ch.pk + (ch.l - ch.k) * ch.t END) AS leftover
        |FROM idx CROSS JOIN ch ORDER BY lang""".stripMargin)),


    // L70 — URL/DOMAIN BLOCKLIST gate (RefinedWeb/UT1, Penedo 2023
    // §3.1): corpus has no URLs, so (c_pii_scrub precedent) docs are
    // augmented with deterministic doc_id-derived URLs IDENTICALLY in
    // Spark and the oracle — even ids get https://www.dom{id%23}.com
    // with a /casino path every third — then gated: normalized domain
    // probes the broadcast blocklist, path scans for flagged words.
    Q("c_url_blocklist",
      (s, dir) => {
        val aug = Tables.documents(s, dir).select(col("doc_id"), concat(
          col("text"),
          when(pmod(col("doc_id"), lit(2L)) === 0L, concat(
            lit(" visit https://www.dom"),
            pmod(col("doc_id"), lit(23L)).cast("string"), lit(".com"),
            when(pmod(col("doc_id"), lit(3L)) === 0L, lit("/casino/x"))
              .otherwise(concat(lit("/p"),
                pmod(col("doc_id"), lit(11L)).cast("string")))))
            .otherwise(lit(""))).as("text"))
        Curation.urlBlocklistGate(aug, "doc_id", "text",
            blockedDomains = Seq("dom1.com", "dom4.com", "dom7.com"),
            badPathWords = Seq("casino"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH aug AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 2 = 0 THEN ' visit https://www.dom'
        |    || CAST(doc_id % 23 AS VARCHAR) || '.com' ||
        |    CASE WHEN doc_id % 3 = 0 THEN '/casino/x'
        |      ELSE '/p' || CAST(doc_id % 11 AS VARCHAR) END
        |  ELSE '' END AS t FROM documents),
        |bl(bdom) AS (VALUES ('dom1.com'), ('dom4.com'), ('dom7.com')),
        |u AS (SELECT doc_id,
        |  nullif(regexp_extract(t, 'https?://[^\s]+', 0), '') AS url FROM aug),
        |x AS (SELECT doc_id, url,
        |  regexp_replace(lower(regexp_extract(url, 'https?://([^/\s]+)', 1)),
        |    '^www\.', '') AS domain,
        |  nullif(regexp_extract(url, 'https?://[^/\s]+(/[^\s]*)', 1), '') AS path
        |  FROM u)
        |SELECT doc_id, CASE WHEN url IS NOT NULL THEN domain END AS domain,
        |  COALESCE(bl.bdom IS NOT NULL, FALSE) AS blocked_domain,
        |  COALESCE(contains(path, 'casino'), FALSE) AS blocked_path,
        |  NOT COALESCE(bl.bdom IS NOT NULL, FALSE)
        |    AND NOT COALESCE(contains(path, 'casino'), FALSE) AS keep
        |FROM x LEFT JOIN bl ON bl.bdom = x.domain
        |ORDER BY doc_id""".stripMargin)),


    // L79 — SEQUENCE PACKING (next-fit): docs laid end-to-end into
    // 1024-token context windows, 8 independent per-shard sequential
    // packs via the secondary-sort pattern (repartition on shard +
    // spill-friendly sortWithinPartitions + one mapPartitions pass
    // holding three longs of state) — no shard ever needs to fit in
    // memory. The oracle replays the same fold as a recursive CTE
    // advancing all shards one position per step.
    Q("c_pack_nextfit",
      (s, dir) => Curation.packNextFit(
          Tables.documents(s, dir)
            .select(col("doc_id"), TextOps.tokenCount(col("text")).as("nt")),
          "doc_id", "nt", nShards = 8, budget = 1024L)
        .withColumnRenamed("len", "nt")
        .orderBy(col("shard"), col("pos")),
      Some(s"""WITH RECURSIVE $toksSqlCte,
        |o AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS len,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM d),
        |q AS (SELECT doc_id, len, h, h % 8 AS shard,
        |    CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
        |      AS BIGINT) AS pos
        |  FROM o),
        |p AS (
        |  SELECT doc_id, shard, pos, CAST(0 AS BIGINT) AS bin,
        |    CAST(0 AS BIGINT) AS off, len, len AS used
        |  FROM q WHERE pos = 1
        |  UNION ALL
        |  SELECT q.doc_id, q.shard, q.pos,
        |    CASE WHEN p.used > 0 AND p.used + q.len > 1024
        |      THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.used > 0 AND p.used + q.len > 1024
        |      THEN CAST(0 AS BIGINT) ELSE p.used END,
        |    q.len,
        |    CASE WHEN p.used > 0 AND p.used + q.len > 1024
        |      THEN q.len ELSE p.used + q.len END
        |  FROM p JOIN q ON q.shard = p.shard AND q.pos = p.pos + 1)
        |SELECT doc_id, shard, pos, bin, off, len AS nt
        |FROM p ORDER BY shard, pos""".stripMargin)),


    // L128 — PADDING-MINIMAL LENGTH BUCKETING: the 3-bucket boundary
    // pair (b1 < b2 < max) minimizing total padding when every doc pads
    // to its bucket cap (dynamic-batching bucket design). One corpus
    // pass reduces to per-distinct-length (count, sum) — clamped to 512
    // so the candidate space is ≤ 512² pairs REGARDLESS of corpus size;
    // prefix sums + exhaustive enumeration give the exact argmin in
    // pure longs, ties to the smaller (b1, b2).
    Q("c_length_buckets",
      (s, dir) => Curation.lengthBuckets(
          Tables.documents(s, dir)
            .select(TextOps.tokenCount(col("text")).as("nt")),
          "nt", capLen = 512)
        .orderBy(col("bucket")),
      Some(s"""WITH $toksSqlCte,
        |ln AS (SELECT least(CAST(len(toks) AS BIGINT), 512) AS len FROM d),
        |dl AS (SELECT len, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(len) AS BIGINT) AS s FROM ln GROUP BY len),
        |pf AS (SELECT len,
        |  CAST(SUM(n) OVER (ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS BIGINT) AS cum_n,
        |  CAST(SUM(s) OVER (ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS BIGINT) AS cum_s FROM dl),
        |tt AS (SELECT CAST(MAX(len) AS BIGINT) AS m, CAST(SUM(n) AS BIGINT) AS nt,
        |  CAST(SUM(s) AS BIGINT) AS st FROM dl),
        |bc AS (SELECT a.len AS l1, a.cum_n AS n1, a.cum_s AS s1,
        |    b.len AS l2, b.cum_n AS n2, b.cum_s AS s2, tt.m, tt.nt, tt.st,
        |    a.len*a.cum_n - a.cum_s + b.len*(b.cum_n - a.cum_n) - (b.cum_s - a.cum_s)
        |      + tt.m*(tt.nt - b.cum_n) - (tt.st - b.cum_s) AS cost
        |  FROM pf a JOIN pf b ON a.len < b.len, tt WHERE b.len < tt.m),
        |bw AS (SELECT * FROM bc ORDER BY cost, l1, l2 LIMIT 1)
        |SELECT CAST(0 AS BIGINT) AS bucket, l1 AS cap_len, n1 AS n_docs,
        |  l1*n1 - s1 AS pad_tokens FROM bw
        |UNION ALL SELECT CAST(1 AS BIGINT), l2, n2 - n1,
        |  l2*(n2 - n1) - (s2 - s1) FROM bw
        |UNION ALL SELECT CAST(2 AS BIGINT), m, nt - n2,
        |  m*(nt - n2) - (st - s2) FROM bw
        |ORDER BY bucket""".stripMargin)),


    // L129 — ISOTONIC (PAV) CALIBRATION of the stopword-ratio score
    // against the is-English outcome: raw per-decile P(en) rarely comes
    // out monotone; the PAV fit (via the minimax identity cal_i =
    // max_{j≤i} min_{k≥i} rate(j..k), fully relational) pools adjacent
    // violators into the best non-decreasing curve — what a quality
    // threshold should be read off of. One corpus pass to (bin, n,
    // pos); everything after is bounded by nBins³ = 1000 rows.
    Q("c_isotonic_pav",
      (s, dir) => {
        val binned = docToks(s, dir)
          .select(col("lang"), size(col("toks")).cast("long").as("nt"),
            TextOps.stopwordHits(col("toks"), TextOps.langMarkers.head._2).as("sh"))
          .withColumn("bin", least(expr("sh * 10L div nt"), lit(9L)))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"))
        Curation.isotonicCalibrate(binned).orderBy(col("bin"))
      },
      Some(s"""WITH $toksSqlCte,
        |pd AS (SELECT lang, CAST(len(toks) AS BIGINT) AS nt,
        |  CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t))) AS BIGINT) AS sh
        |  FROM d),
        |bd AS (SELECT least(sh * 10 // nt, 9) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM pd GROUP BY 1),
        |pf AS (SELECT bin, n, pos,
        |  CAST(SUM(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS BIGINT) AS cum_n,
        |  CAST(SUM(pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS BIGINT) AS cum_p FROM bd),
        |a AS (SELECT j.bin AS j, k.bin AS k,
        |  CAST(k.cum_p - (j.cum_p - j.pos) AS DOUBLE)
        |    / CAST(k.cum_n - (j.cum_n - j.n) AS DOUBLE) AS rate
        |  FROM pf j JOIN pf k ON j.bin <= k.bin),
        |m AS (SELECT i.bin AS i, a.j, MIN(a.rate) AS mn FROM bd i
        |  JOIN a ON a.j <= i.bin AND a.k >= i.bin GROUP BY 1, 2),
        |c AS (SELECT i, MAX(mn) AS calibrated FROM m GROUP BY i)
        |SELECT bd.bin, bd.n, bd.pos,
        |  CAST(bd.pos AS DOUBLE) / CAST(bd.n AS DOUBLE) AS raw, c.calibrated
        |FROM bd JOIN c ON c.i = bd.bin ORDER BY bd.bin""".stripMargin)),


    // L131 — FEISTEL EPOCH SHUFFLE: exact bijective per-epoch
    // permutation of the id domain (4-round Feistel, md5 round
    // function) — every doc exactly once per epoch BY CONSTRUCTION,
    // O(1) seek via the inverse, identical replay on restart. Pure
    // per-row column expressions, no shuffle at any corpus size. The
    // oracle replays permute AND invert round-by-round: `recovered`
    // must equal doc_id on every row — bijectivity is checked
    // structurally, not statistically.
    Q("c_epoch_shuffle",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"))
        Seq(0, 1).map { e =>
          docs.select(lit(e.toLong).as("epoch"), col("doc_id"),
              Curation.feistelPermute(col("doc_id"), e).as("perm"))
            .withColumn("recovered", Curation.feistelInvert(col("perm"), e))
        }.reduce(_ unionByName _).orderBy(col("epoch"), col("perm"))
      },
      Some("""WITH e(epoch) AS (SELECT * FROM (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT)))),
        |s0 AS (SELECT e.epoch, d.doc_id,
        |  (doc_id // 65536) % 65536 AS l0, doc_id % 65536 AS r0 FROM documents d, e),
        |s1 AS (SELECT epoch, doc_id, r0 AS l1, xor(l0,
        |  ('0x' || substr(md5(concat(CAST(r0 AS VARCHAR), '|0|', CAST(epoch AS VARCHAR))), 1, 4))::BIGINT) AS r1 FROM s0),
        |s2 AS (SELECT epoch, doc_id, r1 AS l2, xor(l1,
        |  ('0x' || substr(md5(concat(CAST(r1 AS VARCHAR), '|1|', CAST(epoch AS VARCHAR))), 1, 4))::BIGINT) AS r2 FROM s1),
        |s3 AS (SELECT epoch, doc_id, r2 AS l3, xor(l2,
        |  ('0x' || substr(md5(concat(CAST(r2 AS VARCHAR), '|2|', CAST(epoch AS VARCHAR))), 1, 4))::BIGINT) AS r3 FROM s2),
        |s4 AS (SELECT epoch, doc_id, r3 AS l4, xor(l3,
        |  ('0x' || substr(md5(concat(CAST(r3 AS VARCHAR), '|3|', CAST(epoch AS VARCHAR))), 1, 4))::BIGINT) AS r4 FROM s3),
        |p AS (SELECT epoch, doc_id, l4 * 65536 + r4 AS perm, l4, r4 FROM s4),
        |i3 AS (SELECT epoch, doc_id, perm, xor(r4,
        |  ('0x' || substr(md5(concat(CAST(l4 AS VARCHAR), '|3|', CAST(epoch AS VARCHAR))), 1, 4))::BIGINT) AS l3, l4 AS r3 FROM p),
        |i2 AS (SELECT epoch, doc_id, perm, xor(r3,
        |  ('0x' || substr(md5(concat(CAST(l3 AS VARCHAR), '|2|', CAST(epoch AS VARCHAR))), 1, 4))::BIGINT) AS l2, l3 AS r2 FROM i3),
        |i1 AS (SELECT epoch, doc_id, perm, xor(r2,
        |  ('0x' || substr(md5(concat(CAST(l2 AS VARCHAR), '|1|', CAST(epoch AS VARCHAR))), 1, 4))::BIGINT) AS l1, l2 AS r1 FROM i2),
        |i0 AS (SELECT epoch, doc_id, perm, xor(r1,
        |  ('0x' || substr(md5(concat(CAST(l1 AS VARCHAR), '|0|', CAST(epoch AS VARCHAR))), 1, 4))::BIGINT) AS l0, l1 AS r0 FROM i1)
        |SELECT epoch, doc_id, perm, l0 * 65536 + r0 AS recovered FROM i0
        |ORDER BY epoch, perm""".stripMargin)),


    // L134 — LUHN-VALIDATED CARD SCRUBBING: the corpus has no card
    // numbers, so candidates are minted doc_id-derived IDENTICALLY in
    // both engines (the c_pii_scrub convention) via the shared
    // check-digit dual — even docs get the valid check digit, odd docs
    // get it off by one. The engine then re-validates every candidate
    // with the Luhn HOF chain and scrubs ONLY checksum-valid numbers:
    // regex-matching but Luhn-failing strings (order ids, tracking
    // numbers) are kept, the precision gate regex-only PII lacks.
    Q("c_pii_luhn",
      (s, dir) => {
        val prefix = concat(lit("4"),
          lpad(pmod(col("doc_id"), lit(100000000L)).cast("string"), 8, "0"),
          lit("123456"))
        val check = Curation.luhnCheckDigit(prefix)
        val digit = when(pmod(col("doc_id"), lit(2L)) === 0, check)
          .otherwise(pmod(check + 1, lit(10)))
        Tables.documents(s, dir)
          .select(col("doc_id"), concat(prefix, digit.cast("string")).as("candidate"))
          .withColumn("luhn_ok", Curation.luhnValid(col("candidate")))
          .withColumn("clean",
            when(col("luhn_ok"), lit("<CARD>")).otherwise(col("candidate")))
          .orderBy(col("doc_id"))
      },
      Some("""WITH p AS (SELECT doc_id,
        |  concat('4', lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0'), '123456') AS pre
        |  FROM documents),
        |k AS (SELECT doc_id, pre,
        |  (10 - (list_sum(list_transform(range(1, strlen(pre) + 1), i ->
        |    CASE WHEN (strlen(pre) + 1 - i + 1) % 2 = 0 THEN
        |      CASE WHEN CAST(substr(pre, CAST(i AS INTEGER), 1) AS INTEGER)*2 > 9
        |        THEN CAST(substr(pre, CAST(i AS INTEGER), 1) AS INTEGER)*2 - 9
        |        ELSE CAST(substr(pre, CAST(i AS INTEGER), 1) AS INTEGER)*2 END
        |      ELSE CAST(substr(pre, CAST(i AS INTEGER), 1) AS INTEGER) END)) % 10)) % 10 AS chk
        |  FROM p),
        |c AS (SELECT doc_id, concat(pre,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN chk ELSE (chk + 1) % 10 END AS VARCHAR)) AS candidate
        |  FROM k),
        |v AS (SELECT doc_id, candidate,
        |  (list_sum(list_transform(range(1, strlen(candidate) + 1), i ->
        |    CASE WHEN (strlen(candidate) - i + 1) % 2 = 0 THEN
        |      CASE WHEN CAST(substr(candidate, CAST(i AS INTEGER), 1) AS INTEGER)*2 > 9
        |        THEN CAST(substr(candidate, CAST(i AS INTEGER), 1) AS INTEGER)*2 - 9
        |        ELSE CAST(substr(candidate, CAST(i AS INTEGER), 1) AS INTEGER)*2 END
        |      ELSE CAST(substr(candidate, CAST(i AS INTEGER), 1) AS INTEGER) END)) % 10 = 0) AS luhn_ok
        |  FROM c)
        |SELECT doc_id, candidate, luhn_ok,
        |  CASE WHEN luhn_ok THEN '<CARD>' ELSE candidate END AS clean
        |FROM v ORDER BY doc_id""".stripMargin)),

    // L150 — IBAN mod-97 PII gate (ISO 7064, the c_pii_luhn convention
    // at account-number strength): candidates minted doc_id-derived in
    // both engines — even docs get the true check digits (the
    // ibanCheckDigits dual), odd docs a deterministically wrong pair —
    // and the gate re-validates every candidate with the sequential
    // (acc·m + v) mod 97 character fold. The DuckDB mirror encodes each
    // char as m·1000+v and list_reduce's the same left-to-right fold
    // (modular state, so fold order is the ALGORITHM, not an engine
    // accident).
    Q("c_pii_iban",
      (s, dir) => {
        val bban = lpad(pmod(col("doc_id"), lit(10000000000L)).cast("string"),
          18, "0")
        val kkv = Curation.ibanCheckDigits(lit("DE"), bban)
        val kk = when(pmod(col("doc_id"), lit(2L)) === 0, kkv)
          .otherwise(pmod(kkv, lit(97L)) + 2L)
        Tables.documents(s, dir)
          .select(col("doc_id"),
            concat(lit("DE"), lpad(kk.cast("string"), 2, "0"), bban).as("iban"))
          .withColumn("iban_ok", Curation.ibanValid(col("iban")))
          .withColumn("clean",
            when(col("iban_ok"), lit("<IBAN>")).otherwise(col("iban")))
          .orderBy(col("doc_id"))
      },
      Some("""WITH b AS (SELECT doc_id,
        |    lpad(CAST(doc_id % 10000000000 AS VARCHAR), 18, '0') AS bban
        |  FROM documents),
        |enc0 AS (SELECT doc_id, bban,
        |    list_transform(list_filter(string_split(bban || 'DE' || '00', ''), c -> c != ''),
        |      c -> CASE WHEN ascii(c) BETWEEN 48 AND 57
        |        THEN 10000 + (ascii(c) - 48) ELSE 100000 + (ascii(c) - 55) END) AS es
        |  FROM b),
        |kv AS (SELECT doc_id, bban,
        |    98 - list_reduce(list_prepend(CAST(0 AS BIGINT), es),
        |      (acc, x) -> (acc * (x // 1000) + x % 1000) % 97) AS kkv
        |  FROM enc0),
        |ib AS (SELECT doc_id,
        |    'DE' || lpad(CAST(CASE WHEN doc_id % 2 = 0 THEN kkv
        |      ELSE kkv % 97 + 2 END AS VARCHAR), 2, '0') || bban AS iban
        |  FROM kv),
        |ev AS (SELECT doc_id, iban,
        |    list_transform(list_filter(string_split(substr(iban, 5) || substr(iban, 1, 4), ''), c -> c != ''),
        |      c -> CASE WHEN ascii(c) BETWEEN 48 AND 57
        |        THEN 10000 + (ascii(c) - 48) ELSE 100000 + (ascii(c) - 55) END) AS es
        |  FROM ib),
        |v AS (SELECT doc_id, iban,
        |    regexp_matches(iban, '^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$')
        |      AND list_reduce(list_prepend(CAST(0 AS BIGINT), es),
        |      (acc, x) -> (acc * (x // 1000) + x % 1000) % 97) = 1 AS iban_ok
        |  FROM ev)
        |SELECT doc_id, iban, iban_ok,
        |  CASE WHEN iban_ok THEN '<IBAN>' ELSE iban END AS clean
        |FROM v ORDER BY doc_id""".stripMargin)),

    // L151 — cross-source quantile normalization (Bolstad et al. 2003
    // applied to per-source quality scores): every doc's raw score
    // (token count here) is remapped to the GLOBAL score at its
    // source-relative rank, so one global threshold means the same
    // thing in every source. The global lookup is an interval probe
    // into the broadcast cumulative histogram of distinct score values
    // — never a global sort-row_number.
    Q("c_quantile_norm",
      (s, dir) => {
        val scores = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            size(TextOps.tokens(col("text"))).cast("long").as("s"))
        Curation.quantileNormalizeScores(scores, "doc_id", "source", "s")
          .orderBy(col("doc_id"))
      },
      Some("""WITH b AS (SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS s
        |  FROM documents),
        |r AS (SELECT doc_id, source, s, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY s, doc_id) AS BIGINT) AS rn FROM b),
        |ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM b GROUP BY 1),
        |h AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
        |c AS (SELECT s AS gs, CAST(SUM(cnt) OVER (ORDER BY s) - cnt AS BIGINT) AS lo,
        |    CAST(SUM(cnt) OVER (ORDER BY s) AS BIGINT) AS hi FROM h),
        |ng AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_glob FROM b),
        |p AS (SELECT r.doc_id, r.source, r.s, (r.rn - 1) * ng.n_glob // ns.n_src + 1 AS p
        |  FROM r JOIN ns USING (source) CROSS JOIN ng)
        |SELECT p.doc_id, p.source, p.s AS raw, p.p, c.gs AS norm
        |FROM p JOIN c ON p.p > c.lo AND p.p <= c.hi
        |ORDER BY p.doc_id""".stripMargin)),


    // L80 — RENDEZVOUS (HRW) SHARDING: shard = argmax over s of
    // md5(id|s) — scaling k→k+1 moves docs only TO the new shard
    // (~1/(k+1) of the layout), never between old ones; entirely
    // map-side (transform + array_max over (h, shard) structs), no
    // shuffle, assignment a pure function of (id, k).
    Q("c_rendezvous_shard",
      (s, dir) => Curation.rendezvousAssign(
          Tables.documents(s, dir).select(col("doc_id")), "doc_id", 8)
        .orderBy(col("doc_id")),
      Some("""WITH u AS (SELECT unnest(range(8)) AS s),
        |sc AS (SELECT doc_id, u.s AS shard,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'
        |      || CAST(u.s AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM documents, u),
        |r AS (SELECT doc_id, shard, h,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, shard DESC) AS rn
        |  FROM sc)
        |SELECT doc_id, shard, h FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)),


    // L81 — CALIBRATED QUALITY GATE: keep each source's top 30% by the
    // integer stopword-density score — per-source calibration so one
    // global threshold can't empty a systematically-lower-scoring
    // source. Exact-rank reference semantics; the 100 TB path swaps
    // the per-source window for an L45-sketch threshold broadcast.
    Q("c_quality_calibrated",
      (s, dir) => {
        val t = TextOps.tokens(col("text"))
        val scored = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            size(t).cast("long").as("nt"),
            TextOps.stopwordHits(t, TextOps.langMarkers.head._2).as("hits"))
          .withColumn("score", expr(
            "CASE WHEN nt = 0 THEN 0L ELSE (hits * 1000000L) div nt END"))
        Curation.calibratedQualityGate(scored, "doc_id", "source", "score",
            keepNum = 3, keepDen = 10)
          .withColumnRenamed("rank", "q_rank")
          .orderBy(col("doc_id"))
      },
      Some("""WITH s0 AS (SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |sc AS (SELECT doc_id, source, CAST(CASE WHEN len(toks) = 0 THEN 0
        |    ELSE (CAST(len(list_filter(toks,
        |        t -> list_contains(['the','a','of','and','to','in'], t))) AS BIGINT)
        |      * 1000000) // CAST(len(toks) AS BIGINT) END AS BIGINT) AS score
        |  FROM s0),
        |r AS (SELECT doc_id, source, score,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS q_rank,
        |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM sc)
        |SELECT doc_id, source, score, q_rank, n,
        |  q_rank * 10 <= 3 * n AS keep
        |FROM r ORDER BY doc_id""".stripMargin)),


    // L84 — TEMPERATURE-SCALED MIXTURE (τ = 2): allocation weights
    // n^(1/τ) = isqrt(n) flatten the language distribution between
    // proportional (τ=1, c_mix_weights) and uniform (τ→∞) — the
    // standard multilingual sampling knob (mT5 §3.1). isqrt is double
    // sqrt + a ±1 Newton correction, exact for ALL int64 (the naked
    // floor(sqrt) is only trustworthy below 2^52); the allocation
    // reuses Hamilton largest-remainder.
    Q("c_mix_temperature",
      (s, dir) => {
        val totals = Tables.documents(s, dir).groupBy(col("lang"))
          .agg(sum(col("n_chars")).as("n"))
        val s0 = floor(sqrt(col("n").cast("double"))).cast("long")
        val s1 = s0 - when(s0 * s0 > col("n"), 1L).otherwise(0L)
        val isq = s1 + when((s1 + lit(1L)) * (s1 + lit(1L)) <= col("n"), 1L)
          .otherwise(0L)
        Curation.allocateBudget(totals.select(col("lang"), isq.as("w")),
            "lang", "w", budget = 100000L)
          .withColumnRenamed("tokens", "w")
          .orderBy(col("lang"))
      },
      Some("""WITH t AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS n
        |  FROM documents GROUP BY lang),
        |i0 AS (SELECT lang, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s0 FROM t),
        |i1 AS (SELECT lang, n,
        |    s0 - CASE WHEN s0 * s0 > n THEN 1 ELSE 0 END AS s1 FROM i0),
        |iq AS (SELECT lang, CAST(s1 + CASE WHEN (s1 + 1) * (s1 + 1) <= n
        |    THEN 1 ELSE 0 END AS BIGINT) AS w FROM i1),
        |ww AS (SELECT lang, w, CAST(SUM(w) OVER () AS BIGINT) AS T FROM iq),
        |f AS (SELECT lang, w, (100000 * w) // T AS fl,
        |  (100000 * w) % T AS rem FROM ww),
        |r AS (SELECT lang, w, fl,
        |  row_number() OVER (ORDER BY rem DESC, lang) AS rk,
        |  100000 - CAST(SUM(fl) OVER () AS BIGINT) AS leftover FROM f)
        |SELECT lang, w,
        |  CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY lang""".stripMargin)),


    // L90 — INTERLEAVED EPOCH ORDER: reproducible per-source seeded
    // shuffle + round-robin source interleave; the global rank is a
    // CLOSED FORM of (within-source pos, the |sources|-row size table)
    // — no global sort at any scale.
    Q("c_epoch_interleave",
      (s, dir) => Curation.interleavedEpochOrder(
          Tables.documents(s, dir), "doc_id", "source", seed = 7L)
        .select(col("doc_id"), col("source"), col("pos"), col("epoch_rank"))
        .orderBy(col("epoch_rank"), col("doc_id")),
      Some("""WITH h AS (SELECT doc_id, source,
        |    ('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM documents),
        |p AS (SELECT doc_id, source, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS pos FROM h),
        |sz AS (SELECT source AS s2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source)
        |SELECT p.doc_id, p.source, p.pos,
        |  CAST(SUM(least(p.pos - 1, sz.n))
        |    + SUM(CASE WHEN sz.s2 < p.source AND sz.n >= p.pos THEN 1 ELSE 0 END)
        |    + 1 AS BIGINT) AS epoch_rank
        |FROM p CROSS JOIN sz GROUP BY p.doc_id, p.source, p.pos
        |ORDER BY epoch_rank, doc_id""".stripMargin)),


    // L93 — CHAO1 capture-recapture corpus-size estimate per language:
    // d + f1(f1−1)/(2(f2+1)) from the duplicate-count histogram — the
    // crawl-planning complement of dedup (many singletons relative to
    // doubletons ⇒ keep crawling; f1 ≈ 0 ⇒ saturation). Two hash aggs,
    // all integers until the one division.
    Q("c_chao1_estimate",
      (s, dir) => Curation.chao1Estimate(
          Tables.documents(s, dir), "lang",
          TextOps.fingerprint(col("text"), 200))
        .select(col("lang"), col("n_obs"), col("d_distinct"), col("f1"),
          col("f2"), col("chao1"))
        .orderBy(col("lang")),
      Some("""WITH fp AS (SELECT lang,
        |    md5(substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 200)) AS fp
        |  FROM documents),
        |cnt AS (SELECT lang, fp, CAST(COUNT(*) AS BIGINT) AS c FROM fp GROUP BY lang, fp)
        |SELECT lang, CAST(SUM(c) AS BIGINT) AS n_obs,
        |  CAST(COUNT(*) AS BIGINT) AS d_distinct,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        |  CAST(COUNT(*) AS DOUBLE)
        |    + CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |        * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1) AS DOUBLE)
        |      / CAST(2 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1) AS DOUBLE) AS chao1
        |FROM cnt GROUP BY lang ORDER BY lang""".stripMargin)),

    // L166 — Herfindahl source-concentration per language: the
    // mixture-health number read before setting domain weights (1/k
    // uniform, ->1 single-source dominated); exact integer numerator/
    // denominator, one division.
    Q("c_source_hhi",
      (s, dir) => Curation.herfindahl(
          Tables.documents(s, dir), "lang", "source")
        .orderBy(col("lang")),
      Some("""WITH cnt AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY lang, source),
        |ag AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_docs,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(n * n) AS BIGINT) AS sum_sq
        |  FROM cnt GROUP BY lang)
        |SELECT lang, n_docs, n_keys, sum_sq,
        |  CASE WHEN n_docs > 0
        |    THEN CAST(sum_sq AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE)
        |    ELSE -1.0 END AS hhi
        |FROM ag ORDER BY lang""".stripMargin)),

    // L168 — largest-remainder (Hamilton) quota allocation: per-source
    // draw counts for a 997-doc proportional sample; sum of quotas is
    // exactly 997 (the property float-rounded shares never give).
    Q("c_quota_lr",
      (s, dir) => Curation.largestRemainderQuotas(
          Tables.documents(s, dir), "source", 997L)
        .orderBy(col("key")),
      Some("""WITH cnt AS (SELECT source AS key, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source),
        |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cnt),
        |b AS (SELECT key, n, (n * 997) // nn AS base, (n * 997) % nn AS rem
        |  FROM cnt CROSS JOIN tt),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, key) AS rk,
        |    (SELECT SUM(base) FROM b) AS sb FROM b)
        |SELECT key, n, CAST(base AS BIGINT) AS base,
        |  CAST(CASE WHEN rk <= 997 - sb THEN 1 ELSE 0 END AS BIGINT) AS extra,
        |  CAST(base + CASE WHEN rk <= 997 - sb THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM r ORDER BY key""".stripMargin)),

    // L170 — exact per-source token-length moments: variance's
    // numerator n*sum_sq - sum^2 is an exact long, mean/variance each
    // one division — no IEEE accumulation anywhere.
    Q("c_len_moments",
      (s, dir) => Curation.lengthMoments(
          Tables.documents(s, dir), "source",
          TextOps.tokenCount(col("text")))
        .orderBy(col("group")),
      Some(s"""WITH $toksSqlCte,
        |sx AS (SELECT dd.source AS grp, CAST(len(d.toks) AS BIGINT) AS x
        |  FROM d JOIN documents dd USING (doc_id)),
        |ag AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sum_len,
        |    CAST(SUM(x * x) AS BIGINT) AS sum_sq
        |  FROM sx GROUP BY grp)
        |SELECT grp AS "group", n, sum_len, sum_sq,
        |  CASE WHEN n > 0
        |    THEN CAST(sum_len AS DOUBLE) / CAST(n AS DOUBLE)
        |    ELSE -1.0 END AS mean_len,
        |  CASE WHEN n > 0
        |    THEN CAST(n * sum_sq - sum_len * sum_len AS DOUBLE)
        |      / CAST(n * n AS DOUBLE)
        |    ELSE -1.0 END AS variance
        |FROM ag ORDER BY "group"""".stripMargin)),

    // L171 — power-of-2 sequence-length histogram (bucket = bit length
    // of the token count; the context-length-planning distribution);
    // the bucket CASE chain is generated once and shared verbatim.
    Q("c_seqlen_hist",
      (s, dir) => Curation.seqlenHistogram(
          Tables.documents(s, dir), TextOps.tokenCount(col("text")))
        .orderBy(col("bucket")),
      Some(s"""WITH $toksSqlCte,
        |lx AS (SELECT CAST(len(toks) AS BIGINT) AS x FROM d),
        |bk AS (SELECT x, CASE WHEN x <= 0 THEN 0
        |    ${(1 to 62).map(b => s"WHEN x < ${1L << b} THEN $b").mkString(" ")}
        |    ELSE 63 END AS bucket FROM lx)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(CASE WHEN bucket = 0 THEN 0
        |    ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END AS BIGINT) AS lo,
        |  CAST(CASE WHEN bucket = 63 THEN ${Long.MaxValue}
        |    ELSE (CAST(1 AS BIGINT) << bucket) - 1 END AS BIGINT) AS hi,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(x) AS BIGINT) AS total_tokens
        |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // L173 — 2-D skyline over (token count, distinct-token count):
    // the documents no other document beats on both quality axes —
    // multi-criteria selection as a Pareto front, exact integer
    // domain, the bounded distinct-x window formulation.
    Q("c_skyline",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        val base = Tables.documents(s, dir).select(col("doc_id"),
          size(toks).cast("long").as("nt"),
          size(array_distinct(toks)).cast("long").as("nd"))
        Curation.skyline2d(base, "doc_id", col("nt"), col("nd"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksSqlCte,
        |pts AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS x,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS y FROM d),
        |mx AS (SELECT x, MAX(y) AS max_y FROM pts GROUP BY x),
        |dm AS (SELECT x, max_y, MAX(max_y) OVER (ORDER BY x DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_above
        |  FROM mx)
        |SELECT p.doc_id, p.x, p.y FROM pts p JOIN dm USING (x)
        |WHERE p.y = dm.max_y AND (dm.best_above IS NULL OR p.y > dm.best_above)
        |ORDER BY p.doc_id""".stripMargin)),

    // L176 — source vocabulary overlap: Jaccard between every source
    // pair's top-40 vocabularies (freq-desc, token tie-break) — the
    // source-relatedness matrix beside c_source_hhi; zero-overlap
    // pairs still emit rows via the broadcast pair frame.
    Q("c_source_vocab_overlap",
      (s, dir) => Curation.sourceVocabOverlap(
          Tables.documents(s, dir), "source", "text", 40)
        .orderBy(col("src_a"), col("src_b")),
      Some(s"""WITH $toksSqlCte,
        |tk AS (SELECT dd.source AS src, t.w, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM d JOIN documents dd USING (doc_id),
        |    LATERAL (SELECT unnest(d.toks) AS w) t
        |  GROUP BY dd.source, t.w),
        |tp AS (SELECT src, w FROM (SELECT src, w,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY n DESC, w) AS rk
        |  FROM tk) WHERE rk <= 40),
        |sz AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS sz FROM tp GROUP BY src),
        |sh AS (SELECT a.src AS src_a, b.src AS src_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM tp a JOIN tp b ON a.w = b.w AND a.src < b.src
        |  GROUP BY a.src, b.src),
        |ap AS (SELECT x.src AS src_a, x.sz AS n_a, y.src AS src_b, y.sz AS n_b
        |  FROM sz x JOIN sz y ON x.src < y.src)
        |SELECT ap.src_a, ap.src_b, ap.n_a, ap.n_b,
        |  CAST(coalesce(sh.n_shared, 0) AS BIGINT) AS n_shared,
        |  CASE WHEN ap.n_a + ap.n_b - coalesce(sh.n_shared, 0) > 0
        |    THEN CAST(coalesce(sh.n_shared, 0) AS DOUBLE)
        |      / CAST(ap.n_a + ap.n_b - coalesce(sh.n_shared, 0) AS DOUBLE)
        |    ELSE -1.0 END AS jaccard
        |FROM ap LEFT JOIN sh ON sh.src_a = ap.src_a AND sh.src_b = ap.src_b
        |ORDER BY ap.src_a, ap.src_b""".stripMargin)),


    // L206 — k-anonymity generalization ladder over the release
    // metadata tuple (source, lang, length bucket): each doc takes the
    // FIRST length granularity (64 -> 256 -> 1024 chars) at which its
    // tuple reaches k = 5 peers; tuples still unique at the coarsest
    // rung suppress loudly (level -1). The re-identification gate next
    // to the content-side PII scrubs.
    Q("c_kanon_ladder",
      (s, dir) => Curation.kAnonymityLadder(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            col("lang"), length(col("text")).cast("long").as("tlen")),
          "doc_id", Seq("source", "lang"), "tlen",
          granularities = Seq(64L, 256L, 1024L), k = 5L)
        .orderBy(col("id")),
      Some("""WITH b AS (SELECT doc_id AS id, source, lang,
        |    CAST(length(text) AS BIGINT) AS v FROM documents),
        |g0 AS (SELECT source, lang, v // 64 AS bk, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5),
        |j0 AS (SELECT b.id, CAST(0 AS BIGINT) AS lvl, g0.n FROM b
        |  JOIN g0 ON g0.source = b.source AND g0.lang = b.lang
        |    AND g0.bk = b.v // 64),
        |g1 AS (SELECT source, lang, v // 256 AS bk, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5),
        |j1 AS (SELECT b.id, CAST(1 AS BIGINT) AS lvl, g1.n FROM b
        |  JOIN g1 ON g1.source = b.source AND g1.lang = b.lang
        |    AND g1.bk = b.v // 256),
        |g2 AS (SELECT source, lang, v // 1024 AS bk, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5),
        |j2 AS (SELECT b.id, CAST(2 AS BIGINT) AS lvl, g2.n FROM b
        |  JOIN g2 ON g2.source = b.source AND g2.lang = b.lang
        |    AND g2.bk = b.v // 1024),
        |u AS (SELECT * FROM j0 UNION ALL SELECT * FROM j1
        |  UNION ALL SELECT * FROM j2),
        |best AS (SELECT id, lvl, n FROM (SELECT *,
        |    row_number() OVER (PARTITION BY id ORDER BY lvl) AS rn FROM u) t
        |  WHERE rn = 1)
        |SELECT b.id, b.source, b.lang, CAST(b.v // 64 AS BIGINT) AS bucket_l0,
        |  CAST(COALESCE(best.lvl, -1) AS BIGINT) AS level,
        |  CAST(COALESCE(best.n, -1) AS BIGINT) AS group_n
        |FROM b LEFT JOIN best USING (id) ORDER BY id""".stripMargin)),

    // L203 — layout skip-effectiveness audit: linear vs Z-order vs
    // Hilbert manifests scored against the same deterministic 2-D
    // range workload — exact files-scanned counts per (layout, query),
    // the decision table behind a clustering choice. Manifest-sized
    // work (broadcast workload joins); the oracle embeds the L57/L189
    // manifest oracles as subqueries so every envelope is replayed
    // bit-for-bit.
    Q("c_skip_audit",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        // Eager cache: the three layout builds each scan the input
        // TWICE (bounds agg + the keyed rank pass) and the workload
        // grid once more — seven parquet scans of events for one
        // (user_id, tus, event_id) projection. One in-memory copy
        // feeds them all (§5 recompute avoidance).
        val pts = ev.select(col("user_id"), Tables.tsUs(ev).as("tus"),
          col("event_id")).cache()
        pts.count()
        // The three layout builds are INDEPENDENT and each blocks on an
        // eager two-pass-rank materialization — overlap them so the
        // audit's build time is the max of the three, not the sum.
        // Results are deterministic either way.
        val Seq(lm, zm, hm) = overlap(s)(
          () => Curation.linearLayout(pts, "user_id", "tus", "event_id",
            rowsPerFile = 4096),
          () => Curation.zorderLayout(pts, "user_id", "tus", "event_id",
            bits = 12, rowsPerFile = 4096),
          () => Curation.hilbertLayout(pts, "user_id", "tus", "event_id",
            bits = 12, rowsPerFile = 4096))
        val w = Curation.rangeWorkload(pts, "user_id", "tus", nQueries = 8)
        Curation.layoutSkipAudit(
            Seq("hilbert" -> hm, "linear" -> lm, "zorder" -> zm), w,
            "min_user_id", "max_user_id", "min_tus", "max_tus")
          .orderBy(col("layout"), col("q_id"))
      },
      Some(s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus, event_id FROM events),
        |lm AS (SELECT CAST((rn - 1) // 4096 AS BIGINT) AS file_id,
        |    MIN(user_id) AS min_user_id, MAX(user_id) AS max_user_id,
        |    MIN(tus) AS min_tus, MAX(tus) AS max_tus
        |  FROM (SELECT *, row_number() OVER (ORDER BY user_id, event_id) AS rn
        |    FROM ev) r GROUP BY 1),
        |zm AS (SELECT * FROM (${zorderOracleSql(bits = 12, rowsPerFile = 4096)}) zq),
        |hm AS (SELECT * FROM (${hilbertOracleSql(bits = 12, rowsPerFile = 4096)}) hq),
        |bnd AS (SELECT MIN(user_id) AS n0, MAX(user_id) AS x0,
        |    MIN(tus) AS n1, MAX(tus) AS x1 FROM ev),
        |w AS (SELECT CAST(t.q AS BIGINT) AS q_id,
        |    n0 + ((x0 - n0) * t.q) // 8 AS lo0,
        |    n0 + ((x0 - n0) * (t.q + 1)) // 8 AS hi0,
        |    n1 + ((x1 - n1) * t.q) // 8 AS lo1,
        |    n1 + ((x1 - n1) * (t.q + 2)) // 8 AS hi1
        |  FROM bnd CROSS JOIN (SELECT unnest(range(0, 8)) AS q) t),
        |a AS (
        |  SELECT 'hilbert' AS layout, w.q_id,
        |      (SELECT COUNT(*) FROM hm) AS n_files,
        |      CAST(COUNT(m.file_id) AS BIGINT) AS n_scanned
        |    FROM w LEFT JOIN hm m ON NOT (m.max_user_id < w.lo0
        |      OR m.min_user_id > w.hi0 OR m.max_tus < w.lo1
        |      OR m.min_tus > w.hi1)
        |    GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'linear' AS layout, w.q_id,
        |      (SELECT COUNT(*) FROM lm) AS n_files,
        |      CAST(COUNT(m.file_id) AS BIGINT) AS n_scanned
        |    FROM w LEFT JOIN lm m ON NOT (m.max_user_id < w.lo0
        |      OR m.min_user_id > w.hi0 OR m.max_tus < w.lo1
        |      OR m.min_tus > w.hi1)
        |    GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'zorder' AS layout, w.q_id,
        |      (SELECT COUNT(*) FROM zm) AS n_files,
        |      CAST(COUNT(m.file_id) AS BIGINT) AS n_scanned
        |    FROM w LEFT JOIN zm m ON NOT (m.max_user_id < w.lo0
        |      OR m.min_user_id > w.hi0 OR m.max_tus < w.lo1
        |      OR m.min_tus > w.hi1)
        |    GROUP BY 1, 2)
        |SELECT layout, q_id, CAST(n_files AS BIGINT) AS n_files, n_scanned,
        |  CAST(n_scanned AS DOUBLE) / CAST(n_files AS DOUBLE) AS scan_frac
        |FROM a ORDER BY layout, q_id""".stripMargin)),

    // L202 — Heaps-law vocabulary growth curve: exact distinct-type
    // counts at 10 doc-id cutoffs from ONE pass (a type's contribution
    // to every cutoff is fixed by its FIRST document), the trajectory
    // companion to the L93 Chao1 asymptote. Tiny-grid broadcast
    // rollups; nothing rescanned per checkpoint.
    Q("c_vocab_growth",
      (s, dir) => Curation.vocabGrowth(
          Tables.documents(s, dir)
            .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
          "doc_id", "toks", nCheckpoints = 10)
        .orderBy(col("checkpoint")),
      Some(s"""WITH $toksSqlCte,
        |tk AS (SELECT d.doc_id AS id, t.w
        |  FROM d, LATERAL (SELECT unnest(d.toks) AS w) t),
        |fw AS (SELECT w, MIN(id) AS first_id FROM tk GROUP BY 1),
        |dl AS (SELECT doc_id AS id, CAST(len(toks) AS BIGINT) AS n FROM d),
        |mx AS (SELECT MAX(doc_id) AS m FROM documents),
        |g AS (SELECT CAST(t.i AS BIGINT) AS checkpoint,
        |    CAST(((mx.m + 1) * t.i) // 10 AS BIGINT) AS cutoff_id
        |  FROM mx CROSS JOIN (SELECT unnest(range(1, 11)) AS i) t),
        |ds AS (SELECT g.checkpoint, g.cutoff_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl.n) AS BIGINT) AS n_tokens
        |  FROM g JOIN dl ON dl.id < g.cutoff_id GROUP BY 1, 2),
        |vs AS (SELECT g.checkpoint, CAST(COUNT(*) AS BIGINT) AS n_vocab
        |  FROM g JOIN fw ON fw.first_id < g.cutoff_id GROUP BY 1)
        |SELECT ds.checkpoint, ds.cutoff_id, ds.n_docs, ds.n_tokens,
        |  vs.n_vocab
        |FROM ds JOIN vs USING (checkpoint) ORDER BY checkpoint""".stripMargin)),

    // L179 — cross-snapshot token-distribution drift: snapshot B drops
    // every 7th doc (re-crawl churn) and injects a drift token into
    // every 5th (vocabulary shift); the detector must surface zzdrift
    // at the top of each source's drifted-token list with exact
    // e6-scaled shares. Top-k via the bounded-state TopKAgg, ties by
    // md5-prefix hash — deterministic in both engines.
    Q("c_token_drift",
      (s, dir) => {
        // Both snapshots are edits of the SAME base corpus (B drops
        // doc_id%7==3 and appends 3 zzdrift tokens to doc_id%5==0), so
        // ONE tokenize+explode pass with conditional sums produces both
        // histogram columns — the two-snapshot form tokenized the corpus
        // twice and full-outer-joined the histograms. The injected
        // zzdrift tokens join as one aggregated row per source (token
        // aggregation is count-additive, so the union then groupBy is
        // exactly snapshot B's histogram).
        val docs = Tables.documents(s, dir)
        val inB = pmod(col("doc_id"), lit(7L)) =!= 3L
        val rows = docs
          .select(col("source").as("src"),
            explode(TextOps.tokens(col("text"))).as("w"),
            lit(1L).as("__ia"),
            when(inB, 1L).otherwise(0L).as("__ib"))
          .unionByName(docs
            .filter(inB && pmod(col("doc_id"), lit(5L)) === 0L)
            .select(col("source").as("src"), lit("zzdrift").as("w"),
              lit(0L).as("__ia"), lit(3L).as("__ib")))
        val merged = rows.groupBy(col("src"), col("w"))
          .agg(sum(col("__ia")).as("n_a"), sum(col("__ib")).as("n_b"))
        Curation.tokenDriftFromHist(merged, 8)
          .orderBy(col("source"), col("rank"))
      },
      Some(s"""WITH $toksSqlCte,
        |da AS (SELECT dd.source AS src, d.toks
        |  FROM d JOIN documents dd USING (doc_id)),
        |db AS (SELECT dd.source AS src,
        |    CASE WHEN dd.doc_id % 5 = 0
        |      THEN list_concat(d.toks, ['zzdrift', 'zzdrift', 'zzdrift'])
        |      ELSE d.toks END AS toks
        |  FROM d JOIN documents dd USING (doc_id) WHERE dd.doc_id % 7 != 3),
        |ha AS (SELECT src, t.w, CAST(COUNT(*) AS BIGINT) AS n_a
        |  FROM da, LATERAL (SELECT unnest(da.toks) AS w) t GROUP BY 1, 2),
        |hb AS (SELECT src, t.w, CAST(COUNT(*) AS BIGINT) AS n_b
        |  FROM db, LATERAL (SELECT unnest(db.toks) AS w) t GROUP BY 1, 2),
        |ta AS (SELECT src, CAST(SUM(n_a) AS BIGINT) AS ta FROM ha GROUP BY 1),
        |tb AS (SELECT src, CAST(SUM(n_b) AS BIGINT) AS tb FROM hb GROUP BY 1),
        |m AS (SELECT src, w, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM ha FULL OUTER JOIN hb USING (src, w)),
        |sc AS (SELECT m.src, m.w,
        |    CASE WHEN coalesce(ta.ta, 0) > 0
        |      THEN (m.n_a * 1000000) // ta.ta ELSE 0 END AS sa,
        |    CASE WHEN coalesce(tb.tb, 0) > 0
        |      THEN (m.n_b * 1000000) // tb.tb ELSE 0 END AS sb
        |  FROM m LEFT JOIN ta USING (src) LEFT JOIN tb USING (src)),
        |dr AS (SELECT src, w, sa, sb,
        |    ((sa - sb) * (sa - sb)) // (sa + sb + 1) AS drift,
        |    ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM sc),
        |rk AS (SELECT src, w, sa, sb, drift,
        |    CAST(row_number() OVER (PARTITION BY src
        |      ORDER BY drift DESC, h, w) AS BIGINT) AS rank FROM dr)
        |SELECT src AS source, rank, w AS token,
        |  CAST(sa AS BIGINT) AS share_a_e6, CAST(sb AS BIGINT) AS share_b_e6,
        |  CAST(drift AS BIGINT) AS drift
        |FROM rk WHERE rank <= 8 ORDER BY source, rank""".stripMargin)),

    // L257 — ROBOTS/NOINDEX CONSENT GATE (complements the L70 URL
    // blocklist): the compliance check every 2025-era crawl pipeline
    // runs before a document may enter training data — directives are
    // merged from BOTH live surfaces, the HTTP `X-Robots-Tag` header
    // and the HTML `<meta name="robots">` tag (either alone
    // under-reads), and noindex/none/noai block the doc. The check
    // runs the FULL front door end-to-end: minted WARC response
    // records (half per-record-gzipped) → container walk → HTTP
    // envelope parse → robots extraction; the oracle replays the mint
    // formulas, so a header the walk drops or a directive the merge
    // misses cannot hash-match.
    Q("c_robots_gate",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val gated = base.map { id =>
          import graft.pipeline.{HtmlText, WarcIO}
          val meta = (id % 5) match {
            case 0 => "<meta name=\"robots\" content=\"noindex, nofollow\">"
            case 1 => "<meta name=\"robots\" content=\"all\">"
            case _ => ""
          }
          val html = s"<html><head>$meta<title>Doc $id</title></head>" +
            s"<body><p>body $id</p></body></html>"
          val headers = Seq("Content-Type" -> "text/html") ++
            (if (id % 3 == 0)
              Seq("X-Robots-Tag" -> (if (id % 2 == 0) "noai" else "noarchive"))
            else Nil)
          val payload = WarcIO.mintHttpResponse(200, headers,
            html.getBytes("UTF-8"))
          val rec = WarcIO.WarcRecord("response",
            s"http://site${id % 7}.example.com/$id",
            "2025-01-01T00:00:00Z", s"<urn:uuid:$id>",
            "application/http; msgtype=response", payload)
          val parsed = WarcIO.parse(
            WarcIO.mint(Seq(rec), perRecordGzip = id % 2 == 0)).head
          val http = WarcIO.parseHttpResponse(parsed.payload)
          val dirs = HtmlText.robotsDirectives(
            new String(http.body, "UTF-8"), http.headers.get("x-robots-tag"))
          val noindex = dirs.contains("noindex") || dirs.contains("none")
          val noai = dirs.contains("noai")
          (id, dirs.size.toLong, noindex, noai, !noindex && !noai)
        }.toDF("doc_id", "n_directives", "noindex", "noai", "allowed")
        gated.orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  CAST((CASE WHEN doc_id % 5 = 0 THEN 2
        |      WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_directives,
        |  doc_id % 5 = 0 AS noindex,
        |  doc_id % 6 = 0 AS noai,
        |  NOT (doc_id % 5 = 0 OR doc_id % 6 = 0) AS allowed
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)),

    // L260 — RFC 9309 robots.txt exclusion gate (the fetch-side
    // consent surface next to the in-document L257 signals): minted
    // per-host robots.txt files replayed against formula-driven
    // (agent, path) probes through the REAL group-selection +
    // longest-match + Allow-tie semantics — a specific-token group
    // excludes the wildcard group, `/data/*.json` outweighs `/data/`,
    // `/private/public$` outweighs `/private/`. The oracle enumerates
    // the expected decision table from the same formulas, so a parser
    // that mis-ranks rule lengths or leaks the wildcard group into a
    // matched specific group cannot hash-match.
    Q("c_robots_txt",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 400)
          .select(col("doc_id")).as[Long]
        val gated = base.map { id =>
          import graft.pipeline.RobotsTxt
          val robots = "User-agent: *\n" +
            "Disallow: /private/\n" +
            "Allow: /private/public$\n" +
            (if (id % 3 == 0)
              "User-agent: graftbot\n" +
                "Disallow: /data/*.json\n" +
                "Allow: /data/\n"
            else "")
          val paths = Vector("/public/page3", "/private/x",
            "/private/public", "/data/a.json", "/data/a.html")
          val path = paths((id % 5).toInt)
          val agent = if (id % 2 == 0) "graftbot" else "otherbot"
          val groups = RobotsTxt.parse(robots)
          (id, agent, path, id % 6 == 0,
            RobotsTxt.isAllowed(groups, agent, path))
        }.toDF("doc_id", "agent", "path", "specific_group", "allowed")
        gated.orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'graftbot' ELSE 'otherbot' END
        |    AS agent,
        |  CASE doc_id % 5 WHEN 0 THEN '/public/page3'
        |    WHEN 1 THEN '/private/x' WHEN 2 THEN '/private/public'
        |    WHEN 3 THEN '/data/a.json' ELSE '/data/a.html' END AS path,
        |  doc_id % 6 = 0 AS specific_group,
        |  CASE WHEN doc_id % 6 = 0 THEN doc_id % 5 <> 3
        |    ELSE doc_id % 5 <> 1 END AS allowed
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin)),

    // L272 — CRAWL PLAN from robots.txt: the fetch-side schedule next
    // to the L260 allow/deny decision — per-host effective Crawl-delay
    // for OUR agent (specific group beats wildcard; merged groups take
    // the conservative max) and the file-wide Sitemap URLs that seed
    // the frontier. The oracle replays the mint formulas.
    Q("c_crawl_plan",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id")).as[Long]
        val planned = base.map { id =>
          import graft.pipeline.RobotsTxt
          val robots =
            s"Sitemap: https://site${id % 7}.example.com/s0.xml\n" +
              (if (id % 2 == 1)
                s"Sitemap: https://site${id % 7}.example.com/s1.xml\n"
              else "") +
              s"User-agent: *\nCrawl-delay: ${1 + id % 7}\nDisallow: /t/\n" +
              (if (id % 3 == 0)
                s"User-agent: graftbot\nCrawl-delay: ${2 + id % 4}\n" +
                  "Allow: /\n"
              else "")
          val agent = if (id % 2 == 0) "graftbot" else "otherbot"
          val groups = RobotsTxt.parse(robots)
          val delay = RobotsTxt.crawlDelayFor(groups, agent).getOrElse(-1L)
          (id, agent, delay, RobotsTxt.sitemaps(robots).size.toLong)
        }.toDF("doc_id", "agent", "delay_s", "n_sitemaps")
        planned.orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'graftbot' ELSE 'otherbot' END
        |    AS agent,
        |  CAST(CASE WHEN doc_id % 6 = 0 THEN 2 + doc_id % 4
        |    ELSE 1 + doc_id % 7 END AS BIGINT) AS delay_s,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS n_sitemaps
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)),

    // L263 — CRAWL PIPELINE END-TO-END (the FineWeb/RefinedWeb shape
    // run through the REAL components, not a simulation): per doc a
    // WARC response record (half per-record-gzipped) → container walk
    // (L254) → HTTP envelope → charset sniff + strict decode (L262,
    // id%17 mis-declared → decode_failed) → RFC 9309 robots.txt
    // (L260, id%11 under a disallowed prefix → robots_blocked) →
    // meta-robots noindex (L257, id%13) → link-density main-content
    // extraction (L261, nav rail dropped) → length quality gate →
    // per-host rollup with exact dedup of survivor texts. Stage
    // priorities are the real ones (can't gate what you can't read).
    // The oracle replays the stage formulas + the raw text column.
    Q("c_crawl_e2e",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 600)
          .select(col("doc_id"), col("text")).as[(Long, String)]
        val staged = base.map { case (id, text) =>
          import graft.pipeline.{CharsetSniff, HtmlText, RobotsTxt, WarcIO}
          val host = s"site${id % 7}.example.com"
          val path = if (id % 11 == 0) s"/blocked/page$id" else s"/page$id"
          val meta = if (id % 13 == 0)
            "<meta name=\"robots\" content=\"noindex\">" else ""
          val enc = if (id % 2 == 0) "utf-8" else "windows-1252"
          val charsetMeta =
            if (id % 2 == 0) "<meta charset=utf-8>" else ""
          val header =
            if (id % 17 == 0) Some("text/html; charset=utf-8")
            else if (id % 2 == 0) None
            else Some(s"text/html; charset=windows-1252")
          val encActual = if (id % 17 == 0) "windows-1252" else enc
          val html = s"<html><head>$charsetMeta$meta</head><body>" +
            "<div><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
            "<a href=\"/contact\">Contact</a></div>" +
            // the euro forces a real multi-byte/cp1252 difference so a
            // mis-declared charset CANNOT decode cleanly
            s"<p>price \u20ac9 ${HtmlText.escape(text)}</p></body></html>"
          val payload = WarcIO.mintHttpResponse(200,
            Seq("Content-Type" -> header.getOrElse("text/html")),
            CharsetSniff.encodeStrict(html, encActual))
          val rec = WarcIO.WarcRecord("response", s"http://$host$path",
            "2025-01-01T00:00:00Z", s"<urn:uuid:$id>",
            "application/http; msgtype=response", payload)
          val parsed = WarcIO.parse(
            WarcIO.mint(Seq(rec), perRecordGzip = id % 2 == 0)).head
          val http = WarcIO.parseHttpResponse(parsed.payload)
          val robots = RobotsTxt.parse(
            "User-agent: *\nDisallow: /blocked/\n")
          val uriPath = parsed.targetUri.replaceFirst("https?://[^/]+", "")
          val (cs, _) = CharsetSniff.sniff(
            http.headers.get("content-type"), http.body)
          val (status, mainText) =
            try {
              val page = CharsetSniff.decodeStrict(http.body, cs)
              if (!RobotsTxt.isAllowed(robots, "graftbot", uriPath))
                ("robots_blocked", "")
              else if (HtmlText.robotsDirectives(page, None)
                  .exists(d => d == "noindex" || d == "none"))
                ("noindex", "")
              else {
                val kept = HtmlText.blocks(page).filter(b =>
                  100L * b.anchorChars <= 40L * b.nChars && b.nChars >= 10L)
                val main = kept.map(_.text).mkString(" ")
                if (main.length < 70L) ("quality_failed", "")
                else ("ok", main)
              }
            } catch {
              case _: IllegalArgumentException => ("decode_failed", "")
            }
          (host, status, mainText)
        }.toDF("host", "status", "main_text")
        staged.groupBy(col("host"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("status") === "decode_failed", 1L).otherwise(0L))
              .as("n_decode_failed"),
            sum(when(col("status") === "robots_blocked", 1L).otherwise(0L))
              .as("n_robots_blocked"),
            sum(when(col("status") === "noindex", 1L).otherwise(0L))
              .as("n_noindex"),
            sum(when(col("status") === "quality_failed", 1L).otherwise(0L))
              .as("n_quality_failed"),
            sum(when(col("status") === "ok", 1L).otherwise(0L))
              .as("n_survivors"),
            countDistinct(when(col("status") === "ok", col("main_text")))
              .as("n_unique"))
          .orderBy(col("host"))
      },
      Some("""WITH b AS (SELECT doc_id,
        |    'site' || (doc_id % 7) || '.example.com' AS host,
        |    'price ' || chr(8364) || '9 ' ||
        |      trim(regexp_replace(text, '\s+', ' ', 'g')) AS main,
        |    CASE WHEN doc_id % 17 = 0 THEN 'decode_failed'
        |      WHEN doc_id % 11 = 0 THEN 'robots_blocked'
        |      WHEN doc_id % 13 = 0 THEN 'noindex'
        |      WHEN 9 + len(trim(regexp_replace(text, '\s+', ' ', 'g'))) < 70
        |        THEN 'quality_failed'
        |      ELSE 'ok' END AS status
        |  FROM documents WHERE doc_id < 600)
        |SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) FILTER (status = 'decode_failed') AS BIGINT)
        |    AS n_decode_failed,
        |  CAST(COUNT(*) FILTER (status = 'robots_blocked') AS BIGINT)
        |    AS n_robots_blocked,
        |  CAST(COUNT(*) FILTER (status = 'noindex') AS BIGINT) AS n_noindex,
        |  CAST(COUNT(*) FILTER (status = 'quality_failed') AS BIGINT)
        |    AS n_quality_failed,
        |  CAST(COUNT(*) FILTER (status = 'ok') AS BIGINT) AS n_survivors,
        |  CAST(COUNT(DISTINCT main) FILTER (status = 'ok') AS BIGINT)
        |    AS n_unique
        |FROM b GROUP BY host ORDER BY host""".stripMargin)),

    // L273 — SITEMAP XML PARSE: the frontier-seeding step after the
    // L272 crawl plan hands over the sitemap URLs. Minted sitemaps.org
    // files (every 4th a <sitemapindex>, the rest <urlset>s whose locs
    // carry &-escaped query strings so the entity round-trip is live)
    // run through the real bounded grammar; priorities stay exact e3
    // integers end to end (the 0.5 default path is exercised wherever
    // the formula lands on 500 — mint omits it, parse restores it).
    // The oracle replays the entry formulas with a per-doc unnest.
    Q("c_sitemap_parse",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 400)
          .select(col("doc_id")).as[Long]
        val parsed = base.map { id =>
          import graft.pipeline.Sitemap
          if (id % 4 == 3) {
            val n = 1 + (id % 3).toInt
            val children = (0 until n).map(j =>
              (s"https://site${id % 7}.example.com/sm$j.xml",
                if ((id + j) % 2 == 0) Some("2025-01-0" + (1 + j)) else None))
            val rows = Sitemap.parseIndex(Sitemap.mintIndex(children))
            (id, "index", rows.size.toLong,
              rows.count(_._2.nonEmpty).toLong, 0L)
          } else {
            val n = 1 + (id % 5).toInt
            val entries = (0 until n).map(j => Sitemap.Entry(
              s"https://site${id % 7}.example.com/p$j?a=$id&b=$j",
              if ((id + j) % 2 == 0) Some("2025-02-0" + (1 + j)) else None,
              if (j % 3 == 0) Some("daily") else None,
              ((id + j) % 11) * 100))
            val rows = Sitemap.parse(Sitemap.mint(entries))
            require(rows.map(_.loc) == entries.map(_.loc),
              "sitemap loc round-trip mismatch")
            (id, "urlset", rows.size.toLong,
              rows.count(_.lastmod.nonEmpty).toLong,
              rows.map(_.priorityE3).sum)
          }
        }.toDF("doc_id", "kind", "n_entries", "n_lastmod", "sum_priority_e3")
        parsed.orderBy(col("doc_id"))
      },
      Some("""WITH j AS (SELECT doc_id,
        |    unnest(range(0, CASE WHEN doc_id % 4 = 3
        |      THEN 1 + doc_id % 3 ELSE 1 + doc_id % 5 END)) AS k
        |  FROM documents WHERE doc_id < 400)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 3 THEN 'index' ELSE 'urlset' END AS kind,
        |  CAST(COUNT(*) AS BIGINT) AS n_entries,
        |  CAST(COUNT(*) FILTER ((doc_id + k) % 2 = 0) AS BIGINT)
        |    AS n_lastmod,
        |  CAST(CASE WHEN doc_id % 4 = 3 THEN 0
        |    ELSE SUM(((doc_id + k) % 11) * 100) END AS BIGINT)
        |    AS sum_priority_e3
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // L274 — URL FRONTIER SCHEDULE: politeness-aware fetch sequencing —
    // the step between the L272 crawl plan (per-host delay) and the
    // fetcher fleet. Each host's URLs fetch delay_s apart (pos·delay);
    // URLs round-robin over 3 fetcher slots. Per (host, slot): queue
    // depth, last fetch time, and the exact sum of fetch offsets (the
    // hash-strong column — a wrong row_number anywhere moves it). The
    // window is PARTITIONED by host (never a global sort): at 100 TB
    // the frontier shards by host exactly like this.
    Q("c_frontier_schedule",
      (s, dir) => {
        val urls = Tables.documents(s, dir)
          .select(col("doc_id"),
            concat(lit("site"), col("doc_id") % 7).as("host"),
            (lit(1) + (col("doc_id") % 7) % 5).cast("long").as("delay_s"))
        val seq0 = urls.withColumn("pos",
          row_number().over(Window.partitionBy(col("host"))
            .orderBy(col("doc_id"))).cast("long") - 1L)
          .withColumn("fetch_at_s", col("pos") * col("delay_s"))
          .withColumn("slot", col("pos") % 3)
        seq0.groupBy(col("host"), col("slot"))
          .agg(count(lit(1)).as("n_urls"),
            max(col("fetch_at_s")).as("last_fetch_s"),
            sum(col("fetch_at_s")).as("sum_fetch_s"))
          .orderBy(col("host"), col("slot"))
      },
      Some("""WITH u AS (SELECT doc_id,
        |    'site' || (doc_id % 7) AS host,
        |    CAST(1 + (doc_id % 7) % 5 AS BIGINT) AS delay_s,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % 7
        |      ORDER BY doc_id) AS BIGINT) - 1 AS pos
        |  FROM documents)
        |SELECT host, pos % 3 AS slot, CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(MAX(pos * delay_s) AS BIGINT) AS last_fetch_s,
        |  CAST(SUM(pos * delay_s) AS BIGINT) AS sum_fetch_s
        |FROM u GROUP BY host, pos % 3 ORDER BY host, slot""".stripMargin)),

    // L275 — CONDITIONAL REFETCH PLAN (HTTP caching on recrawl): join
    // the prior snapshot's validators (ETag / Last-Modified) against
    // the new crawl listing and pick the revalidation strategy per URL
    // — If-None-Match beats If-Modified-Since beats unconditional
    // (RFC 9110 §13.1.2 preference), URLs new to the frontier fetch
    // unconditionally; expect_304 marks conditional fetches whose
    // content hash is unchanged — the bandwidth the validator saves.
    Q("c_refetch_plan",
      (s, dir) => {
        val current = Tables.documents(s, dir).filter(col("doc_id") < 600)
          .select(col("doc_id"), (col("doc_id") % 5 === 0).as("changed"))
        val prior = Tables.documents(s, dir)
          .filter(col("doc_id") < 600 && col("doc_id") % 7 =!= 6)
          .select(col("doc_id"),
            when(col("doc_id") % 3 =!= 0,
              concat(lit("\""), col("doc_id"), lit("\""))).as("etag"),
            when(col("doc_id") % 4 =!= 0, lit("2025-01-01")).as("lastmod"))
        current.join(prior, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("etag").isNotNull, "if_none_match")
              .when(col("lastmod").isNotNull, "if_modified_since")
              .when(col("doc_id") % 7 === 6, "unconditional_new")
              .otherwise("unconditional").as("strategy"),
            ((col("etag").isNotNull || col("lastmod").isNotNull) &&
              !col("changed")).as("expect_304"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  CASE WHEN doc_id % 7 <> 6 AND doc_id % 3 <> 0 THEN 'if_none_match'
        |    WHEN doc_id % 7 <> 6 AND doc_id % 4 <> 0 THEN 'if_modified_since'
        |    WHEN doc_id % 7 = 6 THEN 'unconditional_new'
        |    ELSE 'unconditional' END AS strategy,
        |  (doc_id % 7 <> 6 AND (doc_id % 3 <> 0 OR doc_id % 4 <> 0))
        |    AND NOT doc_id % 5 = 0 AS expect_304
        |FROM documents WHERE doc_id < 600 ORDER BY doc_id""".stripMargin)),

    // L277 — PUBLIC-SUFFIX REGISTRABLE DOMAIN: the grouping boundary
    // the per-domain cap (L47) and host rollups need — a.example.co.uk
    // and b.example.co.uk are ONE registrant; x.github.io and
    // y.github.io are two. Minted hosts exercise every publicsuffix.org
    // algorithm branch: multi-label suffixes (co.uk/ac.uk/co.jp), a
    // private registry (github.io), the `*.ck` wildcard, the `!www.ck`
    // exception, case folding, and a bare public suffix (registrable
    // NULL). The oracle replays the decision table.
    Q("c_registrable_domain",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 500)
          .select(col("doc_id")).as[Long]
        val resolved = base.map { id =>
          import graft.pipeline.PublicSuffix
          val host = (id % 8) match {
            case 0 => s"a$id.example.com"
            case 1 => s"b$id.example.co.uk"
            case 2 => s"deep.c$id.example.ac.uk"
            case 3 => s"user$id.github.io"
            case 4 => "WWW.ck"
            case 5 => s"x$id.other.ck"
            case 6 => "com"
            case _ => s"e$id.co.jp"
          }
          (id, host, PublicSuffix.publicSuffix(host),
            PublicSuffix.registrableDomain(host).orNull)
        }.toDF("doc_id", "host", "suffix", "registrable")
        resolved.orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  CASE doc_id % 8
        |    WHEN 0 THEN 'a' || doc_id || '.example.com'
        |    WHEN 1 THEN 'b' || doc_id || '.example.co.uk'
        |    WHEN 2 THEN 'deep.c' || doc_id || '.example.ac.uk'
        |    WHEN 3 THEN 'user' || doc_id || '.github.io'
        |    WHEN 4 THEN 'WWW.ck'
        |    WHEN 5 THEN 'x' || doc_id || '.other.ck'
        |    WHEN 6 THEN 'com'
        |    ELSE 'e' || doc_id || '.co.jp' END AS host,
        |  CASE doc_id % 8
        |    WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' WHEN 2 THEN 'ac.uk'
        |    WHEN 3 THEN 'github.io' WHEN 4 THEN 'ck'
        |    WHEN 5 THEN 'other.ck' WHEN 6 THEN 'com'
        |    ELSE 'co.jp' END AS suffix,
        |  CASE doc_id % 8
        |    WHEN 0 THEN 'example.com'
        |    WHEN 1 THEN 'example.co.uk'
        |    WHEN 2 THEN 'example.ac.uk'
        |    WHEN 3 THEN 'user' || doc_id || '.github.io'
        |    WHEN 4 THEN 'www.ck'
        |    WHEN 5 THEN 'x' || doc_id || '.other.ck'
        |    WHEN 6 THEN NULL
        |    ELSE 'e' || doc_id || '.co.jp' END AS registrable
        |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin)),

    // L281 — REDIRECT-CHAIN RESOLUTION: a recrawl's 301 map is an edge
    // TABLE (src → dst), and every frontier URL must resolve through
    // it — bounded hops, loop detection — before dedup can canonicalize
    // (a redirect chain is the same document under k names). Three
    // unrolled join rounds over the edge table (the trussPeel bounded-
    // round contract): terminal → resolved/direct, revisit → loop,
    // budget exhausted on a still-redirecting node → too_many_hops.
    // The minted map exercises all four fates (1-hop, 2-hop, self-loop,
    // 2-cycle, 3-cycle-tail, over-budget chain); the oracle replays the
    // per-variant decision table.
    Q("c_redirect_chains",
      (s, dir) => {
        val ids = Tables.documents(s, dir).filter(col("doc_id") < 500)
          .select(col("doc_id").as("id"))
        val v = col("src") % 10
        val edges = ids.select(col("id").as("src"))
          .select(col("src"),
            when(v.isin(0, 2, 3, 7, 8), col("src") + 1)
              .when(v === 5, col("src") + 2)
              .when(v === 6, col("src"))
              .when(v === 9, col("src") - 1).as("dst"))
          .filter(col("dst").isNotNull)
        var st = ids.select(col("id"), col("id").as("cur"),
          lit(0L).as("hops"), lit("pending").as("status"),
          array(col("id")).as("visited"))
        for (_ <- 1 to 3) {
          val e = edges.withColumnRenamed("src", "e_src")
          st = st.join(e, st("cur") === e("e_src"), "left")
            .select(col("id"),
              when(col("status") =!= "pending" || col("dst").isNull ||
                array_contains(col("visited"), col("dst")), col("cur"))
                .otherwise(col("dst")).as("cur"),
              when(col("status") =!= "pending" || col("dst").isNull,
                col("hops")).otherwise(col("hops") + 1L).as("hops"),
              when(col("status") =!= "pending", col("status"))
                .when(col("dst").isNull,
                  when(col("hops") === 0L, "direct").otherwise("resolved"))
                .when(array_contains(col("visited"), col("dst")), "loop")
                .otherwise("pending").as("status"),
              when(col("status") === "pending" && col("dst").isNotNull &&
                !array_contains(col("visited"), col("dst")),
                array_union(col("visited"), array(col("dst"))))
                .otherwise(col("visited")).as("visited"))
        }
        st.select(col("id"),
            when(col("status") === "pending", "too_many_hops")
              .otherwise(col("status")).as("status"),
            col("hops"),
            when(col("status").isin("resolved", "direct"), col("cur"))
              .otherwise(lit(-1L)).as("final_id"))
          .orderBy(col("id"))
      },
      Some(redirectChainsOracleSql)),

    // L284 — CRAWL-TRAP DETECTION by URL-template folding: a trap host
    // (calendar pages, session ids, faceted search) mints unboundedly
    // many URLs from few templates — the frontier must flag it before
    // it eats the fetch budget. Digit runs fold to `D`, and the
    // distinct-URL / distinct-template ratio gates at 30: the minted
    // trap host (/cal/2025/m/d — one template, ~84 URLs) trips it, the
    // word-path hosts (7 templates, ≤28 URLs each) never do. Pure
    // hash-agg per host; the oracle rebuilds both distinct counts from
    // its own string construction.
    Q("c_crawl_traps",
      (s, dir) => {
        val words = Vector("about", "news", "blog", "shop", "docs",
          "help", "team")
        val urls = Tables.documents(s, dir).filter(col("doc_id") < 500)
          .select(concat(lit("h"), col("doc_id") % 5).as("host"),
            when(col("doc_id") % 5 === 4,
              concat(lit("/cal/2025/"), col("doc_id") % 12, lit("/"),
                col("doc_id") % 28))
              .otherwise(concat(lit("/"),
                element_at(array(words.map(lit): _*),
                  (col("doc_id") % 7 + 1).cast("int")),
                lit("/p"), col("doc_id") % 20)).as("path"))
        urls.withColumn("tpl",
            regexp_replace(col("path"), "[0-9]+", "D"))
          .groupBy(col("host"))
          .agg(countDistinct(col("path")).as("n_urls"),
            countDistinct(col("tpl")).as("n_templates"))
          .withColumn("ratio_e6", expr("(n_urls * 1000000L) div n_templates"))
          .withColumn("trap", col("ratio_e6") > 30000000L)
          .orderBy(col("host"))
      },
      Some("""WITH u AS (SELECT 'h' || (doc_id % 5) AS host,
        |    CASE WHEN doc_id % 5 = 4 THEN '/cal/2025/' || (doc_id % 12)
        |        || '/' || (doc_id % 28)
        |      ELSE '/' || (['about','news','blog','shop','docs','help',
        |        'team'])[CAST(doc_id % 7 + 1 AS INTEGER)]
        |        || '/p' || (doc_id % 20) END AS path
        |  FROM documents WHERE doc_id < 500),
        |f AS (SELECT host, path,
        |    regexp_replace(path, '[0-9]+', 'D', 'g') AS tpl FROM u),
        |a AS (SELECT host, CAST(COUNT(DISTINCT path) AS BIGINT) AS n_urls,
        |    CAST(COUNT(DISTINCT tpl) AS BIGINT) AS n_templates
        |  FROM f GROUP BY host)
        |SELECT host, n_urls, n_templates,
        |  CAST((n_urls * 1000000) // n_templates AS BIGINT) AS ratio_e6,
        |  (n_urls * 1000000) // n_templates > 30000000 AS trap
        |FROM a ORDER BY host""".stripMargin)),

    // L285 — ADAPTIVE RECRAWL SCHEDULING (Cho & Garcia-Molina
    // freshness): per URL the observed change rate over its fetch
    // history sets the next revisit interval — volatile pages daily,
    // static pages monthly, clamped to [1h, 30d]. History explodes
    // from formulas (fetches = 4+id%5, change at fetch j iff
    // (7·id+13·j)%4=0), the rollup is one keyed agg, every output an
    // exact integer division. The oracle unnests the same range.
    Q("c_recrawl_rate",
      (s, dir) => {
        Tables.documents(s, dir).filter(col("doc_id") < 500)
          .select(col("doc_id"),
            (lit(4L) + col("doc_id") % 5).as("fetches"))
          .withColumn("j", explode(sequence(lit(0L), col("fetches") - 1L)))
          .withColumn("changed",
            (col("doc_id") * 7 + col("j") * 13) % 4 === 0)
          .groupBy(col("doc_id"), col("fetches"))
          .agg(sum(when(col("changed"), 1L).otherwise(0L)).as("changes"))
          .withColumn("rate_e6", expr("(changes * 1000000L) div fetches"))
          .withColumn("next_interval_s",
            least(lit(2592000L), greatest(lit(3600L),
              expr("(86400 * fetches) div (changes + 1)"))))
          .orderBy(col("doc_id"))
      },
      Some("""WITH h AS (SELECT doc_id,
        |    CAST(4 + doc_id % 5 AS BIGINT) AS fetches,
        |    unnest(range(0, 4 + doc_id % 5)) AS j
        |  FROM documents WHERE doc_id < 500),
        |a AS (SELECT doc_id, fetches,
        |    CAST(COUNT(*) FILTER ((doc_id * 7 + j * 13) % 4 = 0)
        |      AS BIGINT) AS changes
        |  FROM h GROUP BY doc_id, fetches)
        |SELECT doc_id, fetches, changes,
        |  CAST((changes * 1000000) // fetches AS BIGINT) AS rate_e6,
        |  CAST(LEAST(2592000, GREATEST(3600,
        |    (86400 * fetches) // (changes + 1))) AS BIGINT)
        |    AS next_interval_s
        |FROM a ORDER BY doc_id""".stripMargin)),

    // L313 — SCD-2 VALIDITY INTERVALS (Curation.scd2Intervals): a
    // per-page change log (detected value per observation) becomes the
    // type-2 dimension table — one row per value EPISODE with
    // half-open [valid_from, valid_to) and is_current; unchanged
    // observations collapse, re-appearances reopen. Two key-
    // partitioned windows, one shuffle. The oracle replays the
    // lag-gate + lead-close.
    Q("c_scd2_intervals",
      (s, dir) => {
        val log = Tables.documents(s, dir).filter(col("doc_id") < 480)
          .select(pmod(col("doc_id"), lit(40L)).as("k"),
            col("doc_id").as("ts"),
            ((expr("doc_id div 40") + pmod(col("doc_id"), lit(7L)))
              % 3L).as("v"))
        Curation.scd2Intervals(log, "k", "ts", "v")
      },
      Some("""WITH x AS (SELECT doc_id % 40 AS k, doc_id AS ts,
        |    CAST(((doc_id // 40) + (doc_id % 7)) % 3 AS VARCHAR) AS v
        |  FROM documents WHERE doc_id < 480),
        |ch AS (SELECT k, ts, v,
        |    lag(v) OVER (PARTITION BY k ORDER BY ts) AS pv FROM x),
        |ep AS (SELECT k, ts, v FROM ch WHERE pv IS NULL OR pv <> v),
        |iv AS (SELECT k AS key, v AS value, ts AS valid_from,
        |    COALESCE(lead(ts) OVER (PARTITION BY k ORDER BY ts),
        |      9223372036854775807) AS valid_to FROM ep)
        |SELECT key, value, valid_from, valid_to,
        |  valid_to = 9223372036854775807 AS is_current
        |FROM iv ORDER BY key, valid_from""".stripMargin)),

    // L324 — E.164 PHONE PII GATE (Curation.e164Valid): candidates
    // minted doc_id-derived in both engines across every failure mode
    // — valid 1/2/3-digit country codes, an unassigned code, and
    // length violations on both ends — validated against the embedded
    // ITU subset (longest-prefix match) + the 8..15 digit bound;
    // valid numbers redact (the c_pii_luhn convention).
    Q("c_pii_phone",
      (s, dir) => {
        val cc = element_at(array(lit("1"), lit("44"), lit("999"),
          lit("86")), (pmod(col("doc_id"), lit(4L)) + 1).cast("int"))
        val sub = expr("lpad(CAST(doc_id % 100000 AS STRING), " +
          "CAST(5 + doc_id % 10 AS INT), '0')")
        Tables.documents(s, dir)
          .select(col("doc_id"),
            concat(lit("+"), cc, sub).as("candidate"))
          .withColumn("e164_ok", Curation.e164Valid(col("candidate")))
          .withColumn("clean",
            when(col("e164_ok"), lit("<PHONE>")).otherwise(col("candidate")))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH p AS (SELECT doc_id,
        |    '+' || (['1', '44', '999', '86'])[CAST(doc_id % 4 AS INTEGER) + 1]
        |      || lpad(CAST(doc_id % 100000 AS VARCHAR),
        |        CAST(5 + doc_id % 10 AS INTEGER), '0') AS candidate
        |  FROM documents),
        |v AS (SELECT doc_id, candidate,
        |    regexp_full_match(candidate, '\\+[0-9]{8,15}')
        |    AND (substr(candidate, 2, 3) IN
        |        (${Curation.e164Cc3.map(c => s"'$c'").mkString(", ")})
        |      OR substr(candidate, 2, 2) IN
        |        (${Curation.e164Cc2.map(c => s"'$c'").mkString(", ")})
        |      OR substr(candidate, 2, 1) IN
        |        (${Curation.e164Cc1.map(c => s"'$c'").mkString(", ")}))
        |      AS e164_ok
        |  FROM p)
        |SELECT doc_id, candidate, e164_ok,
        |  CASE WHEN e164_ok THEN '<PHONE>' ELSE candidate END AS clean
        |FROM v ORDER BY doc_id""".stripMargin))
  )
}
