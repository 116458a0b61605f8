package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.GraftFunctions.winnow84
import graft.ops.{Curation, Dedup, EvalOps, EventAnalytics, GraphOps, MLlibOps, Multimodal, Retrieval, SegmentAlgebra, SegmentOps, Similarity, TextOps}
import graft.QuerySupport._

/** Text analysis: tokenization, quality, language id, BPE,
  * fingerprinting, chunking (SURVEY §2.11 text ids).
  */
private[graft] object QueriesText {

  def entries: Seq[Q] = Seq(

    // T-ops — token statistics (length/token counting per SURVEY §7.0).
    Q("t_token_stats",
      (s, dir) => docToks(s, dir)
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
          aggregate(col("toks"), lit(0L), (a, t) => a + length(t)).as("sum_tok_chars"))
        .withColumn("avg_tok_len", col("sum_tok_chars").cast("double") / col("n_tokens"))
        .orderBy(col("doc_id")),
      Some(s"""WITH $toksSqlCte
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  CAST(list_sum(list_transform(toks, t -> strlen(t))) AS BIGINT) AS sum_tok_chars,
        |  CAST(CAST(list_sum(list_transform(toks, t -> strlen(t))) AS BIGINT) AS DOUBLE)
        |    / CAST(len(toks) AS BIGINT) AS avg_tok_len
        |FROM d ORDER BY doc_id""".stripMargin)),


    // T-ops — quality scoring: stopword ratio + length gate.
    Q("t_quality_score",
      (s, dir) => docToks(s, dir)
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          TextOps.stopwordHits(col("toks"), TextOps.langMarkers.head._2).as("stop_hits"))
        .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tokens"))
        .withColumn("quality_ok", col("n_tokens") >= 50 && col("stop_ratio") >= 0.02)
        .orderBy(col("doc_id")),
      Some(s"""WITH $toksSqlCte
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t))) AS BIGINT) AS stop_hits,
        |  CAST(CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t))) AS BIGINT) AS DOUBLE)
        |    / CAST(len(toks) AS BIGINT) AS stop_ratio,
        |  (CAST(len(toks) AS BIGINT) >= 50 AND
        |   CAST(CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t))) AS BIGINT) AS DOUBLE)
        |    / CAST(len(toks) AS BIGINT) >= 0.02) AS quality_ok
        |FROM d ORDER BY doc_id""".stripMargin)),


    // T-ops — language-ID by stopword-set argmax (deterministic ties).
    Q("t_langid",
      (s, dir) => docToks(s, dir)
        .withColumn("pred", TextOps.langId(col("toks")))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred")),
      Some(s"""WITH $toksSqlCte,
        |h AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t))) AS BIGINT) AS h_en,
        |  CAST(len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en'], t))) AS BIGINT) AS h_es,
        |  CAST(len(list_filter(toks, t -> list_contains(['le','la','et','les','des','une'], t))) AS BIGINT) AS h_fr,
        |  CAST(len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','ein'], t))) AS BIGINT) AS h_de
        |  FROM d),
        |p AS (SELECT lang,
        |  CASE WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de THEN 'en'
        |       WHEN h_es >= h_fr AND h_es >= h_de THEN 'es'
        |       WHEN h_fr >= h_de THEN 'fr' ELSE 'de' END AS pred FROM h)
        |SELECT lang, pred, COUNT(*) AS n FROM p GROUP BY lang, pred
        |ORDER BY lang, pred""".stripMargin)),


    // T-ops — char-TRIGRAM language ID (Cavnar–Trenkle-style profile):
    // explode document trigrams, broadcast-join the static integer-weight
    // profile, per-(doc, lang) sum, deterministic argmax. A different
    // scale shape than the word-marker langid: explode + broadcast hash
    // join + two-level agg, still zero wide shuffles beyond the per-doc
    // score rows. Confusion-matrix rollup output.
    Q("t_langid_ngram",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        docs.select(col("doc_id"), col("lang"))
          .join(TextOps.langIdNgram(docs, "doc_id", "text"), Seq("doc_id"), "left")
          .select(col("lang"), coalesce(col("pred_lang"), lit("und")).as("pred"))
          .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("pred"))
      },
      Some(s"""WITH prof(plang, pidx, trigram, weight) AS (VALUES $langProfileSqlValues),
        |c AS (SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS canon
        |  FROM documents),
        |tg0 AS (SELECT doc_id, canon, unnest(range(greatest(len(canon) - 2, 0))) AS i FROM c),
        |tg AS (SELECT doc_id, substr(canon, CAST(i + 1 AS INTEGER), 3) AS trigram FROM tg0),
        |sc AS (SELECT t.doc_id, p.plang, p.pidx, CAST(SUM(p.weight) AS BIGINT) AS score
        |  FROM tg t JOIN prof p ON p.trigram = t.trigram
        |  GROUP BY t.doc_id, p.plang, p.pidx),
        |b AS (SELECT doc_id, plang FROM (SELECT doc_id, plang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, pidx ASC) AS rn
        |  FROM sc) t WHERE rn = 1),
        |pr AS (SELECT d.lang, COALESCE(b.plang, 'und') AS pred
        |  FROM documents d LEFT JOIN b ON b.doc_id = d.doc_id)
        |SELECT lang, pred, COUNT(*) AS n FROM pr GROUP BY lang, pred
        |ORDER BY lang, pred""".stripMargin)),


    // T-ops — BPE-ish pretokenization counts: letter runs, digit runs,
    // single punctuation (the GPT-2 pretokenizer shape, RE2-safe so the
    // identical pattern runs in the oracle).
    Q("t_bpe_tokens",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.bpeTokens(col("text")).as("bt"))
        .select(col("doc_id"),
          size(col("bt")).cast("long").as("n_bpe"),
          size(filter(col("bt"), t => t.rlike("^\\p{L}"))).cast("long").as("n_word"),
          size(filter(col("bt"), t => t.rlike("^\\p{N}"))).cast("long").as("n_num"),
          aggregate(col("bt"), lit(0L), (a, t) => a + length(t)).as("sum_chars"))
        // token-free docs out: the engines disagree on empty-list
        // aggregates (0 vs NULL) and avg_len would divide by zero
        .filter(col("n_bpe") > 0)
        .withColumn("avg_len", col("sum_chars").cast("double") / col("n_bpe"))
        .orderBy(col("doc_id")),
      Some("""WITH b AS (SELECT doc_id,
        |  regexp_extract_all(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]') AS bt FROM documents
        |  ) , b2 AS (SELECT * FROM b WHERE len(bt) > 0)
        |SELECT doc_id, CAST(len(bt) AS BIGINT) AS n_bpe,
        |  CAST(len(list_filter(bt, t -> regexp_matches(t, '^\p{L}'))) AS BIGINT) AS n_word,
        |  CAST(len(list_filter(bt, t -> regexp_matches(t, '^\p{N}'))) AS BIGINT) AS n_num,
        |  CAST(list_sum(list_transform(bt, t -> strlen(t))) AS BIGINT) AS sum_chars,
        |  CAST(CAST(list_sum(list_transform(bt, t -> strlen(t))) AS BIGINT) AS DOUBLE)
        |    / CAST(len(bt) AS BIGINT) AS avg_len
        |FROM b2 ORDER BY doc_id""".stripMargin)),


    // T-ops — winnowing document fingerprints (MOSS rolling-hash scheme):
    // char-8-gram md5s, window-4 minima, distinct. Outputs are set
    // statistics, so the two engines' distinct orders don't matter.
    Q("t_winnow_fp",
      (s, dir) => {
        Tables.documents(s, dir)
          .withColumn("fps", winnow84(col("text")))
          .select(col("doc_id"),
            greatest(length(regexp_replace(col("text"), "[^A-Za-z0-9]", "")) - 7,
              lit(0)).cast("long").as("n_grams"),
            size(col("fps")).cast("long").as("n_fp"),
            array_min(col("fps")).as("min_fp"), array_max(col("fps")).as("max_fp"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH c AS (SELECT doc_id,
        |  lower(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS canon FROM documents),
        |g AS (SELECT doc_id, CASE WHEN strlen(canon) >= 8
        |    THEN list_transform(range(0, strlen(canon) - 8 + 1), i -> md5(substr(canon, CAST(i + 1 AS INTEGER), 8)))
        |    ELSE [] END AS grams FROM c),
        |f AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  CASE WHEN len(grams) >= 4
        |    THEN list_distinct(list_transform(range(0, len(grams) - 4 + 1),
        |      j -> list_min(grams[CAST(j + 1 AS INTEGER):CAST(j + 4 AS INTEGER)])))
        |    WHEN len(grams) > 0 THEN [list_min(grams)] ELSE [] END AS fps FROM g)
        |SELECT doc_id, n_grams, CAST(len(fps) AS BIGINT) AS n_fp,
        |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
        |FROM f ORDER BY doc_id""".stripMargin)),


    // L-series — MULTI-PATTERN LITERAL MATCHING via one broadcast
    // Aho-Corasick automaton: per-document cost is one linear pass
    // regardless of pattern count — the blocklist/PII-term shape at
    // 100 TB, vs per-pattern regexp scans that rescan every byte. The
    // chosen patterns are all BORDER-FREE (no proper prefix equals a
    // suffix — note 'window' would border on 'w' and self-overlap in
    // text like 'windowindow'), so the oracle's disjoint replace-count
    // equals the automaton's all-occurrence count.
    Q("t_multi_match",
      (s, dir) => graft.ops.TextMatch.matchCounts(
          Tables.documents(s, dir), "doc_id", "text",
          Seq("spark", "table", "join", "scan", "query", "filter"))
        .orderBy(col("doc_id"), col("pattern")),
      Some("""WITH p(pattern) AS (SELECT * FROM (VALUES ('spark'), ('table'),
        |  ('join'), ('scan'), ('query'), ('filter'))),
        |m AS (SELECT doc_id, pattern,
        |  CAST((strlen(text) - strlen(replace(text, pattern, ''))) // strlen(pattern)
        |    AS BIGINT) AS n
        |  FROM documents, p)
        |SELECT doc_id, pattern, n FROM m WHERE n > 0
        |ORDER BY doc_id, pattern""".stripMargin)),


    // Curation — EXACT token-length quantiles, distributed shape:
    // per-value counts (hash shuffle on the value), then the running
    // count over sorted DISTINCT values picks ceil(q·n/100) — the exact
    // answer without a global row sort, and portable unlike sketch
    // percentiles. The length distribution is what quality gates (P4/P5
    // analogs, Gopher length filters) are calibrated against.
    Q("t_length_quantiles",
      (s, dir) => Curation.discreteQuantiles(
          Tables.documents(s, dir)
            .select(TextOps.tokenCount(col("text")).as("n_tok")),
          "n_tok", Seq(1, 10, 25, 50, 75, 90, 99)),
      Some("""WITH v AS (SELECT CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS v
        |  FROM documents),
        |c AS (SELECT v, COUNT(*) AS c FROM v GROUP BY v),
        |cum AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cum,
        |  CAST(SUM(c) OVER () AS BIGINT) AS n FROM c),
        |q AS (SELECT CAST(unnest([1,10,25,50,75,90,99]) AS BIGINT) AS q_pct),
        |t AS (SELECT q.q_pct, (q.q_pct * cum.n + 99) // 100 AS target, cum.v, cum.cum
        |  FROM q CROSS JOIN cum)
        |SELECT q_pct, MIN(v) AS value FROM t WHERE cum >= target
        |GROUP BY q_pct ORDER BY q_pct""".stripMargin)),


    // L52 — DISTRIBUTED BPE TOKENIZER INDUCTION (Sennrich et al. 2016):
    // the first 4 merge rules learned over the corpus. The only
    // corpus-scale pass is the word-frequency agg; each round counts
    // adjacent symbol pairs over the compact distinct-word table, picks
    // the deterministic argmax (the scalar merge rule — the
    // broadcast-decision pattern of production tokenizer training), and
    // applies it as a greedy left-to-right `replace` on delimited
    // symbol strings, which both engines execute with identical
    // semantics — a 4-round training LOOP checked exactly.
    Q("t_bpe_merges",
      (s, dir) => sessionBpe(s, dir)._1,
      Some(bpeOracleSql(4))),


    // L114 — BPE tokenizer APPLICATION (the missing half of L52):
    // train the same 4 rules, then tokenize the corpus with them and
    // emit the realized vocabulary histogram. Zero extra corpus passes:
    // training's final working table IS the encoded distinct-word
    // table, so encode = split + frequency-weighted count.
    Q("t_bpe_encode",
      (s, dir) => TextOps.bpeHistogram(sessionBpe(s, dir)._2),
      Some(bpeEncodeOracleSql(4))),


    // L124 — TOKENIZER FERTILITY BY LANGUAGE: tokens-per-word and
    // chars-per-token of the session-trained vocabulary split by lang
    // — the multilingual fairness audit. One tokenize pass + an equi
    // join against the Heaps-small distinct-word table; ratios as
    // scaled integer divisions.
    Q("t_bpe_fertility",
      (s, dir) => TextOps.bpeFertility(
        Tables.documents(s, dir), "text", "lang", sessionBpe(s, dir)._2),
      Some(bpeChainSql(4) + s""",
wt AS (SELECT w, CAST(len(string_split(substr(repr, 2, length(repr) - 2), '||')) AS BIGINT) AS n_sym FROM w4),
dw AS (SELECT lang, unnest(toks) AS w FROM d),
ag AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
    CAST(SUM(length(dw.w)) AS BIGINT) AS n_chars,
    CAST(SUM(wt.n_sym) AS BIGINT) AS n_bpe_tokens
  FROM dw JOIN wt ON wt.w = dw.w GROUP BY lang)
SELECT lang, n_words, n_chars, n_bpe_tokens,
  (1000 * n_bpe_tokens) // n_words AS fertility_milli,
  (1000 * n_chars) // n_bpe_tokens AS cpt_milli
FROM ag ORDER BY lang""")),


    // L54 — CO-OCCURRENCE / PMI association mining: unordered token
    // pairs within a ±2 offset, ranked by the log-free PMI surrogate
    // lift = c_ab·N / (c_a·c_b) — numerator and denominator exact
    // integer products, the lift ONE division. Pair generation is
    // array-local shifted-slice zips (no positional self-join, nothing
    // shuffles before the counting aggregations).
    Q("t_cooccur_pmi",
      (s, dir) => TextOps.cooccurrencePmi(
        Tables.documents(s, dir), "text", window = 2, minPairCount = 5L, k = 20),
      Some(s"""WITH $toksSqlCte,
        |pr AS (SELECT unnest(ps) AS p FROM (
        |  SELECT list_filter(list_transform(toks, (x, i) -> CASE WHEN i + 1 <= len(toks)
        |      THEN [least(x, toks[i + 1]), greatest(x, toks[i + 1])] END), y -> y IS NOT NULL)
        |    || list_filter(list_transform(toks, (x, i) -> CASE WHEN i + 2 <= len(toks)
        |      THEN [least(x, toks[i + 2]), greatest(x, toks[i + 2])] END), y -> y IS NOT NULL) AS ps
        |  FROM d)),
        |pc AS (SELECT p[1] AS a, p[2] AS b, CAST(COUNT(*) AS BIGINT) AS c_ab
        |  FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |u AS (SELECT unnest(toks) AS tok FROM d),
        |uc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY 1),
        |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM uc),
        |sc AS (SELECT pc.a, pc.b, pc.c_ab, ua.c AS c_a, ub.c AS c_b,
        |    pc.c_ab * nt.n_total AS num, ua.c * ub.c AS den,
        |    CAST(pc.c_ab * nt.n_total AS DOUBLE) / CAST(ua.c * ub.c AS DOUBLE) AS lift
        |  FROM pc JOIN uc ua ON ua.tok = pc.a JOIN uc ub ON ub.tok = pc.b, nt),
        |r AS (SELECT CAST(row_number() OVER (ORDER BY lift DESC, a, b) AS BIGINT) AS rank, *
        |  FROM sc)
        |SELECT rank, a, b, c_ab, c_a, c_b, num, den, lift FROM r
        |WHERE rank <= 20 ORDER BY rank""".stripMargin)),


    // L38 — per-doc TF-IDF keywords, integer-exact: rank tokens by the
    // log-free monotone surrogate tf/df (score = tf·10⁹ div df — one
    // exact integer division, bit-stable ranks cross-engine), top 3 per
    // doc. One tf agg + one df agg + a token equi join + per-doc window.
    Q("t_tfidf_topk",
      (s, dir) => TextOps.tfidfTopK(Tables.documents(s, dir), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("rank")),
      Some(s"""WITH $toksSqlCte,
        |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM t GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.tok, tf.tf, dfq.df,
        |    (tf.tf * 1000000000) // dfq.df AS score
        |  FROM tf JOIN dfq ON dfq.tok = tf.tok),
        |r AS (SELECT doc_id, tok, tf, df, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, tok) AS BIGINT) AS rank
        |  FROM sc)
        |SELECT doc_id, rank, tok, tf, df, CAST(score AS BIGINT) AS score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),


    // L58 — CONTEXT-WINDOW CHUNKING: long documents split into
    // overlapping 32-token windows advancing by 24 (8-token overlap) —
    // the complement of c_pack_sequences' packing, together the standard
    // sequence prep for a fixed training context; same shape as RAG
    // passage chunking. Array-local explode + slice, NO shuffle at any
    // scale; chunk-count formula and 1-based slice mirrored exactly.
    Q("t_chunk_windows",
      (s, dir) => TextOps.chunkWindows(
        Tables.documents(s, dir), "doc_id", "text",
        maxTokens = 32, stride = 24),
      Some(s"""WITH $toksSqlCte,
        |t AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
        |  FROM d WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks,
        |    1 + CASE WHEN n > 32 THEN (n - 32 + 23) // 24 ELSE 0 END AS nc
        |  FROM t),
        |x AS (SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_id FROM c),
        |sl AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |    toks[chunk_id * 24 + 1 : chunk_id * 24 + 32] AS ct FROM x)
        |SELECT doc_id, chunk_id, CAST(len(ct) AS BIGINT) AS n_tokens,
        |  array_to_string(ct, ' ') AS chunk_text
        |FROM sl ORDER BY doc_id, chunk_id""".stripMargin)),


    // L139 — TEXTTILING SEGMENTATION: content-aware chunking that cuts
    // where the distinct-token overlap of the 10 tokens before vs after
    // a boundary drops to ≤ 2 (an exact integer cohesion score) —
    // per-row array HOFs for scoring, one per-doc window pass over the
    // tiny cut list for assembly; short docs emit one whole-doc
    // segment.
    Q("t_texttile_segments",
      (s, dir) => TextOps.textTileSegments(
          Tables.documents(s, dir), "doc_id", "text", w = 10, minOverlap = 2)
        .orderBy(col("doc_id"), col("seg_id")),
      Some(s"""WITH $toksSqlCte,
        |bb AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d
        |  WHERE len(toks) > 0),
        |ci AS (SELECT doc_id, toks, CAST(i AS BIGINT) AS i FROM (
        |  SELECT doc_id, toks, unnest(range(10, CAST(len(toks) AS BIGINT) - 10 + 1)) AS i
        |  FROM bb WHERE n >= 20) t),
        |cuts AS (SELECT doc_id, i FROM ci
        |  WHERE len(list_filter(
        |    list_distinct(toks[CAST(i - 9 AS INTEGER):CAST(i AS INTEGER)]),
        |    x -> list_contains(toks[CAST(i + 1 AS INTEGER):CAST(i + 10 AS INTEGER)], x))) <= 2),
        |bounds AS (SELECT doc_id, i FROM cuts
        |  UNION ALL SELECT doc_id, CAST(0 AS BIGINT) FROM bb
        |  UNION ALL SELECT doc_id, n FROM bb),
        |sp AS (SELECT doc_id, i, lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS e
        |  FROM bounds),
        |sv AS (SELECT doc_id, i, e FROM sp WHERE e IS NOT NULL AND e > i)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) - 1 AS seg_id,
        |  i AS start_pos, e AS end_pos, e - i AS n_toks
        |FROM sv ORDER BY doc_id, seg_id""".stripMargin)),


    // L139b — TEXTTILING CHUNK MATERIALIZATION: the segment offsets
    // joined back to the token arrays and emitted as text — the actual
    // RAG chunk table a retrieval index ingests (offsets alone are the
    // audit view). One equi join on the doc id + a per-row slice.
    Q("t_texttile_chunks",
      (s, dir) => {
        val segs = TextOps.textTileSegments(
          Tables.documents(s, dir), "doc_id", "text", w = 10, minOverlap = 2)
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        segs.join(toks, Seq("doc_id"))
          .select(col("doc_id"), col("seg_id"), col("n_toks"),
            array_join(slice(col("toks"), (col("start_pos") + 1L).cast("int"),
              col("n_toks").cast("int")), " ").as("chunk_text"))
          .orderBy(col("doc_id"), col("seg_id"))
      },
      Some(s"""WITH $toksSqlCte,
        |bb AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d
        |  WHERE len(toks) > 0),
        |ci AS (SELECT doc_id, toks, CAST(i AS BIGINT) AS i FROM (
        |  SELECT doc_id, toks, unnest(range(10, CAST(len(toks) AS BIGINT) - 10 + 1)) AS i
        |  FROM bb WHERE n >= 20) t),
        |cuts AS (SELECT doc_id, i FROM ci
        |  WHERE len(list_filter(
        |    list_distinct(toks[CAST(i - 9 AS INTEGER):CAST(i AS INTEGER)]),
        |    x -> list_contains(toks[CAST(i + 1 AS INTEGER):CAST(i + 10 AS INTEGER)], x))) <= 2),
        |bounds AS (SELECT doc_id, i FROM cuts
        |  UNION ALL SELECT doc_id, CAST(0 AS BIGINT) FROM bb
        |  UNION ALL SELECT doc_id, n FROM bb),
        |sp AS (SELECT doc_id, i, lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS e
        |  FROM bounds),
        |sv AS (SELECT doc_id, i, e FROM sp WHERE e IS NOT NULL AND e > i),
        |sg AS (SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) - 1 AS seg_id,
        |  i, e FROM sv)
        |SELECT sg.doc_id, sg.seg_id, sg.e - sg.i AS n_toks,
        |  array_to_string(bb.toks[CAST(sg.i + 1 AS INTEGER):CAST(sg.e AS INTEGER)], ' ') AS chunk_text
        |FROM sg JOIN bb ON bb.doc_id = sg.doc_id
        |ORDER BY sg.doc_id, sg.seg_id""".stripMargin)),


    // L74 — PIVOT (long → wide): per-source token totals spread across
    // the five language columns — Spark's RelationalGroupedDataset
    // .pivot with explicit values (fixed schema: at scale you always
    // pin the pivot values; inferring them is an extra pass). Empty
    // (source, lang) cells coalesce to 0 on BOTH sides: a NULL-bearing
    // BIGINT column canonicalizes differently across engines in the
    // driver's pandas comparator.
    Q("t_pivot_matrix",
      (s, dir) => Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          TextOps.tokenCount(col("text")).as("nt"))
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(sum(col("nt")))
        .na.fill(0L, Seq("de", "en", "es", "fr", "zh"))
        .orderBy(col("source")),
      Some("""WITH d AS (SELECT source, lang,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
        |      AS BIGINT) AS nt FROM documents)
        |SELECT source,
        |  CAST(COALESCE(SUM(CASE WHEN lang = 'de' THEN nt END), 0) AS BIGINT) AS de,
        |  CAST(COALESCE(SUM(CASE WHEN lang = 'en' THEN nt END), 0) AS BIGINT) AS en,
        |  CAST(COALESCE(SUM(CASE WHEN lang = 'es' THEN nt END), 0) AS BIGINT) AS es,
        |  CAST(COALESCE(SUM(CASE WHEN lang = 'fr' THEN nt END), 0) AS BIGINT) AS fr,
        |  CAST(COALESCE(SUM(CASE WHEN lang = 'zh' THEN nt END), 0) AS BIGINT) AS zh
        |FROM d GROUP BY source ORDER BY source""".stripMargin)),


    // L91 — OOV RATE vs a df-fraction-truncated vocabulary: vocab =
    // tokens in ≥ 78% of docs (integer cross-multiplied gate — no
    // global top-k sort), per-doc out-of-vocab token-occurrence
    // fraction; vocab broadcasts into the token scan.
    Q("t_oov_rate",
      (s, dir) => Curation.oovRate(
          Tables.documents(s, dir), "doc_id", "text", dfNum = 78, dfDen = 100)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"), col("oov_rate"))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
        |  FROM documents),
        |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
        |v AS (SELECT tok FROM (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |    FROM t GROUP BY tok) x, nd WHERE df * 100 >= 78 * n_docs)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS oov_rate
        |FROM t LEFT JOIN v ON v.tok = t.tok
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),

    // L146 — word2phrase collocation mining (Mikolov et al. 2013). The
    // synthetic corpus has near-uniform bigram statistics, so true
    // collocations are MINTED doc_id-derived identically in both
    // engines (the c_pii fixture convention): three city phrases
    // appended at periods 5/7/11. Acceptance is the cross-multiplied
    // integer word2phrase gate (δ=3, τ=2); output = top 20 bigrams by
    // scaled score with the accepted flag — the minted phrases must
    // surface as the accepted heads.
    Q("t_collocations",
      (s, dir) => {
        val minted = Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(5L)) === 0L, lit(" kuala lumpur"))
              .otherwise(lit("")),
            when(pmod(col("doc_id"), lit(7L)) === 0L, lit(" hong kong"))
              .otherwise(lit("")),
            when(pmod(col("doc_id"), lit(11L)) === 0L, lit(" sri lanka"))
              .otherwise(lit(""))).as("text"))
        TextOps.collocations(minted, "text", delta = 3L, tau = 2L)
          .orderBy(col("score_e3").desc, col("w1"), col("w2"))
          .limit(20)
          .withColumn("rank",
            row_number().over(Window.orderBy(
              col("score_e3").desc, col("w1"), col("w2"))).cast("long"))
      },
      Some("""WITH dm AS (SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0 THEN ' kuala lumpur' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' hong kong' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' sri lanka' ELSE '' END AS text
        |  FROM documents),
        |d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks FROM dm),
        |ti AS (SELECT toks, CAST(unnest(range(1, len(toks))) AS BIGINT) AS i FROM d),
        |bg AS (SELECT toks[CAST(i AS INTEGER)] AS w1, toks[CAST(i + 1 AS INTEGER)] AS w2 FROM ti),
        |uni AS (SELECT unnest(toks) AS w FROM d),
        |u AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY w),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM u),
        |b AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bg GROUP BY 1, 2),
        |sc AS (SELECT b.w1, b.w2, b.c_ab, ua.c AS c_a, ub.c AS c_b,
        |    CASE WHEN b.c_ab > 3 THEN ((b.c_ab - 3) * n.n * 1000) // (ua.c * ub.c)
        |      ELSE 0 END AS score_e3,
        |    (b.c_ab - 3) * n.n > 2 * ua.c * ub.c AS accepted
        |  FROM b JOIN u ua ON ua.w = b.w1 JOIN u ub ON ub.w = b.w2 CROSS JOIN n),
        |tk AS (SELECT * FROM sc ORDER BY score_e3 DESC, w1, w2 LIMIT 20)
        |SELECT w1, w2, c_ab, c_a, c_b, score_e3, accepted,
        |  CAST(row_number() OVER (ORDER BY score_e3 DESC, w1, w2) AS BIGINT) AS rank
        |FROM tk ORDER BY rank""".stripMargin)),

    // L148 — normalization-fold dedup audit: distinct docs per lang
    // before vs after the case/diacritic/punctuation/whitespace fold —
    // the cheap dedup headroom a normalization pass buys before any
    // MinHash. The fold is a shared translate alphabet both engines
    // apply verbatim.
    Q("t_normalize_dedup",
      (s, dir) => TextOps.normalizeFoldDedup(
          Tables.documents(s, dir), "lang", "text")
        .orderBy(col("lang")),
      Some(s"""WITH f AS (SELECT lang, md5(text) AS raw_fp,
        |    md5(trim(regexp_replace(translate(lower(text),
        |      '${TextOps.foldFrom.replace("'", "''")}',
        |      '${TextOps.foldTo}'), '\\s+', ' ', 'g'))) AS norm_fp
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT raw_fp) AS BIGINT) AS n_distinct_raw,
        |  CAST(COUNT(DISTINCT norm_fp) AS BIGINT) AS n_distinct_norm,
        |  CAST(COUNT(DISTINCT raw_fp) - COUNT(DISTINCT norm_fp) AS BIGINT) AS n_collapsed
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin)),

    // L253 — NFC-vs-fold dedup audit: composed/decomposed twins minted
    // per doc; distinct counts raw, after java.text.Normalizer NFC
    // (codegen'd graft_nfc expression), after the L148 fold, and after
    // NFC∘fold — n_fold_missed is the headroom the fold leaves without
    // a normalization pass. The oracle replays NFC through DuckDB's
    // independent nfc_normalize: real UAX #15 behavior cross-checked
    // between two engines.
    Q("t_nfc_dedup",
      (s, dir) => TextOps.nfcDedup(Tables.documents(s, dir), "lang", "text")
        .orderBy(col("lang")),
      Some(s"""WITH v AS (SELECT lang,
        |    unnest([text || ' caf' || chr(233) || ' touch' || chr(233),
        |      text || ' cafe' || chr(769) || ' touche' || chr(769)]) AS v
        |  FROM documents),
        |g AS (SELECT lang, v, nfc_normalize(v) AS nv FROM v),
        |h AS (SELECT lang, v, nv,
        |    trim(regexp_replace(translate(lower(v),
        |      '${TextOps.foldFrom.replace("'", "''")}',
        |      '${TextOps.foldTo}'), '\\s+', ' ', 'g')) AS fv,
        |    trim(regexp_replace(translate(lower(nv),
        |      '${TextOps.foldFrom.replace("'", "''")}',
        |      '${TextOps.foldTo}'), '\\s+', ' ', 'g')) AS nfv
        |  FROM g)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct_raw,
        |  CAST(COUNT(DISTINCT nv) AS BIGINT) AS n_distinct_nfc,
        |  CAST(COUNT(DISTINCT fv) AS BIGINT) AS n_distinct_fold,
        |  CAST(COUNT(DISTINCT nfv) AS BIGINT) AS n_distinct_nfc_fold,
        |  CAST(COUNT(DISTINCT v) - COUNT(DISTINCT nv) AS BIGINT)
        |    AS n_collapsed_nfc,
        |  CAST(COUNT(DISTINCT fv) - COUNT(DISTINCT nfv) AS BIGINT)
        |    AS n_fold_missed
        |FROM h GROUP BY lang ORDER BY lang""".stripMargin)),

    // L256 — HTML TEXT EXTRACTION (the step between the L254 WARC walk
    // and every text gate): each doc's text is escaped into a minted
    // page with script/style/comment decoys, entity fixtures (named,
    // decimal, hex), and block structure; HtmlText.toLines must drop
    // the decoys, rebuild block-level lines, and decode entities so
    // the original corpus text round-trips exactly. The oracle
    // re-derives the expected flat text from the mint formula + the
    // raw text column — a strip that leaks script bodies, eats a
    // block boundary, or mis-decodes an entity cannot hash-match.
    Q("t_html_extract",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("text")).as[(Long, String)]
        val extracted = base.map { case (id, text) =>
          import graft.pipeline.HtmlText
          val html = s"<!DOCTYPE html><html><head><title>Doc $id</title>" +
            "<style>body { margin: 0 }</style>" +
            "<script>var t = '<p>decoy</p>';</script></head>" +
            "<body><!-- <li>ghost</li> -->" +
            s"<h1>Heading &amp; no. $id</h1>" +
            s"<p>${HtmlText.escape(text)}</p>" +
            "<ul><li>item &lt;one&gt;</li><li>caf&#233; &#x2603;</li></ul>" +
            "</body></html>"
          val lines = HtmlText.toLines(html)
          val flat = lines.mkString(" ")
          (id, flat, lines.size.toLong, flat.length.toLong)
        }.toDF("doc_id", "flat_text", "n_lines", "n_chars")
        extracted.orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
        |    'Doc ' || doc_id || ' Heading & no. ' || doc_id || ' ' ||
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) ||
        |    ' item <one> caf' || chr(233) || ' ' || chr(9731) AS flat
        |  FROM documents)
        |SELECT doc_id, flat AS flat_text, CAST(5 AS BIGINT) AS n_lines,
        |  CAST(len(flat) AS BIGINT) AS n_chars
        |FROM t ORDER BY doc_id""".stripMargin)),

    // L261 — MAIN-CONTENT EXTRACTION by link density (boilerpipe /
    // Kohlschütter signal over the L256 block structure): nav bars,
    // footer link rails, and related-links blocks are short and
    // anchor-dominated; main content is long and anchor-light. Minted
    // page per doc: a 89%-density nav, the real corpus text (0%), a
    // 47%-density "see also" rail, and a 2-char stub — the gate at
    // 40% density / 10 chars must keep exactly the content block. The
    // oracle re-derives the kept text from the raw column, so a
    // density accounting that miscounts anchor text cannot hash-match.
    Q("t_html_main",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("text")).as[(Long, String)]
        val audited = base.map { case (id, text) =>
          import graft.pipeline.HtmlText
          val html = "<html><body>" +
            "<div><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
            "<a href=\"/contact\">Contact</a></div>" +
            s"<p>${HtmlText.escape(text)}</p>" +
            "<p>See also <a href=\"/x\">the archive page</a> for more</p>" +
            "<p>ok</p>" +
            "</body></html>"
          val bs = HtmlText.blocks(html)
          def linkHeavy(b: HtmlText.Block) =
            100L * b.anchorChars > 40L * b.nChars
          val kept = bs.filter(b => !linkHeavy(b) && b.nChars >= 10L)
          val main = kept.map(_.text).mkString(" ")
          (id, bs.size.toLong, kept.size.toLong,
            bs.count(linkHeavy).toLong,
            bs.count(b => !linkHeavy(b) && b.nChars < 10L).toLong,
            main, main.length.toLong)
        }.toDF("doc_id", "n_blocks", "n_kept", "n_link_heavy", "n_short",
          "main_text", "main_chars")
        audited.orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS c
        |  FROM documents)
        |SELECT doc_id, CAST(4 AS BIGINT) AS n_blocks,
        |  CAST(1 AS BIGINT) AS n_kept,
        |  CAST(2 AS BIGINT) AS n_link_heavy, CAST(1 AS BIGINT) AS n_short,
        |  c AS main_text, CAST(len(c) AS BIGINT) AS main_chars
        |FROM t ORDER BY doc_id""".stripMargin)),

    // L276 — LINK EXTRACTION + RFC 3986 RESOLUTION (the crawl's link
    // graph front door): minted pages carry every href form live in
    // HTML — absolute, path-absolute, path-relative, dot-segment
    // (`../`), query-only, fragment-only — plus a commented-out link
    // and a script-string decoy that must NOT mint edges. Each href
    // resolves against the page URL through the real §5.2 algorithm
    // (dot-segment removal, fragment drop) and anchor text decodes its
    // entities; the oracle re-derives every resolved URL from the mint
    // formulas, so a wrong merge rule or leaked decoy cannot
    // hash-match.
    Q("t_anchor_text",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 400)
          .select(col("doc_id")).as[Long]
        val edges = base.flatMap { id =>
          import graft.pipeline.HtmlText
          val pageUrl =
            s"http://site${id % 7}.example.com/dir${id % 3}/page"
          val n = 1 + (id % 4).toInt
          val hrefs = (0 until n).map { j =>
            (id + j) % 6 match {
              case 0 => s"https://ext$j.example.org/x$j"
              case 1 => s"/abs/p$j"
              case 2 => s"rel/p$j"
              case 3 => s"../up/p$j"
              case 4 => s"?q=$j"
              case _ => s"#frag$j"
            }
          }
          val body = hrefs.zipWithIndex.map { case (h, j) =>
            s"""<a href="${HtmlText.escape(h)}">A&amp;B $id $j</a>"""
          }.mkString(" ")
          val html = "<html><body>" +
            "<!-- <a href=\"/ghost\">ghost</a> -->" +
            "<script>var s = '<a href=\"/decoy\">d</a>';</script>" +
            body + "</body></html>"
          val links = HtmlText.links(html)
          require(links.size == n, s"expected $n links, got ${links.size}")
          links.zipWithIndex.map { case (l, j) =>
            val resolved = HtmlText.resolveHref(pageUrl, l.href)
            val pageHost = pageUrl.split('/')(2)
            val resolvedHost = resolved.split('/')(2)
            (id, j.toLong, resolved, l.anchor, resolvedHost != pageHost)
          }
        }.toDF("doc_id", "j", "resolved", "anchor", "external")
        edges.orderBy(col("doc_id"), col("j"))
      },
      Some("""WITH l AS (SELECT doc_id,
        |    unnest(range(0, 1 + doc_id % 4)) AS j,
        |    'http://site' || (doc_id % 7) || '.example.com' AS root
        |  FROM documents WHERE doc_id < 400)
        |SELECT doc_id, CAST(j AS BIGINT) AS j,
        |  CASE (doc_id + j) % 6
        |    WHEN 0 THEN 'https://ext' || j || '.example.org/x' || j
        |    WHEN 1 THEN root || '/abs/p' || j
        |    WHEN 2 THEN root || '/dir' || (doc_id % 3) || '/rel/p' || j
        |    WHEN 3 THEN root || '/up/p' || j
        |    WHEN 4 THEN root || '/dir' || (doc_id % 3) || '/page?q=' || j
        |    ELSE root || '/dir' || (doc_id % 3) || '/page' END AS resolved,
        |  'A&B ' || doc_id || ' ' || j AS anchor,
        |  (doc_id + j) % 6 = 0 AS external
        |FROM l ORDER BY doc_id, j""".stripMargin)),

    // L283 — REL=CANONICAL / HREFLANG EXTRACTION: the page's OWN
    // canonical-URL statement (the dedup signal next to the redirect
    // map — a syndicated copy names its original here) and the
    // rel=alternate hreflang language cluster. Minted heads carry a
    // stylesheet decoy, a canonical that is relative half the time
    // (must resolve through §5.2 against the page URL, keeping the
    // page's scheme) and cross-domain the other half, plus id%4
    // alternates. The oracle replays the decision table.
    Q("t_rel_canonical",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).filter(col("doc_id") < 400)
          .select(col("doc_id")).as[Long]
        val audited = base.map { id =>
          import graft.pipeline.HtmlText
          val pageUrl = s"http://site${id % 7}.example.com/dir/page$id"
          val canon =
            if (id % 3 != 0)
              Some(if (id % 2 == 0) s"/c$id"
              else s"https://canon${id % 5}.example.net/c$id")
            else None
          val alts = (0 until (id % 4).toInt).map(j =>
            s"""<link rel="alternate" hreflang="l$j" href="/l/$j">""")
          val html = "<html><head>" +
            "<link rel=\"stylesheet\" href=\"/style.css\">" +
            canon.map(h =>
              s"""<link rel="canonical" href="${HtmlText.escape(h)}">""")
              .getOrElse("") +
            alts.mkString + "</head><body><p>x</p></body></html>"
          val rels = HtmlText.linkRels(html)
          val canonical = rels.find(_.rel == "canonical")
            .map(l => HtmlText.resolveHref(pageUrl, l.href))
          val nHl = rels.count(l =>
            l.rel == "alternate" && l.hreflang.nonEmpty)
          val cross = canonical.exists(c =>
            c.split('/')(2) != pageUrl.split('/')(2))
          (id, canonical.nonEmpty, canonical.orNull, nHl.toLong, cross)
        }.toDF("doc_id", "has_canonical", "canonical_url", "n_hreflang",
          "cross_domain")
        audited.orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  doc_id % 3 <> 0 AS has_canonical,
        |  CASE WHEN doc_id % 3 = 0 THEN NULL
        |    WHEN doc_id % 2 = 0 THEN 'http://site' || (doc_id % 7)
        |      || '.example.com/c' || doc_id
        |    ELSE 'https://canon' || (doc_id % 5) || '.example.net/c'
        |      || doc_id END AS canonical_url,
        |  CAST(doc_id % 4 AS BIGINT) AS n_hreflang,
        |  doc_id % 3 <> 0 AND doc_id % 2 = 1 AS cross_domain
        |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin)),

    // L289 — TEXT-TO-HTML RATIO GATE: the oldest boilerplate smell —
    // a page whose extracted text is a tiny fraction of its markup is
    // chrome, not content. Minted page with fixed nav/style chrome
    // around the corpus text; ratio = extracted·10⁶ div raw-html
    // bytes, gated at 15%. The oracle rebuilds BOTH lengths
    // independently: the chrome from its own string literals, the
    // escape growth from &/</> counts via the replace trick.
    Q("t_html_ratio",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("text")).as[(Long, String)]
        val audited = base.map { case (id, text) =>
          import graft.pipeline.HtmlText
          val pre = "<html><head><title>D</title><style>x{}</style>" +
            "</head><body><nav><a href=\"/\">Home</a> <a href=\"/a\">" +
            "About</a> <a href=\"/b\">Contact</a></nav><p>"
          val suf = "</p></body></html>"
          val html = pre + HtmlText.escape(text) + suf
          val flat = HtmlText.toText(html)
          val ratioE6 = flat.length.toLong * 1000000L / html.length
          (id, flat.length.toLong, html.length.toLong, ratioE6,
            ratioE6 < 150000L)
        }.toDF("doc_id", "text_len", "html_len", "ratio_e6",
          "boilerplate_heavy")
        audited.orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS c,
        |    len(text) AS lt,
        |    len(text) - len(replace(text, '&', '')) AS n_amp,
        |    len(text) - len(replace(text, '<', '')) AS n_lt,
        |    len(text) - len(replace(text, '>', '')) AS n_gt
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    CAST(CASE WHEN len(c) = 0 THEN 20
        |      ELSE 21 + len(c) END AS BIGINT) AS text_len,
        |    CAST(len('<html><head><title>D</title><style>x{}</style>'
        |        || '</head><body><nav><a href="/">Home</a> <a href="/a">'
        |        || 'About</a> <a href="/b">Contact</a></nav><p>')
        |      + lt + 4 * n_amp + 3 * n_lt + 3 * n_gt
        |      + len('</p></body></html>') AS BIGINT) AS html_len
        |  FROM t)
        |SELECT doc_id, text_len, html_len,
        |  CAST((text_len * 1000000) // html_len AS BIGINT) AS ratio_e6,
        |  (text_len * 1000000) // html_len < 150000 AS boilerplate_heavy
        |FROM l ORDER BY doc_id""".stripMargin)),

    // L299 — HOMOGLYPH SPOOF DETECTION: mixed-script words whose
    // confusable-fold lands on a KNOWN word — the domain-spoof /
    // SEO-evasion signal the per-script gates (L197) cannot see
    // (a fully-Cyrillic page is legitimate; "аmаzоn" with Latin m/z/n
    // is an attack). Minted docs plant Cyrillic-vowel spoofs of a
    // brand vocab on every 3rd doc (brands without a/o vowels can't
    // be spoofed by this fold — the oracle replays that too, via its
    // own translate). Fully relational: the fold is one translate,
    // the known-word test an InSet.
    Q("t_homoglyph_spoof",
      (s, dir) => {
        val vocab = Seq("paypal", "amazon", "google", "secure",
          "account", "login", "verify")
        val vArr = array(vocab.map(lit): _*)
        // Cyrillic а е о р с х + Greek ο α → their Latin twins
        val foldFrom =
          "аеорсхοα"
        val foldTo = "aeopcxoa"
        def pick(off: Int) =
          element_at(vArr, ((col("doc_id") + off) % 7 + 1).cast("int"))
        val spoofed = translate(pick(2), "ao", "ао")
        val words = Tables.documents(s, dir).filter(col("doc_id") < 400)
          .select(col("doc_id"), explode(array(pick(0), pick(1),
            when(col("doc_id") % 3 === 0, spoofed).otherwise(pick(2))))
            .as("w"))
        words
          .withColumn("folded", translate(col("w"), foldFrom, foldTo))
          .withColumn("has_conf", col("w") =!= col("folded"))
          .withColumn("spoof",
            col("has_conf") && col("folded").isInCollection(vocab))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            sum(when(col("has_conf"), 1L).otherwise(0L)).as("n_confusable"),
            sum(when(col("spoof"), 1L).otherwise(0L)).as("n_spoofed"),
            max(when(col("spoof"), col("folded"))).as("spoof_target"))
          .orderBy(col("doc_id"))
      },
      Some(("""WITH v AS (SELECT doc_id,
        |    unnest([VOC[CAST(doc_id % 7 + 1 AS INTEGER)],
        |      VOC[CAST((doc_id + 1) % 7 + 1 AS INTEGER)],
        |      CASE WHEN doc_id % 3 = 0
        |        THEN translate(VOC[CAST((doc_id + 2) % 7 + 1 AS INTEGER)],
        |          'ao', chr(1072) || chr(1086))
        |        ELSE VOC[CAST((doc_id + 2) % 7 + 1 AS INTEGER)] END]) AS w
        |  FROM documents WHERE doc_id < 400),
        |f AS (SELECT doc_id, w,
        |    translate(w, chr(1072) || chr(1077) || chr(1086) ||
        |      chr(1088) || chr(1089) || chr(1093) || chr(959) ||
        |      chr(945), 'aeopcxoa') AS folded
        |  FROM v),
        |s AS (SELECT doc_id, w, folded, w <> folded AS has_conf,
        |    w <> folded AND list_contains(
        |      ['paypal','amazon','google','secure','account','login',
        |       'verify'], folded) AS spoof
        |  FROM f)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(CASE WHEN has_conf THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_confusable,
        |  CAST(SUM(CASE WHEN spoof THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_spoofed,
        |  MAX(CASE WHEN spoof THEN folded END) AS spoof_target
        |FROM s GROUP BY doc_id ORDER BY doc_id""")
        .replace("VOC", "(['paypal','amazon','google','secure'," +
          "'account','login','verify'])").stripMargin)),

    // L154 — char-distribution chi-square gibberish score: e6-scaled
    // integer letter shares vs the corpus profile, 26 exact integer
    // terms per doc (see TextOps.charChiSquare for the quantization and
    // the replace-trick zero-shuffle shape). The oracle is generated
    // from the same a..z alphabet below.
    Q("t_char_chisq",
      (s, dir) => TextOps.charChiSquare(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(charChiSqOracle)),

    // L157 — unigram-LM (SentencePiece) tokenizer induction, one
    // hard-EM round: Kudo's substring seed + Viterbi E-step over the
    // FIXED composition lattice (parts 1..4 of len<=8 words, the same
    // 222-pattern table both engines consume verbatim) scored by exact
    // integer products of q/10^4 pseudo-probabilities, + count M-step.
    // DECIMAL(38,0) on the Spark side, HUGEINT in the mirror — the
    // score Pi q_i * 10000^(8-k) <= 10^32 is exact in both.
    Q("t_unigram_lm",
      (s, dir) => TextOps.unigramLmRound(Tables.documents(s, dir), "text")
        .orderBy(col("piece")),
      Some(s"""WITH $toksSqlCte,
        |w AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(toks) AS w FROM d) t
        |  WHERE regexp_matches(w, '^[a-z]+$$') AND len(w) BETWEEN 2 AND 8
        |  GROUP BY w),
        |seed AS (SELECT piece, CAST(least(SUM(freq), 9999) AS HUGEINT) AS q
        |  FROM (SELECT freq,
        |      unnest(flatten(list_transform(range(1, len(w) + 1), s ->
        |        list_transform(range(s, least(CAST(len(w) AS BIGINT), s + 3) + 1),
        |          e -> substr(w, CAST(s AS INTEGER), CAST(e - s + 1 AS INTEGER)))))) AS piece
        |    FROM w) GROUP BY piece),
        |slots(n, pat_id, n_pieces, slot, start, len) AS (VALUES $unigramSlotsValues),
        |sc AS (SELECT c.w, c.freq, c.pat_id, c.n_pieces,
        |    COUNT(*) AS n_found,
        |    list_reduce(list_prepend(CAST(1 AS HUGEINT), list(sd.q)), (a, x) -> a * x)
        |      * CAST('1' || repeat('0', 4 * (8 - c.n_pieces)) AS HUGEINT) AS score,
        |    list(c.piece) AS pieces
        |  FROM (SELECT w.w, w.freq, s.pat_id, s.n_pieces, s.slot,
        |        substr(w.w, s.start, s.len) AS piece
        |      FROM w JOIN slots s ON s.n = len(w.w)) c
        |  JOIN seed sd ON sd.piece = c.piece
        |  GROUP BY c.w, c.freq, c.pat_id, c.n_pieces
        |  HAVING COUNT(*) = c.n_pieces),
        |best AS (SELECT w, freq, pieces,
        |    ROW_NUMBER() OVER (PARTITION BY w
        |      ORDER BY score DESC, n_pieces, pat_id) AS rn
        |  FROM sc)
        |SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        |  SELECT freq, unnest(pieces) AS piece FROM best WHERE rn = 1) x
        |GROUP BY piece ORDER BY piece""".stripMargin)),

    // L224 — MATTR lexical diversity (Covington & McFall 2010): mean
    // distinct-type count over every 20-token sliding window,
    // e6-floored per doc — the length-robust TTR plain type/token
    // ratios can't give (Heaps' law); pure per-row HOF arithmetic,
    // zero shuffle; sub-window docs flag −1 loudly.
    Q("t_mattr",
      (s, dir) => TextOps.mattr(docToks(s, dir), "doc_id", "toks", w = 20)
        .orderBy(col("doc_id")),
      Some(s"""WITH $toksSqlCte,
        |c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(toks) >= 20 THEN CAST(len(toks) - 19 AS BIGINT)
        |      ELSE 0 END AS n_windows, toks FROM d)
        |SELECT doc_id, n_tokens, n_windows,
        |  CAST(CASE WHEN n_windows > 0 THEN
        |    (list_sum(list_transform(range(1, CAST(n_tokens - 18 AS INTEGER)),
        |      i -> len(list_distinct(
        |        toks[CAST(i AS INTEGER):CAST(i + 19 AS INTEGER)]))))
        |      * 1000000) // (20 * n_windows)
        |    ELSE -1 END AS BIGINT) AS mattr_e6
        |FROM c ORDER BY doc_id""".stripMargin)),

    // L225 — TERM BURSTINESS (Church & Gale 1995): variance-to-mean
    // ratio of per-document counts over the docs containing each term
    // (occurrence-conditional), top-20 by df via a distributed
    // TakeOrderedAndProject — Poisson background ~1, content words
    // burst; the clumping signal df-based TF-IDF misses.
    Q("t_burstiness",
      (s, dir) => TextOps.burstiness(docToks(s, dir), "doc_id", "toks",
          minLen = 5, topK = 20)
        .orderBy(col("term")),
      Some(s"""WITH $toksSqlCte,
        |t AS (SELECT doc_id, unnest(toks) AS term FROM d),
        |td AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM t WHERE len(term) >= 5 GROUP BY 1, 2),
        |bt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(x) AS BIGINT) AS total,
        |    CAST(SUM(x * x) AS BIGINT) AS ssq
        |  FROM td GROUP BY 1),
        |top AS (SELECT * FROM bt WHERE df >= 2
        |  ORDER BY df DESC, term LIMIT 20)
        |SELECT term, df, total,
        |  CAST(((df * ssq - total * total) * 1000000)
        |    // ((df - 1) * total) AS BIGINT) AS vmr_e6
        |FROM top ORDER BY term""".stripMargin)),

    // L231 — OCR ARTIFACT GATE: scanned-text damage signatures counted
    // exactly — single-letter scatter, hyphen line-break stubs,
    // letter/digit confusion tokens — over documents with minted
    // damage on every 4th doc (3 singles + 1 hyphen stub + 1 mixed);
    // rates e6-floored, gate at 3%. Artifacts mint fake vocabulary and
    // poison shingles, so this runs before tokenizer training.
    Q("t_ocr_artifacts",
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .withColumn("text2",
            when(pmod(col("doc_id"), lit(4L)) === 0L,
              concat(col("text"), lit(" a b c inter- l0ve")))
              .otherwise(col("text")))
          .select(col("doc_id"), TextOps.tokens(col("text2")).as("toks"))
        TextOps.ocrArtifacts(base, "doc_id", "toks", thresholdE6 = 30000L)
          .orderBy(col("doc_id"))
      },
      Some("""WITH d2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text || ' a b c inter- l0ve'
        |      ELSE text END AS t FROM documents),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split(t, ' '), x -> x != '') AS toks
        |  FROM d2),
        |c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks,
        |      t -> regexp_matches(t, '^[A-Za-z]$'))) AS BIGINT) AS n_single,
        |    CAST(len(list_filter(toks,
        |      t -> regexp_matches(t, '^.*[A-Za-z]-$'))) AS BIGINT)
        |      AS n_hyphen_break,
        |    CAST(len(list_filter(toks, t -> regexp_matches(t,
        |      '^[A-Za-z]+[0-9]+[A-Za-z]+[A-Za-z0-9]*$'))) AS BIGINT)
        |      AS n_mixed
        |  FROM tk)
        |SELECT doc_id, n_tokens, n_single, n_hyphen_break, n_mixed,
        |  CAST(CASE WHEN n_tokens > 0
        |    THEN ((n_single + n_hyphen_break + n_mixed) * 1000000)
        |      // n_tokens
        |    ELSE -1 END AS BIGINT) AS artifact_rate_e6,
        |  CASE WHEN n_tokens > 0
        |    THEN ((n_single + n_hyphen_break + n_mixed) * 1000000)
        |      // n_tokens >= 30000
        |    ELSE FALSE END AS ocr_suspect
        |FROM c ORDER BY doc_id""".stripMargin)),

    // L238 — DEHYPHENATION TRANSFORM: repair of the L231 hyphen
    // line-break stubs — stub runs merge with the following token
    // ("re- con- struction" → "reconstruction") in one linear HOF fold
    // per row; the oracle derives the same result through an
    // INDEPENDENT mechanism (position explode + non-stub cumsum
    // segmentation + ordered string_agg), so fold and segmentation
    // bugs cannot cancel.
    Q("t_dehyphenate",
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .withColumn("text2",
            when(pmod(col("doc_id"), lit(4L)) === 0L,
              concat(col("text"),
                lit(" re- con- struction inter- galactic")))
              .otherwise(col("text")))
          .select(col("doc_id"), TextOps.tokens(col("text2")).as("toks"))
        TextOps.dehyphenate(base, "doc_id", "toks")
          .orderBy(col("doc_id"))
      },
      Some("""WITH d2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN text || ' re- con- struction inter- galactic'
        |      ELSE text END AS t FROM documents),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split(t, ' '), x -> x != '') AS toks
        |  FROM d2),
        |px0 AS (SELECT doc_id, toks,
        |    unnest(range(1, len(toks) + 1)) AS pos FROM tk),
        |px AS (SELECT doc_id, pos, toks[CAST(pos AS INTEGER)] AS t
        |  FROM px0),
        |st AS (SELECT doc_id, pos, t,
        |    CASE WHEN regexp_matches(t, '-$') AND len(t) > 1
        |      THEN 1 ELSE 0 END AS stub FROM px),
        |sg AS (SELECT *, SUM(1 - stub) OVER (
        |    PARTITION BY doc_id ORDER BY pos) AS seg0 FROM st),
        |mg AS (SELECT doc_id, seg0 + stub AS seg, pos,
        |    CASE WHEN stub = 1 THEN substr(t, 1, CAST(len(t) - 1 AS INTEGER))
        |      ELSE t END AS piece FROM sg),
        |sgp AS (SELECT doc_id, seg, MIN(pos) AS p0,
        |    string_agg(piece, '' ORDER BY pos) AS tok
        |  FROM mg GROUP BY 1, 2),
        |ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_after,
        |    string_agg(tok, ' ' ORDER BY p0) AS text_joined
        |  FROM sgp GROUP BY 1),
        |cnt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_before,
        |    CAST(len(list_filter(toks,
        |      t -> regexp_matches(t, '-$') AND len(t) > 1)) AS BIGINT)
        |      AS n_stubs FROM tk)
        |SELECT cnt.doc_id, cnt.n_before, cnt.n_stubs,
        |  CAST(COALESCE(ag.n_after, 0) AS BIGINT) AS n_after,
        |  COALESCE(ag.text_joined, '') AS text_joined
        |FROM cnt LEFT JOIN ag USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // L234 — CODE-VS-PROSE SIGNALS: semicolon/brace/assignment counts
    // and symbol density via length-difference regexp strips, with a
    // code snippet minted onto every 5th doc; the routing gate a mixed
    // crawl applies before the code and prose pipelines diverge.
    Q("t_code_detect",
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .withColumn("text2",
            when(pmod(col("doc_id"), lit(5L)) === 0L,
              concat(col("text"), lit(" {x=1; y[2]=f(x);}")))
              .otherwise(col("text")))
        TextOps.codeSignals(base, "doc_id", "text2")
          .orderBy(col("doc_id"))
      },
      Some("""WITH d2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' {x=1; y[2]=f(x);}'
        |      ELSE text END AS t FROM documents),
        |c AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_chars,
        |    CAST(len(t) - len(regexp_replace(t, ';', '', 'g')) AS BIGINT)
        |      AS n_semis,
        |    CAST(len(t) - len(regexp_replace(t, '[{}\[\]]', '', 'g'))
        |      AS BIGINT) AS n_braces,
        |    CAST(len(t) - len(regexp_replace(t, '=', '', 'g')) AS BIGINT)
        |      AS n_eq,
        |    CAST(CASE WHEN len(t) > 0 THEN
        |      ((len(t) - len(regexp_replace(t, '[^A-Za-z0-9 ]', '', 'g')))
        |        * 1000000) // len(t)
        |      ELSE -1 END AS BIGINT) AS symbol_e6
        |  FROM d2)
        |SELECT doc_id, n_chars, n_semis, n_braces, n_eq, symbol_e6,
        |  (CASE WHEN n_semis > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN n_braces > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN symbol_e6 >= 50000 THEN 1 ELSE 0 END) >= 2 AS is_code
        |FROM c ORDER BY doc_id""".stripMargin)),

    // L311 — YULE'S K per source: the length-invariant lexical-
    // diversity characteristic read off the frequency SPECTRUM only
    // (Σ m²·V_m) — template spam and boilerplate score high at any
    // corpus size; exact integer num/den, one division. The oracle
    // replays the token rollup and spectrum.
    Q("t_yule_k",
      (s, dir) => TextOps.yuleK(
        Tables.documents(s, dir), "source", "text"),
      Some("""WITH w AS (SELECT source AS g,
        |    unnest(string_split(text, ' ')) AS w FROM documents),
        |wn AS (SELECT g, w FROM w WHERE w <> ''),
        |fr AS (SELECT g, w, CAST(COUNT(*) AS BIGINT) AS m FROM wn
        |  GROUP BY g, w),
        |a AS (SELECT g, CAST(SUM(m) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(m * m) AS BIGINT) AS sum_m_sq FROM fr GROUP BY g)
        |SELECT g, n_tokens, n_types,
        |  CAST(10000 * (sum_m_sq - n_tokens) AS BIGINT) AS k_num,
        |  CAST(n_tokens * n_tokens AS BIGINT) AS k_den,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(10000 * (sum_m_sq - n_tokens) AS DOUBLE)
        |      / CAST(n_tokens * n_tokens AS DOUBLE)
        |    ELSE -1.0 END AS k
        |FROM a ORDER BY g""".stripMargin)),

    // L312 — WORDPIECE MERGE SCORING: the likelihood-ratio pair
    // criterion (cnt(ab)/(cnt(a)·cnt(b))) that separates WordPiece
    // from BPE's raw-frequency rule — one selection round over the
    // distinct-word table, exact e9-floored scores, top-20 with a
    // total tie-break. The oracle re-derives symbols positionally
    // with substr (an independent mechanism from Spark's split).
    Q("t_wordpiece_score",
      (s, dir) => TextOps.wordpieceScores(
        Tables.documents(s, dir), "text", k = 20),
      Some("""WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |wd AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM w0
        |  WHERE regexp_full_match(w, '[a-z]+') AND length(w) >= 2
        |  GROUP BY w),
        |sy AS (SELECT substr(w, CAST(i AS INTEGER), 1) AS s, freq
        |  FROM wd, LATERAL (SELECT unnest(range(1, length(w) + 1)) AS i)),
        |sc AS (SELECT s, CAST(SUM(freq) AS BIGINT) AS cnt_s FROM sy
        |  GROUP BY s),
        |pr AS (SELECT substr(w, CAST(i AS INTEGER), 1) AS a,
        |    substr(w, CAST(i AS INTEGER) + 1, 1) AS b, freq
        |  FROM wd, LATERAL (SELECT unnest(range(1, length(w))) AS i)),
        |pc AS (SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt_pair
        |  FROM pr GROUP BY a, b),
        |j AS (SELECT pc.a, pc.b, pc.cnt_pair,
        |    ca.cnt_s AS cnt_a, cb.cnt_s AS cnt_b,
        |    CAST((pc.cnt_pair * 1000000000) // (ca.cnt_s * cb.cnt_s)
        |      AS BIGINT) AS score_e9
        |  FROM pc JOIN sc ca ON ca.s = pc.a JOIN sc cb ON cb.s = pc.b)
        |SELECT a, b, cnt_pair, cnt_a, cnt_b, score_e9 FROM j
        |ORDER BY score_e9 DESC, a, b LIMIT 20""".stripMargin)),

    // L323 — SENTENCE SEGMENTATION: the unit boundary under the
    // chunker (L58) and TextTiling (L139) — a deliberately bounded
    // RE2 grammar ([^.!?]+[.!?]+, no abbreviation handling) shared
    // VERBATIM with the oracle; per-document sentence count, total
    // terminated span, and longest sentence.
    Q("t_sentences",
      (s, dir) => {
        val arr = TextOps.sentences(col("text"))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            size(arr).cast("long").as("n_sentences"),
            coalesce(aggregate(transform(arr, x => length(x)),
              lit(0L), (a, x) => a + x), lit(0L)).as("n_span_chars"),
            coalesce(array_max(transform(arr, x => length(x).cast("long"))),
              lit(0L)).as("max_len"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH e AS (SELECT doc_id,
        |    regexp_extract_all(text, '[^.!?]+[.!?]+') AS sents
        |  FROM documents)
        |SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
        |  CAST(COALESCE(list_sum(list_transform(sents,
        |    x -> strlen(x))), 0) AS BIGINT) AS n_span_chars,
        |  CAST(COALESCE(list_max(list_transform(sents,
        |    x -> strlen(x))), 0) AS BIGINT) AS max_len
        |FROM e ORDER BY doc_id""".stripMargin)),

    // L321 — ZIPF PROFILE: the log-log frequency-spectrum slope — a
    // natural corpus follows Zipf (slope near −(1+1/s) on the
    // spectrum), template spam and synthetic filler bend it; the
    // drift check a feed audit runs next to Heaps (L202). EXACT
    // throughout: both axes are floor-log2 integers (binary-string
    // length, never IEEE log) and the fit is the L267 exact OLS —
    // slope/r single divisions of exact BIGINTs.
    Q("t_zipf_profile",
      (s, dir) => {
        val freq = Tables.documents(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("m"))
        val spec = freq
          .select((length(conv(col("m"), 10, 2)) - 1).cast("long").as("b"))
          .groupBy(col("b")).agg(count(lit(1)).as("vb"))
        val pts = spec.select(col("b").as("x"),
          (length(conv(col("vb"), 10, 2)) - 1).cast("long").as("y"))
        EvalOps.linearFit(pts, "x", "y")
      },
      Some("""WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |fr AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS m FROM w0
        |  WHERE w <> '' GROUP BY w),
        |sp AS (SELECT CAST(len(printf('%b', m)) - 1 AS BIGINT) AS b,
        |    CAST(COUNT(*) AS BIGINT) AS vb FROM fr GROUP BY 1),
        |pts AS (SELECT b AS x,
        |    CAST(len(printf('%b', vb)) - 1 AS BIGINT) AS y FROM sp),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy FROM pts),
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
        |FROM d""".stripMargin))
  ) :+ rougeEntry :+ bleuEntry :+ langidMetricsEntry :+ chrfEntry :+ readabilityEntry :+ giniEntry :+ rakeEntry :+ charsetEntry :+ scriptMixEntry :+ langScriptEntry

  /** L194 — charset/script composition gate: exact per-class counts
    * via length-difference regexp strips; minted non-ASCII suffix
    * (é × doc_id%3) exercises the mojibake-spike path in both engines
    * (both count code points).
    */
  private def charsetEntry: Q =
    Q("t_charset_mix",
      (s, dir) => TextOps.charsetMix(
          Tables.documents(s, dir).select(col("doc_id"),
            concat(col("text"),
              expr("repeat('é', CAST(doc_id % 3 AS INT))")).as("text")),
          "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |    text || repeat('é', CAST(doc_id % 3 AS INTEGER)) AS text
        |  FROM documents),
        |c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |    CAST(length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS BIGINT) AS n_space,
        |    CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS BIGINT) AS n_punct,
        |    CAST(length(text) - length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) AS BIGINT) AS n_nonascii
        |  FROM t)
        |SELECT doc_id, n_chars, n_alpha, n_digit, n_space, n_punct, n_nonascii,
        |  CAST(CASE WHEN n_chars > 0 THEN (n_nonascii * 1000000) // n_chars
        |    ELSE -1 END AS BIGINT) AS nonascii_share_e6
        |FROM c ORDER BY doc_id""".stripMargin))

  /** L197 — Unicode-script composition gate: the L194 charset gate at
    * per-script resolution. The mint (shared verbatim, QuerySupport
    * .scriptMintCase) plants dominating Cyrillic/CJK runs, a
    * Latin-dominant-but-mixed tail, a double-encoded-UTF-8 mojibake
    * tail (Ã© density → the mojibake flag), and rotating exemplars of
    * the six remaining classes; the classifier (TextOps.scriptMix) and
    * its DuckDB mirror are GENERATED from the same scriptClasses range
    * table. Pure per-row projections — zero shuffle.
    */
  private def scriptMixEntry: Q =
    Q("t_script_mix",
      (s, dir) => TextOps.scriptMix(
          Tables.documents(s, dir)
            .select(col("doc_id"), substring(col("text"), 1, 160).as("b"))
            .select(col("doc_id"),
              expr(QuerySupport.scriptMintCase("div")).as("text")),
          "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(s"""WITH tb AS (SELECT doc_id, substr(text, 1, 160) AS b FROM documents),
        |t AS (SELECT doc_id, ${QuerySupport.scriptMintCase("//")} AS text FROM tb),
        |${QuerySupport.scriptMixSqlCtes}
        |SELECT doc_id, n_chars, n_arabic, n_cjk, n_cyrillic, n_devanagari,
        |  n_greek, n_hangul, n_hebrew, n_latin, n_thai, n_scripted, n_other,
        |  n_moji_lead, dominant_script, dominant_share_e6, mixed, mojibake
        |FROM sc3 ORDER BY doc_id""".stripMargin))

  /** L248 — LANGUAGE↔SCRIPT CONSISTENCY AUDIT: per (gold lang,
    * dominant script) cell, how many documents' METADATA claims a
    * language whose canonical script the CONTENT does not dominate —
    * zh-labeled docs dominated by Latin are mislabeled metadata;
    * Latin-lang docs dominated by a planted Cyrillic/CJK run (the
    * shared L197 mint) are content corruption. Joins the L197
    * classifier output back to the lang column and a literal
    * lang→script map — pure projections + one rollup.
    */
  private def langScriptEntry: Q =
    Q("t_lang_script_mismatch",
      (s, dir) => {
        val classified = TextOps.scriptMix(
          Tables.documents(s, dir)
            .select(col("doc_id"), substring(col("text"), 1, 160).as("b"))
            .select(col("doc_id"),
              expr(QuerySupport.scriptMintCase("div")).as("text")),
          "doc_id", "text")
        val expected = when(col("lang").isin("de", "en", "fr", "es"),
          "latin").when(col("lang") === "zh", "cjk").otherwise("any")
        classified
          .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
            "doc_id")
          .withColumn("expected_script", expected)
          .groupBy(col("lang"), col("expected_script"),
            col("dominant_script"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("mismatch",
            col("expected_script") =!= "any"
              && col("dominant_script") =!= col("expected_script"))
          .orderBy(col("lang"), col("dominant_script"))
      },
      Some(s"""WITH tb AS (SELECT doc_id, substr(text, 1, 160) AS b FROM documents),
        |t AS (SELECT doc_id, ${QuerySupport.scriptMintCase("//")} AS text FROM tb),
        |${QuerySupport.scriptMixSqlCtes},
        |j AS (SELECT d.lang,
        |    CASE WHEN d.lang IN ('de', 'en', 'fr', 'es') THEN 'latin'
        |      WHEN d.lang = 'zh' THEN 'cjk' ELSE 'any' END
        |      AS expected_script,
        |    sc3.dominant_script
        |  FROM sc3 JOIN documents d USING (doc_id))
        |SELECT lang, expected_script, dominant_script,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  expected_script <> 'any' AND dominant_script <> expected_script
        |    AS mismatch
        |FROM j GROUP BY 1, 2, 3 ORDER BY lang, dominant_script""".stripMargin))

  /** L193 — RAKE keyphrases, top-3 per doc: canonical-RAKE boundaries
    * (punctuation runs fold to '.' delimiter tokens — pattern shared
    * verbatim) + the ~440-word SMART/Fox-family stoplist (literal
    * shared verbatim; canonicality pinned by the OpsSpec Rose et al.
    * worked-example fixture), degree/freq word scores in e3 integers,
    * phrase = sum of member scores.
    */
  private def rakeEntry: Q = {
    val stopSql = TextOps.rakeStopwords.map(w => s"'$w'").mkString(", ")
    Q("t_rake",
      (s, dir) => TextOps.rakeKeywords(
          Tables.documents(s, dir), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank")),
      Some(s"""WITH d2 AS (SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text),
        |      '${TextOps.rakeBoundaryPattern}', ' . ', 'g'), ' '),
        |      x -> x != '') AS toks
        |  FROM documents),
        |tt AS (SELECT doc_id,
        |    unnest(list_transform(toks, (w, i) -> {'w': w, 'i': i})) AS s
        |  FROM d2),
        |tk AS (SELECT doc_id, s['w'] AS w, s['i'] AS pos,
        |    list_contains([$stopSql], s['w'])
        |      OR regexp_matches(s['w'], '^[.-]+$$') AS stop FROM tt),
        |mk AS (SELECT doc_id, w, pos, stop,
        |    SUM(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY doc_id ORDER BY pos) AS phrase_id
        |  FROM tk),
        |wl AS (SELECT doc_id, w, pos, phrase_id,
        |    COUNT(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
        |  FROM mk WHERE NOT stop),
        |wf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS freq,
        |    CAST(SUM(plen) AS BIGINT) AS deg FROM wl GROUP BY 1, 2),
        |ws AS (SELECT doc_id, w, (deg * 1000) // freq AS wscore FROM wf),
        |ph AS (SELECT wl.doc_id, wl.phrase_id,
        |    string_agg(wl.w, ' ' ORDER BY wl.pos) AS phrase,
        |    CAST(COUNT(*) AS BIGINT) AS n_words,
        |    CAST(SUM(ws.wscore) AS BIGINT) AS score_e3
        |  FROM wl JOIN ws ON ws.doc_id = wl.doc_id AND ws.w = wl.w
        |  GROUP BY 1, 2),
        |pd AS (SELECT DISTINCT doc_id, phrase, n_words, score_e3 FROM ph),
        |rk AS (SELECT doc_id, phrase, n_words, score_e3,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_e3 DESC, phrase) AS BIGINT) AS rank
        |  FROM pd)
        |SELECT doc_id, rank, phrase, n_words, score_e3
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin))
  }

  /** L185 — per-source token-frequency Gini: vocabulary concentration
    * via the exact integer Σ(2i−k−1)cᵢ split, rank ties by token.
    */
  private def giniEntry: Q =
    Q("t_token_gini",
      (s, dir) => Curation.tokenGini(
          Tables.documents(s, dir)
            .select(col("source"), TextOps.tokens(col("text")).as("toks")),
          "source", "toks")
        .orderBy(col("group")),
      Some(s"""WITH $toksSqlCte,
        |tk AS (SELECT dd.source AS grp, t.w, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM d JOIN documents dd USING (doc_id),
        |    LATERAL (SELECT unnest(d.toks) AS w) t
        |  GROUP BY 1, 2),
        |rk AS (SELECT grp, n, CAST(row_number() OVER (PARTITION BY grp
        |    ORDER BY n, w) AS BIGINT) AS i FROM tk),
        |ag AS (SELECT grp, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_vocab,
        |    CAST(SUM(i * n) AS BIGINT) AS si FROM rk GROUP BY 1)
        |SELECT grp AS "group", n_tokens, n_vocab,
        |  CAST(si * 2 - (n_vocab + 1) * n_tokens AS BIGINT) AS gini_num,
        |  CASE WHEN n_vocab * n_tokens > 0
        |    THEN CAST(si * 2 - (n_vocab + 1) * n_tokens AS DOUBLE)
        |      / CAST(n_vocab * n_tokens AS DOUBLE)
        |    ELSE -1.0 END AS gini
        |FROM ag ORDER BY "group"""".stripMargin))

  /** L183 — Flesch–Kincaid readability in exact e3 integers: words =
    * engine tokens, sentences = [.!?]+ runs, syllables = vowel-group
    * surrogate; both rate terms exact integer divisions, mirrored
    * term-for-term.
    */
  private def readabilityEntry: Q =
    Q("t_readability",
      (s, dir) => TextOps.readability(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH c AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sents,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS n_syll
        |  FROM documents),
        |r AS (SELECT doc_id, n_words, n_sents, n_syll,
        |    CASE WHEN n_sents > 0 THEN (n_words * 1000) // n_sents
        |      ELSE -1 END AS w_per_s_e3,
        |    CASE WHEN n_words > 0 THEN (n_syll * 1000) // n_words
        |      ELSE -1 END AS syl_per_w_e3
        |  FROM c)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |  CAST(w_per_s_e3 AS BIGINT) AS w_per_s_e3,
        |  CAST(syl_per_w_e3 AS BIGINT) AS syl_per_w_e3,
        |  CAST(CASE WHEN n_sents > 0 AND n_words > 0
        |    THEN (390 * w_per_s_e3 + 11800 * syl_per_w_e3) // 1000 - 15590
        |    ELSE -999999 END AS BIGINT) AS fk_e3
        |FROM r ORDER BY doc_id""".stripMargin))

  /** L159 — ROUGE-2 over minted (ref, hyp) transcript pairs (same
    * deterministic corruption as m_wer: delete every 7th word, suffix
    * every 5th), clipped bigram multiset intersection with exact
    * integer counts; the three ratios are single divisions, −1 when
    * the denominator is 0.
    */
  private[graft] def rougeEntry: Q =
    Q("t_rouge",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        val ref = slice(toks, 1, 40)
        val wi = transform(sequence(lit(1), size(ref)),
          i => struct(element_at(ref, i).as("w"), i.as("i")))
        val hyp = transform(
          filter(wi, st => pmod(st("i"), lit(7)) =!= 4),
          st => when(pmod(st("i"), lit(5)) === 3, concat(st("w"), lit("x")))
            .otherwise(st("w")))
        val pairs = Tables.documents(s, dir)
          .filter(size(toks) > 0)
          .select(col("doc_id"), ref.as("ref"), hyp.as("hyp"))
        EvalOps.rougeN(pairs, "doc_id", "ref", "hyp", 2)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksSqlCte,
        |base AS (SELECT doc_id, toks[1:40] AS ref FROM d WHERE len(toks) > 0),
        |hy AS (SELECT doc_id, ref,
        |    list_transform(list_filter(
        |      list_transform(range(1, CAST(len(ref) + 1 AS BIGINT)),
        |        i -> {'w': ref[CAST(i AS INTEGER)], 'i': i}),
        |      s -> s['i'] % 7 != 4),
        |      s -> CASE WHEN s['i'] % 5 = 3 THEN s['w'] || 'x' ELSE s['w'] END) AS hyp
        |  FROM base),
        |gm AS (SELECT doc_id,
        |    CASE WHEN len(ref) >= 2 THEN list_transform(
        |      range(0, CAST(len(ref) - 1 AS BIGINT)),
        |      i -> array_to_string(ref[CAST(i + 1 AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))
        |      ELSE [] END AS gr,
        |    CASE WHEN len(hyp) >= 2 THEN list_transform(
        |      range(0, CAST(len(hyp) - 1 AS BIGINT)),
        |      i -> array_to_string(hyp[CAST(i + 1 AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))
        |      ELSE [] END AS gh
        |  FROM hy),
        |mt AS (SELECT doc_id,
        |    CAST(len(gr) AS BIGINT) AS n_ref_grams,
        |    CAST(len(gh) AS BIGINT) AS n_hyp_grams,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(list_distinct(gr), g ->
        |        least(len(list_filter(gr, x -> x = g)),
        |          len(list_filter(gh, x -> x = g))))), (a, b) -> a + b)
        |      AS BIGINT) AS n_match
        |  FROM gm)
        |SELECT doc_id, n_ref_grams, n_hyp_grams, n_match,
        |  CASE WHEN n_ref_grams > 0
        |    THEN CAST(n_match AS DOUBLE) / CAST(n_ref_grams AS DOUBLE)
        |    ELSE -1.0 END AS rouge_r,
        |  CASE WHEN n_hyp_grams > 0
        |    THEN CAST(n_match AS DOUBLE) / CAST(n_hyp_grams AS DOUBLE)
        |    ELSE -1.0 END AS rouge_p,
        |  CASE WHEN n_ref_grams + n_hyp_grams > 0
        |    THEN CAST(n_match * 2 AS DOUBLE)
        |      / CAST(n_ref_grams + n_hyp_grams AS DOUBLE)
        |    ELSE -1.0 END AS rouge_f
        |FROM mt ORDER BY doc_id""".stripMargin))

  /** L160 — BLEU components over the same minted (ref, hyp) pairs as
    * t_rouge: per order 1..4 the clipped-precision integer numerator/
    * denominator, ref/hyp lengths, and the two single-division scores
    * (4th-power geometric-mean core + brevity ratio).
    */
  private[graft] def bleuEntry: Q = {
    def g(src: String, n: Int): String =
      s"""CASE WHEN len($src) >= $n THEN list_transform(
         |      range(0, CAST(len($src) - ${n - 1} AS BIGINT)),
         |      i -> array_to_string($src[CAST(i + 1 AS INTEGER):CAST(i + $n AS INTEGER)], ' '))
         |      ELSE [] END""".stripMargin
    val mts = (1 to 4).map { n =>
      s"""    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(list_distinct(${g("hyp", n)}), gg ->
         |        least(len(list_filter(${g("hyp", n)}, x -> x = gg)),
         |          len(list_filter(${g("ref", n)}, x -> x = gg))))),
         |      (a, b) -> a + b) AS BIGINT) AS m$n,
         |    CAST(len(${g("hyp", n)}) AS BIGINT) AS t$n""".stripMargin
    }.mkString(",\n")
    Q("t_bleu",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        val ref = slice(toks, 1, 40)
        val wi = transform(sequence(lit(1), size(ref)),
          i => struct(element_at(ref, i).as("w"), i.as("i")))
        val hyp = transform(
          filter(wi, st => pmod(st("i"), lit(7)) =!= 4),
          st => when(pmod(st("i"), lit(5)) === 3, concat(st("w"), lit("x")))
            .otherwise(st("w")))
        val pairs = Tables.documents(s, dir)
          .filter(size(toks) > 0)
          .select(col("doc_id"), ref.as("ref"), hyp.as("hyp"))
        EvalOps.bleuComponents(pairs, "doc_id", "ref", "hyp")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksSqlCte,
        |base AS (SELECT doc_id, toks[1:40] AS ref FROM d WHERE len(toks) > 0),
        |hy AS (SELECT doc_id, ref,
        |    list_transform(list_filter(
        |      list_transform(range(1, CAST(len(ref) + 1 AS BIGINT)),
        |        i -> {'w': ref[CAST(i AS INTEGER)], 'i': i}),
        |      s -> s['i'] % 7 != 4),
        |      s -> CASE WHEN s['i'] % 5 = 3 THEN s['w'] || 'x' ELSE s['w'] END) AS hyp
        |  FROM base),
        |co AS (SELECT doc_id,
        |    CAST(len(ref) AS BIGINT) AS ref_len,
        |    CAST(len(hyp) AS BIGINT) AS hyp_len,
        |$mts
        |  FROM hy)
        |SELECT doc_id, ref_len, hyp_len, m1, t1, m2, t2, m3, t3, m4, t4,
        |  CASE WHEN t1 > 0 AND t2 > 0 AND t3 > 0 AND t4 > 0
        |    THEN CAST(m1 * m2 * m3 * m4 AS DOUBLE)
        |      / CAST(t1 * t2 * t3 * t4 AS DOUBLE)
        |    ELSE -1.0 END AS prec_prod,
        |  CASE WHEN hyp_len > 0
        |    THEN CAST(ref_len AS DOUBLE) / CAST(hyp_len AS DOUBLE)
        |    ELSE -1.0 END AS len_ratio
        |FROM co ORDER BY doc_id""".stripMargin))
  }

  /** L164 — the engine's own word-marker language-ID audited against
    * the corpus ground-truth lang column: per-class precision/recall/
    * F1 from exact tp/fp/fn counts (the derived-metric layer over
    * t_langid's confusion table).
    */
  private[graft] def langidMetricsEntry: Q =
    Q("t_langid_metrics",
      (s, dir) => EvalOps.confusionMetrics(
          docToks(s, dir).withColumn("pred", TextOps.langId(col("toks"))),
          "lang", "pred")
        .orderBy(col("class")),
      Some(s"""WITH $toksSqlCte,
        |h AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in'], t))) AS BIGINT) AS h_en,
        |  CAST(len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en'], t))) AS BIGINT) AS h_es,
        |  CAST(len(list_filter(toks, t -> list_contains(['le','la','et','les','des','une'], t))) AS BIGINT) AS h_fr,
        |  CAST(len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','ein'], t))) AS BIGINT) AS h_de
        |  FROM d),
        |pr AS (SELECT lang AS a,
        |  CASE WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de THEN 'en'
        |       WHEN h_es >= h_fr AND h_es >= h_de THEN 'es'
        |       WHEN h_fr >= h_de THEN 'fr' ELSE 'de' END AS p FROM h),
        |cm AS (SELECT a, p, CAST(COUNT(*) AS BIGINT) AS n FROM pr GROUP BY a, p),
        |ba AS (SELECT a AS class, CAST(SUM(n) AS BIGINT) AS n_actual FROM cm GROUP BY a),
        |bp AS (SELECT p AS class, CAST(SUM(n) AS BIGINT) AS n_pred FROM cm GROUP BY p),
        |dg AS (SELECT a AS class, n AS tp FROM cm WHERE a = p),
        |cl AS (SELECT class, coalesce(tp, 0) AS tp,
        |    coalesce(n_pred, 0) - coalesce(tp, 0) AS fp,
        |    coalesce(n_actual, 0) - coalesce(tp, 0) AS fn
        |  FROM ba FULL OUTER JOIN bp USING (class) LEFT JOIN dg USING (class))
        |SELECT class, tp, fp, fn,
        |  CASE WHEN tp + fp > 0
        |    THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
        |    ELSE -1.0 END AS precision,
        |  CASE WHEN tp + fn > 0
        |    THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
        |    ELSE -1.0 END AS recall,
        |  CASE WHEN tp * 2 + fp + fn > 0
        |    THEN CAST(tp * 2 AS DOUBLE) / CAST(tp * 2 + fp + fn AS DOUBLE)
        |    ELSE -1.0 END AS f1
        |FROM cl ORDER BY class""".stripMargin))

  /** L165 — chrF over the same minted pairs as t_rouge/t_bleu: per
    * order 1..4 exact char-n-gram counts over the whitespace-stripped
    * strings, F2 as the single reduced division 5m/(4·t_ref + t_hyp).
    */
  private[graft] def chrfEntry: Q = {
    def g(src: String, n: Int): String =
      s"""CASE WHEN strlen($src) >= $n THEN list_transform(
         |      range(0, CAST(strlen($src) - ${n - 1} AS BIGINT)),
         |      i -> substr($src, CAST(i + 1 AS INTEGER), $n)) ELSE [] END""".stripMargin
    val perOrder = (1 to 4).map { n =>
      s"""  SELECT doc_id, $n AS n,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(list_distinct(${g("rs", n)}), gg ->
         |        least(len(list_filter(${g("rs", n)}, x -> x = gg)),
         |          len(list_filter(${g("hs", n)}, x -> x = gg))))),
         |      (a, b) -> a + b) AS BIGINT) AS m,
         |    CAST(len(${g("rs", n)}) AS BIGINT) AS t_ref,
         |    CAST(len(${g("hs", n)}) AS BIGINT) AS t_hyp
         |  FROM st""".stripMargin
    }.mkString("\n  UNION ALL\n")
    Q("t_chrf",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        val ref = slice(toks, 1, 40)
        val wi = transform(sequence(lit(1), size(ref)),
          i => struct(element_at(ref, i).as("w"), i.as("i")))
        val hyp = transform(
          filter(wi, st => pmod(st("i"), lit(7)) =!= 4),
          st => when(pmod(st("i"), lit(5)) === 3, concat(st("w"), lit("x")))
            .otherwise(st("w")))
        val pairs = Tables.documents(s, dir)
          .filter(size(toks) > 0)
          .select(col("doc_id"), ref.as("ref"), hyp.as("hyp"))
        EvalOps.chrF(pairs, "doc_id", "ref", "hyp", maxN = 4)
          .orderBy(col("doc_id"), col("n"))
      },
      Some(s"""WITH $toksSqlCte,
        |base AS (SELECT doc_id, toks[1:40] AS ref FROM d WHERE len(toks) > 0),
        |hy AS (SELECT doc_id, ref,
        |    list_transform(list_filter(
        |      list_transform(range(1, CAST(len(ref) + 1 AS BIGINT)),
        |        i -> {'w': ref[CAST(i AS INTEGER)], 'i': i}),
        |      s -> s['i'] % 7 != 4),
        |      s -> CASE WHEN s['i'] % 5 = 3 THEN s['w'] || 'x' ELSE s['w'] END) AS hyp
        |  FROM base),
        |st AS (SELECT doc_id, array_to_string(ref, '') AS rs,
        |    array_to_string(hyp, '') AS hs FROM hy),
        |co AS (
        |$perOrder
        |)
        |SELECT doc_id, n, m, t_ref, t_hyp,
        |  CASE WHEN t_ref * 4 + t_hyp > 0
        |    THEN CAST(m * 5 AS DOUBLE) / CAST(t_ref * 4 + t_hyp AS DOUBLE)
        |    ELSE -1.0 END AS chrf2
        |FROM co ORDER BY doc_id, n""".stripMargin))
  }

  /** The composition-lattice VALUES literal, generated from the SAME
    * table `TextOps.unigramLmRound` broadcasts, so engine and mirror
    * can never walk different segmentation lattices.
    */
  private def unigramSlotsValues: String =
    TextOps.unigramSlots.map { case (n, pid, np, sl, st, ln) =>
      s"($n,$pid,$np,$sl,$st,$ln)"
    }.mkString(",")

  /** The 26-letter chi-square oracle, generated from the same alphabet
    * as `TextOps.charChiSquare` so engine and mirror can never skew.
    */
  private def charChiSqOracle: String = {
    val cs = ('a' to 'z').map(_.toString)
    val oCols = cs.map(c =>
      s"CAST(strlen(text) - strlen(replace(text, '$c', '')) AS BIGINT) AS o_$c")
      .mkString(",\n    ")
    val nSum = cs.map(c => s"o_$c").mkString(" + ")
    val eCols = cs.map(c => s"CAST(SUM(o_$c) AS BIGINT) AS e_$c").mkString(", ")
    val terms = cs.map { c =>
      s"(((o_$c * 1000000 // n) - (e_$c * 1000000 // nn)) * " +
        s"((o_$c * 1000000 // n) - (e_$c * 1000000 // nn))) // " +
        s"((e_$c * 1000000 // nn) + 1)"
    }.mkString("\n    + ")
    s"""WITH o AS (SELECT doc_id,
       |    $oCols
       |  FROM documents),
       |pd AS (SELECT *, $nSum AS n FROM o),
       |pdn AS (SELECT * FROM pd WHERE n > 0),
       |corpus AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, $eCols FROM pdn)
       |SELECT doc_id, n AS n_chars,
       |    $terms AS chisq_q
       |FROM pdn CROSS JOIN corpus ORDER BY doc_id""".stripMargin
  }
}
