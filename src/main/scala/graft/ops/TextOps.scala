package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.GraftFunctions.nfc

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID, fingerprinting, shingling,
  * SimHash. All pure column expressions / higher-order functions — no
  * UDFs, no shuffles until an explicit aggregation, so everything stays
  * inside whole-stage codegen and scales linearly with input splits.
  */
object TextOps {

  /** Single-evaluation let binding: wrap `e` in a one-element array and
    * bind it to a lambda variable, so `body` can reference it any number
    * of times — including inside nested HOF lambdas — while it is
    * evaluated exactly ONCE per row. Without this, projection collapse
    * can inline a non-trivial expression into a `transform` lambda and
    * re-evaluate it per array element (observed: the winnowing window
    * minima re-running regexp_replace+md5 per window — cubic per row).
    */
  private def let(e: Column)(body: Column => Column): Column =
    element_at(transform(array(e), body), 1)

  /** Whitespace tokenization as an array column (empty tokens dropped). */
  def tokens(textCol: Column): Column =
    filter(split(textCol, " "), t => t =!= "")

  /** Token count via a single regexp scan (no array materialization).
    * MUST tokenize identically to [[tokens]] (single-space split): the
    * oracle SQL mirrors `string_split(text, ' ')`, so counting `\S+`
    * would diverge on tabs/newlines/form-feeds. Hence `[^ ]+`.
    */
  def tokenCount(textCol: Column): Column =
    size(regexp_extract_all(textCol, lit("[^ ]+"), lit(0))).cast("long")

  /** BPE-ish pretokenization: letter runs, digit runs, and single
    * punctuation marks as separate tokens — the GPT-2 pretokenizer shape
    * without lookahead, so the same RE2-compatible pattern runs verbatim
    * in external SQL engines. One regexp scan per row, no UDF.
    */
  val bpeTokenPattern: String = "\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]"

  def bpeTokens(textCol: Column): Column =
    regexp_extract_all(textCol, lit(bpeTokenPattern), lit(0))

  /** Winnowing fingerprints (the MOSS scheme: Schleimer, Wilkerson,
    * Aiken, SIGMOD'03): canonicalize to [a-z0-9], hash every `k`-gram,
    * keep the minimum hash of each sliding window of `w` consecutive
    * k-grams, distinct. Guarantees any shared substring of length
    * ≥ k + w − 1 yields a shared fingerprint, with ~2/(w+1) selection
    * density — the rolling-hash document-fingerprint primitive, built
    * from higher-order functions only (per-row work, no shuffle).
    */
  def winnowGramHashes(textCol: Column, k: Int): Column =
    let(lower(regexp_replace(textCol, "[^A-Za-z0-9]", ""))) { canon =>
      when(length(canon) >= k,
        transform(sequence(lit(0), length(canon) - k),
          i => md5(canon.substr(i + 1, lit(k)))))
        .otherwise(array())
    }

  def winnowFingerprints(gramsCol: Column, w: Int): Column =
    let(gramsCol) { grams =>
      when(size(grams) >= w,
        array_distinct(transform(sequence(lit(0), size(grams) - w),
          j => array_min(slice(grams, j + 1, lit(w))))))
        .otherwise(when(size(grams) > 0, array(array_min(grams)))
          .otherwise(array()))
    }

  /** Content fingerprint: md5 over lower-cased, whitespace-collapsed text
    * (optionally only its first `prefixChars` chars — prefix fingerprints
    * catch near-identical docs that share a long head). The reference's
    * analog is its deterministic per-file output keying
    * (`utils.py:190-195`).
    */
  def fingerprint(textCol: Column, prefixChars: Int = Int.MaxValue): Column = {
    val canon = regexp_replace(trim(lower(textCol)), "\\s+", " ")
    md5(if (prefixChars == Int.MaxValue) canon else substring(canon, 1, prefixChars))
  }

  /** Word n-gram shingles as an array column, built with higher-order
    * functions only (sequence + slice + concat_ws): per-row work, no
    * window shuffle — the scale path for shingling 100 TB of text.
    */
  def shingles(toksCol: Column, n: Int): Column =
    let(toksCol) { toks =>
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          k => concat_ws(" ", slice(toks, k + 1, lit(n)))))
        .otherwise(array())
    }

  /** (doc_id, shingle) distinct pairs for a (id, text) input. */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(shingles(tokens(col(textCol)), n)).as("shingle"))
      .distinct()

  /** Stopword-hit count for one language's marker set. */
  def stopwordHits(toksCol: Column, words: Seq[String]): Column =
    size(filter(toksCol, t => t.isin(words.map(lit): _*))).cast("long")

  /** Marker sets for the n-gram/stopword language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "en"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"))

  /** Language-ID by argmax of marker hits, ties resolved in `langMarkers`
    * order (first wins) — deterministic and SQL-mirrorable.
    */
  def langId(toksCol: Column): Column = {
    val hits = langMarkers.map { case (l, ws) => l -> stopwordHits(toksCol, ws) }
    hits.zipWithIndex.foldRight(lit(hits.last._1): Column) {
      case (((lang, h), i), els) =>
        val later = hits.drop(i + 1).map(_._2)
        if (later.isEmpty) els
        else when(later.foldLeft(lit(true): Column)((acc, m) => acc && h >= m), lang)
          .otherwise(els)
    }
  }

  /** Per-language characteristic character trigrams with INTEGER weights
    * (exact-domain scores; Cavnar–Trenkle-style profile, hand-sized to a
    * broadcastable literal). pidx is the deterministic tie-break rank.
    */
  val langTrigramProfiles: Seq[(String, Int, String, Long)] = Seq(
    ("en", 0, "the", 3L), ("en", 0, " th", 2L), ("en", 0, "he ", 2L),
    ("en", 0, "ing", 2L), ("en", 0, "and", 2L), ("en", 0, " an", 1L),
    ("en", 0, "ion", 1L), ("en", 0, "ed ", 1L), ("en", 0, " of", 2L),
    ("en", 0, "of ", 1L),
    ("es", 1, " de", 2L), ("es", 1, "de ", 2L), ("es", 1, " la", 2L),
    ("es", 1, "la ", 1L), ("es", 1, "que", 3L), ("es", 1, " qu", 1L),
    ("es", 1, "os ", 2L), ("es", 1, "ar ", 1L), ("es", 1, " el", 2L),
    ("es", 1, "ión", 2L),
    ("fr", 2, " le", 2L), ("fr", 2, "le ", 2L), ("fr", 2, "es ", 1L),
    ("fr", 2, "ent", 2L), ("fr", 2, " et", 2L), ("fr", 2, "et ", 1L),
    ("fr", 2, "eur", 2L), ("fr", 2, "une", 2L), ("fr", 2, " un", 1L),
    ("fr", 2, "ait", 2L),
    ("de", 3, "der", 3L), ("de", 3, "die", 3L), ("de", 3, "und", 3L),
    ("de", 3, " un", 1L), ("de", 3, "ch ", 2L), ("de", 3, "sch", 2L),
    ("de", 3, "ein", 2L), ("de", 3, "ich", 2L), ("de", 3, "en ", 1L),
    ("de", 3, " ge", 1L))

  /** Char-trigram language ID, zero-shuffle formulation: every language
    * score is a LINEAR functional of the profile-trigram occurrence
    * counts, and occurrence counting needs no explode — the replace
    * trick `(len(s) − len(replace(s, tri, ''))) / 3` is EXACT here
    * because no profile trigram can self-overlap (first char ≠ last char
    * for all 40, so occurrences are disjoint and the non-overlapping
    * `replace` removes every one). The whole classifier is therefore a
    * per-row codegen'd projection — 40 scans of the canonical text, no
    * trigram explode (~n_chars rows/doc), no join, no aggregation
    * shuffle; at 100 TB the former explode shipped ~300 rows per doc
    * into a two-level agg, this ships zero.
    *
    * Argmax with deterministic ties (higher score, then earlier profile
    * rank) via `array_max` over (score, −pidx, lang) structs — the
    * (score, −pidx) pair is unique per doc. Docs with zero profile hits
    * get no row (mirrors the former drop); callers coalesce to "und".
    */
  def langIdNgram(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val byLang = langTrigramProfiles.groupBy(t => (t._1, t._2)).toSeq
      .sortBy(_._1._2)
    // let-bind the canonical text: 40 counts reference it, and without
    // the binding each one re-runs the canonicalizing regexp per row
    val best = let(regexp_replace(trim(lower(col(textCol))), "\\s+", " ")) {
      canon =>
        val scores = byLang.map { case ((lang, pidx), rows) =>
          // Σ w·(len − len(replace)) is a multiple of 3 (each diff is),
          // so the single double division is an exact integer-valued op
          val num = rows.map { case (_, _, tri, w) =>
            (length(canon) - length(replace(canon, lit(tri), lit("")))).cast("long") *
              lit(w)
          }.reduce(_ + _)
          struct((num / lit(3L)).cast("long").as("score"),
            lit(-pidx).as("np"), lit(lang).as("plang"))
        }
        array_max(array(scores: _*))
    }
    df.select(col(idCol), best.as("__best"))
      .select(col(idCol), col("__best.plang").as("pred_lang"),
        col("__best.score").as("score"))
      .filter(col("score") > 0)
  }

  /** Per-document TF-IDF KEYWORDS, integer-exact variant: rank each
    * document's tokens by `tf/df` — the log-free monotone surrogate for
    * tf·idf (`N` is constant per corpus, so ranking by `tf·N/df` equals
    * ranking by `tf/df`; dropping the log is the price of exact
    * cross-engine arithmetic and is documented, not hidden) — and keep
    * the top `k`. The score is the single exact integer division
    * `tf·10⁹ div df`, so an external engine reproduces every rank
    * bit-for-bit; ties break by token text.
    *
    * Scale shape: one (doc, token) aggregation for tf, one token
    * aggregation for df (both map-side-combined), an equi join on the
    * token key, and a per-doc top-k window — no global sort, no
    * all-pairs anything. The classic "document keywords at corpus
    * scale" pipeline op.
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksTable = df.select(col(idCol),
      explode(tokens(col(textCol))).as("tok"))
    val tf = toksTable.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = toksTable.select(col(idCol), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("tok"))
    tf.join(dfreq, "tok")
      .withColumn("score", expr("tf * 1000000000L div df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("tok"), col("tf"), col("df"),
        col("score"))
  }

  /** 16-bit SimHash over a (id, shingle) table: bit b of each shingle's
    * md5 (odd hex digit b = 1) votes +1/-1; the sign of each bit's vote
    * sum forms the signature. Two near-identical docs differ in few
    * shingles, so few bit sums flip sign — Hamming-close signatures.
    */
  def simhash16(shingleDf: DataFrame, idCol: String): DataFrame = {
    val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    shingleDf
      .withColumn("h", md5(col("shingle")))
      .withColumn("b", explode(sequence(lit(0), lit(15))))
      .withColumn("vote",
        when(substring(col("h"), 1, 16).substr(col("b") + 1, lit(1))
          .isin(oddHex.map(lit): _*), 1L).otherwise(-1L))
      .groupBy(col(idCol), col("b"))
      .agg(sum(col("vote")).as("v"))
      .groupBy(col(idCol))
      .agg(sum(when(col("v") > 0, pow(lit(2d), col("b").cast("double")).cast("long"))
        .otherwise(0L)).as("simhash"))
  }

  /** CO-OCCURRENCE / PMI ASSOCIATION MINING (the word2vec-era corpus
    * statistic): unordered token pairs within a ±`window` offset,
    * scored by pointwise mutual information's monotone surrogate
    * `lift = (c_ab·N) / (c_a·c_b)` — PMI without the log, same
    * ranking, and exactness-friendly: numerator and denominator are
    * exact integer products, the lift is ONE division of two exact
    * longs (bit-stable cross-engine), and `log` never enters the
    * checked columns. Pair generation is array-local (shifted-slice
    * zips over each document's token array — no positional self-join,
    * no shuffle before the counting aggregations); the unigram table
    * and the one-row corpus total join back by key. `minPairCount`
    * floors the support so the lift ranking is not dominated by
    * one-off pairs. Output: top `k` pairs by (lift desc, a, b) —
    * (rank, a, b, c_ab, c_a, c_b, num, den, lift).
    */
  def cooccurrencePmi(df: DataFrame, textCol: String, window: Int,
                      minPairCount: Long, k: Int): DataFrame = {
    require(window >= 1 && window <= 8, s"window must be in 1..8, got $window")
    val arr = tokens(col(textCol))
    val pairCols = (1 to window).map { d =>
      zip_with(
        slice(arr, lit(1), greatest(size(arr) - lit(d), lit(0))),
        slice(arr, lit(1 + d), greatest(size(arr) - lit(d), lit(0))),
        (x, y) => struct(least(x, y).as("a"), greatest(x, y).as("b")))
    }
    val pairs = df.select(explode(flatten(array(pairCols: _*))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairCount)
    val uni = df.select(explode(arr).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = uni.agg(sum(col("c")).as("n_total"))
    val scored = pairs
      .join(uni.select(col("tok").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("tok").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(total))
      .withColumn("num", col("c_ab") * col("n_total"))
      .withColumn("den", col("c_a") * col("c_b"))
      .withColumn("lift", col("num").cast("double") / col("den").cast("double"))
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("lift").desc, col("a"), col("b"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("a"), col("b"), col("c_ab"), col("c_a"),
        col("c_b"), col("num"), col("den"), col("lift"))
      .orderBy(col("rank"))
  }

  /** DISTRIBUTED BPE TOKENIZER INDUCTION (Sennrich et al. 2016): learn
    * the first `rounds` merge rules over the corpus. The ONLY
    * corpus-scale pass is the word-frequency aggregation; every round
    * then runs on the compact distinct-word table — count adjacent
    * symbol pairs weighted by word frequency (overlapping occurrences
    * count, per the reference algorithm), pick the global argmax (ties
    * to the lexicographically smallest pair — deterministic
    * cross-engine), and apply the merge greedily left-to-right. That is
    * exactly how production tokenizer training scales: the merge RULE
    * is a scalar decision per round (collected to the driver and folded
    * into the next round's plan — the broadcast-decision pattern), the
    * data stays distributed.
    *
    * Symbol sequences live as `|a||b||c|` delimited STRINGS: each
    * symbol wrapped in `|…|`, adjacency = `||`. `replace(repr,
    * '|a||b|', '|ab|')` is then precisely the greedy left-to-right
    * non-overlapping BPE merge in both Spark and any SQL engine with
    * ANSI replace semantics — which is what makes a 4-round training
    * loop exactly oracle-checkable. Words are restricted to lowercase
    * alphabetic (keeps the separator safe and the char split
    * code-point-trivial); per-round lineage is truncated with an eager
    * localCheckpoint so round k's plan does not replay rounds 1..k−1.
    *
    * Output: one row per learned rule — (round, a, b, merged, cnt).
    */
  def bpeTrainMerges(df: DataFrame, textCol: String, rounds: Int): DataFrame =
    bpeTrainFull(df, textCol, rounds)._1

  /** Both BPE products of one training run — (merge-rule table, fully
    * merged distinct-word table) — so a caller registering induction
    * AND application (the session-memo pattern) trains once.
    */
  def bpeTrainFull(df: DataFrame, textCol: String,
                   rounds: Int): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val (m, words) = bpeTrain(df, textCol, rounds)
    (m.toDF("round", "a", "b", "merged", "cnt"), words)
  }

  /** Shared BPE training core: the learned rules plus the distinct-word
    * table with ALL `rounds` merges applied (training's own working
    * table — [[bpeEncode]] reads it back so tokenizing the corpus costs
    * zero extra corpus passes over training).
    */
  private def bpeTrain(df: DataFrame, textCol: String, rounds: Int):
      (Seq[(Int, String, String, String, Long)], DataFrame) = {
    require(rounds >= 1 && rounds <= 16, s"rounds must be in 1..16, got $rounds")
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("repr",
        concat(lit("|"), array_join(split(col("w"), ""), "||"), lit("|")))
      .select(col("w"), col("repr"), col("freq"))
      .localCheckpoint(true)
    var cur = words
    val out = scala.collection.mutable.Buffer[(Int, String, String, String, Long)]()
    for (r <- 1 to rounds) {
      val syms = cur.withColumn("syms",
        split(expr("substring(repr, 2, length(repr) - 2)"), "\\|\\|"))
      val best = syms.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] AS a, syms[i + 1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .head()
      val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      out += ((r, a, b, a + b, cnt))
      cur = cur.withColumn("repr",
          call_function("replace", col("repr"),
            lit(s"|$a||$b|"), lit(s"|$a$b|")))
        .localCheckpoint(true)
    }
    (out.toSeq, cur)
  }

  /** BPE TOKENIZER APPLICATION at corpus scale: train `rounds` merges
    * ([[bpeTrainMerges]] semantics, bit-identical rules) and tokenize
    * the whole corpus with them, returning the realized vocabulary
    * histogram — (token, cnt) with cnt = total occurrences weighted by
    * word frequency. This is the missing half of L52: induction learns
    * the rules, APPLICATION is what a training-data pipeline actually
    * runs per document shard before packing.
    *
    * Zero extra corpus passes: training's final working table IS the
    * encoded corpus (each distinct word with every merge applied, via
    * the same greedy left-to-right `replace` both engines share), so
    * encoding reduces to splitting the delimited reprs and one
    * frequency-weighted count — the corpus is touched exactly once, by
    * the word-frequency aggregation, regardless of `rounds`. At 100 TB
    * the distinct-word table is orders of magnitude smaller than the
    * corpus (Heaps' law), which is precisely why production BPE
    * training/encoding works off word frequencies, not raw text.
    *
    * Output: (token, cnt), ordered by cnt desc then token.
    */
  def bpeEncode(df: DataFrame, textCol: String, rounds: Int): DataFrame =
    bpeHistogram(bpeTrain(df, textCol, rounds)._2)

  /** The vocabulary histogram over a fully merged word table (the
    * second element of [[bpeTrainFull]]).
    */
  def bpeHistogram(words: DataFrame): DataFrame =
    words.withColumn("syms",
        split(expr("substring(repr, 2, length(repr) - 2)"), "\\|\\|"))
      .select(col("freq"), explode(col("syms")).as("token"))
      .groupBy(col("token"))
      .agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))

  /** L124 — TOKENIZER FERTILITY BY LANGUAGE: tokens-per-word and
    * chars-per-token of a trained BPE vocabulary, split by language —
    * the standard multilingual-tokenizer fairness audit (a language
    * whose words shatter into many tokens pays more context budget and
    * compute per sentence; fertility is the number curation watches
    * when choosing merges/vocab size). Consumes [[bpeTrainFull]]'s
    * merged word table: each distinct word already carries its encoded
    * symbol count, so the corpus pass is one tokenize + one equi join
    * against the DISTINCT-WORD table (Heaps-small — broadcastable at
    * most scales, bucketable beyond) + one per-language aggregation.
    * Ratios as scaled integer divisions — exact cross-engine.
    *
    * Output per language: (lang, n_words, n_chars, n_bpe_tokens,
    * fertility_milli = 1000·tokens/word, cpt_milli = 1000·chars/token).
    */
  def bpeFertility(df: DataFrame, textCol: String, langCol: String,
                   words: DataFrame): DataFrame = {
    val wn = words.withColumn("n_sym",
        size(split(expr("substring(repr, 2, length(repr) - 2)"), "\\|\\|"))
          .cast("long"))
      .select(col("w"), col("n_sym"))
    df.select(col(langCol).as("lang"), explode(tokens(col(textCol))).as("w"))
      .join(wn, "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n_sym")).as("n_bpe_tokens"))
      .withColumn("fertility_milli", expr("(1000L * n_bpe_tokens) div n_words"))
      .withColumn("cpt_milli", expr("(1000L * n_chars) div n_bpe_tokens"))
      .orderBy(col("lang"))
  }

  /** CONTEXT-WINDOW CHUNKING — split long documents into overlapping
    * fixed-size token windows (`maxTokens` per chunk, advancing by
    * `stride`, so consecutive chunks share `maxTokens - stride` tokens):
    * the complement of sequence PACKING (`Curation.packSequences` packs
    * SHORT docs up to the context length; this splits LONG ones down to
    * it) — together they are the standard sequence-prep for a fixed
    * context window, and the same shape serves RAG passage indexing.
    *
    * Everything is array-local per document — tokenize, a chunk-count
    * formula (`1 + ceil((n - maxTokens)/stride)` when n > maxTokens),
    * explode over chunk ids, 1-based `slice` — so the operator is one
    * narrow projection + explode with NO shuffle at any scale; the tail
    * chunk is never empty because `stride <= maxTokens`. Exact
    * string/integer domain throughout.
    *
    * Output: (idCol, chunk_id, n_tokens, chunk_text) per chunk,
    * empty-token documents dropped.
    */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
                   maxTokens: Int, stride: Int): DataFrame = {
    require(maxTokens >= 1, s"need maxTokens >= 1, got $maxTokens")
    require(stride >= 1 && stride <= maxTokens,
      s"need 1 <= stride <= maxTokens, got $stride")
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .filter(col("__n") > 0L)
      .withColumn("__nc", expr(
        s"""1L + (CASE WHEN __n > ${maxTokens}L
           THEN (__n - ${maxTokens}L + ${stride}L - 1L) div ${stride}L
           ELSE 0L END)"""))
      .select(col(idCol), col("__toks"),
        explode(expr("sequence(0L, __nc - 1L)")).as("chunk_id"))
      .withColumn("__ct", slice(col("__toks"),
        (col("chunk_id") * lit(stride.toLong) + lit(1L)).cast("int"),
        lit(maxTokens)))
      .select(col(idCol), col("chunk_id"),
        size(col("__ct")).cast("long").as("n_tokens"),
        array_join(col("__ct"), " ").as("chunk_text"))
      .orderBy(col(idCol), col("chunk_id"))
  }

  /** L139 — TEXTTILING SEGMENTATION (Hearst-style lexical-cohesion
    * chunking, the content-AWARE alternative to [[chunkWindows]]'s
    * fixed stride — the RAG chunker that cuts where the TOPIC shifts):
    * at every candidate boundary the distinct-token overlap of the `w`
    * tokens before vs after is an exact integer cohesion score; a
    * boundary with score ≤ `minOverlap` is a cut, and documents split
    * into the runs between cuts. Exact end-to-end (set-intersection
    * cardinalities, no similarity floats).
    *
    * Scale shape: scores are per-row array HOFs over each doc's own
    * token array (no shuffle); segment assembly is one per-doc window
    * pass over the tiny cut list. Docs shorter than 2w (no full
    * windows) emit a single whole-doc segment.
    *
    * Output: (id, seg_id, start_pos, end_pos, n_toks) — 0-based token
    * offsets, end exclusive.
    */
  /** L146 — COLLOCATION / PHRASE MINING (the word2phrase pass of
    * Mikolov et al. 2013, "Distributed Representations of Words and
    * Phrases"): find adjacent word pairs that co-occur far more often
    * than chance and are therefore one lexical unit ("new york",
    * "machine learning") — the standard pre-tokenization pass that
    * turns them into single tokens before embedding/BPE training.
    *
    * The word2phrase acceptance test `(c_ab − δ)·N / (c_a·c_b) > τ` is
    * evaluated by CROSS-MULTIPLICATION in exact BIGINTs — no division
    * decides membership, so the accepted set is bit-replayable; the
    * REPORTED score is then the single integer division
    * `(c_ab − δ)·N·1000 div (c_a·c_b)` (scaled floor — also exact).
    * δ discounts rare accidents; pairs with c_ab ≤ δ can never pass.
    *
    * Scale shape: one token explode for unigram counts, one shingle
    * explode for adjacent-bigram counts, then two equi joins of the
    * bigram table against the (small relative to corpus) unigram count
    * table — all keyed, map-side combined, nothing quadratic.
    *
    * Output: (w1, w2, c_ab, c_a, c_b, score_e3) for accepted pairs.
    */
  def collocations(docs: DataFrame, textCol: String,
                   delta: Long, tau: Long): DataFrame = {
    val uni = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = uni.agg(sum(col("c")).as("n"))
    val bi = docs
      .select(explode(shingles(tokens(col(textCol)), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c_ab"))
      .select(element_at(split(col("g"), " "), 1).as("w1"),
        element_at(split(col("g"), " "), 2).as("w2"), col("c_ab"))
    bi.join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        // c_ab <= delta clamps to 0 rather than dividing a negative:
        // Spark div truncates toward zero, DuckDB // floors — staying
        // non-negative is what keeps the two bit-equal (policy note in
        // GraphOps)
        when(col("c_ab") > delta,
          expr(s"((c_ab - ${delta}L) * n * 1000L) div (c_a * c_b)"))
          .otherwise(lit(0L)).as("score_e3"),
        ((col("c_ab") - delta) * col("n") > lit(tau) * col("c_a") * col("c_b"))
          .as("accepted"))
  }

  /** The character fold of [[normalizeFoldDedup]] as a reusable column:
    * lowercase, strip the common Latin-1 diacritics by table, squeeze
    * punctuation to spaces, collapse whitespace runs, trim. The two
    * translate alphabets are plain string literals so an external SQL
    * engine mirrors the fold verbatim (`translate` has identical
    * semantics in Spark and DuckDB for 1:1 char maps).
    */
  val foldFrom = "áàâäãåçéèêëíìîïñóòôöõúùûüýÿ.,;:!?'\"()[]{}"
  val foldTo = "aaaaaaceeeeiiiinooooouuuuyy" + " " * 14
  def normalizeFold(textCol: Column): Column =
    trim(regexp_replace(translate(lower(textCol), foldFrom, foldTo),
      "\\s+", " "))

  /** L148 — NORMALIZATION-FOLD DEDUP AUDIT: how much near-duplication
    * hides behind TRIVIAL surface variation (case, diacritics,
    * punctuation, whitespace)? Exact dedup (L1) hashes raw bytes and
    * misses "Hello, World!" ≡ "hello world"; this op counts, per
    * language, the distinct docs BEFORE and AFTER [[normalizeFold]] —
    * the collapsed delta is the cheap-win dedup headroom a pipeline
    * gets from a normalization pass alone, measured before paying for
    * MinHash. (CCNet and friends run exactly this fold before their
    * paragraph-hash dedup.)
    *
    * Scale shape: one projection + two distinct-count aggregations on
    * md5 keys — no joins, no windows; the fold is pure codegen.
    */
  def normalizeFoldDedup(docs: DataFrame, langCol: String,
                         textCol: String): DataFrame = {
    docs.select(col(langCol).as("lang"),
        md5(col(textCol)).as("raw_fp"),
        md5(normalizeFold(col(textCol))).as("norm_fp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_fp")).as("n_distinct_raw"),
        countDistinct(col("norm_fp")).as("n_distinct_norm"),
        (countDistinct(col("raw_fp")) - countDistinct(col("norm_fp")))
          .as("n_collapsed"))
  }

  /** L253 — NFC-vs-FOLD DEDUP AUDIT: how much duplication hides behind
    * Unicode CANONICAL EQUIVALENCE — composed `é` (U+00E9) vs
    * decomposed `e`+U+0301 are different byte strings for identical
    * rendered text, so both exact dedup (L1) and the L148 character
    * fold (whose translate alphabet maps only the COMPOSED Latin-1
    * forms) under-collapse them. The op mints a composed/decomposed
    * twin per document and counts distinct strings raw, after NFC
    * ([[graft.expr.NfcNormalize]] — `java.text.Normalizer`, UAX #15),
    * after the fold alone, and after NFC∘fold: `n_fold_missed` is the
    * dedup headroom the fold leaves on the table without a
    * normalization pass in front (CCNet/C4-style pipelines run NFC/NFD
    * before their paragraph hashes for exactly this reason). The
    * oracle replays NFC through DuckDB's independent `nfc_normalize` —
    * real Unicode-table behavior cross-checked between two engines.
    *
    * Scale shape: one 2× explode + one grouped distinct-count — no
    * joins, no windows; NFC is a codegen'd per-row expression.
    */
  def nfcDedup(docs: DataFrame, langCol: String, textCol: String): DataFrame = {
    // escaped, not raw: U+00E9 composed vs e+U+0301 decomposed stay
    // byte-distinct and visible in the source
    val composed = concat(col(textCol),
      lit(" caf\u00e9 touch\u00e9"))
    val decomposed = concat(col(textCol),
      lit(" cafe\u0301 touche\u0301"))
    docs.select(col(langCol).as("lang"),
        explode(array(composed, decomposed)).as("v"))
      .withColumn("nv", nfc(col("v")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("v")).as("n_distinct_raw"),
        countDistinct(col("nv")).as("n_distinct_nfc"),
        countDistinct(normalizeFold(col("v"))).as("n_distinct_fold"),
        countDistinct(normalizeFold(col("nv"))).as("n_distinct_nfc_fold"))
      .withColumn("n_collapsed_nfc",
        col("n_distinct_raw") - col("n_distinct_nfc"))
      .withColumn("n_fold_missed",
        col("n_distinct_fold") - col("n_distinct_nfc_fold"))
  }

  /** L154 — CHARACTER-DISTRIBUTION CHI-SQUARE gibberish score: how far
    * a document's letter histogram sits from the corpus profile — the
    * classic cheap gibberish/encoding-garbage detector (keyboard mash,
    * base64 blobs and mojibake all skew letter frequencies far beyond
    * any topical drift). Quality pipelines drop the high-χ² tail.
    *
    * Exact-integer construction (the [[graft.ops.Retrieval.dcgWeightsE6]]
    * quantization discipline): per-letter frequencies are e6-scaled
    * integer shares (`o_c·10⁶ div n` per doc, `E_c·10⁶ div N` for the
    * corpus profile), and the score is Σ_c (pd_c − pc_c)² div (pc_c+1)
    * — 26 exact integer terms, order-free, replayed verbatim by the
    * SQL mirror. The per-doc letter counts use the replace-trick
    * (len − len(replace)) like the trigram langid — pure codegen, NO
    * token explode, zero shuffle until the one-row corpus profile
    * aggregate (which then broadcasts back). Corpus-side scaling
    * assumes E_c·10⁶ < 2⁵³ (≈ 9·10⁹ corpus chars — ~9 GB of text, the
    * exact-double idiv bound); beyond that compute the one-row
    * profile's pc_c shares in DECIMAL(38), or pre-divide E_c by a
    * power of ten — a profile-side-only swap that changes no per-doc
    * arithmetic.
    *
    * Output: (id, n_chars, chisq_q) for docs with ≥ 1 letter.
    */
  def charChiSquare(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // ONE array column, not 26 aliased scalar columns: Catalyst's
    // constraint propagation does pairwise semanticEquals over alias
    // constraint combinations, and 26 aliases of large
    // length(replace(...)) trees inlined twice each into the final
    // projection blew optimization up combinatorially (measured: the
    // 26-column flavor pegged 16 cores for >10 min at 50 GB before
    // being killed). HOF lambdas are opaque to constraint inference.
    val alphabet = array(('a' to 'z').map(c => lit(c.toString)): _*)
    // exact integral division for 0 <= x < 2^53: x - pmod(x, y) is an
    // exact multiple of y and both are exactly representable doubles,
    // so the quotient is the exact integer (the decimal-free idiv)
    def idiv(x: Column, y: Column): Column =
      ((x - pmod(x, y)) / y).cast("long")
    // spread the text rows (26 full-text replaces per row — the heavy
    // pass, single scan task locally) and evaluate them ONCE: perDoc
    // feeds both the corpus-profile agg and the final projection; the
    // cached rows are (id, 26 longs), the text never persists.
    val perDoc = graft.Tables.spread(
        docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        transform(alphabet, c =>
          (length(col(textCol)) - length(replace(col(textCol), c, lit(""))))
            .cast("long")).as("os"))
      .withColumn("n", aggregate(col("os"), lit(0L), _ + _))
      .filter(col("n") > 0L)
      .cache()
    perDoc.count()
    val corpus = perDoc.agg(
      sum(col("n")).as("nn"),
      array((1 to 26).map(i => sum(element_at(col("os"), i))): _*).as("es"))
    perDoc.crossJoin(broadcast(corpus))
      .select(col(idCol), col("n").as("n_chars"),
        aggregate(
          zip_with(col("os"), col("es"), (o, e) => {
            val pd = idiv(o * lit(1000000L), col("n"))
            val pc = idiv(e * lit(1000000L), col("nn"))
            idiv((pd - pc) * (pd - pc), pc + lit(1L))
          }),
          lit(0L), _ + _).as("chisq_q"))
  }

  /** L155 — WORD ERROR RATE (Levenshtein 1966 at word granularity; the
    * canonical ASR evaluation metric): per (reference, hypothesis)
    * transcript pair, the minimum word-level edit distance and
    * WER = dist / |ref|. Every ASR/alignment stage change reports this
    * number; the engine computes it exactly and distributed.
    *
    * Exact construction without a word-level DP kernel: each pair's
    * words are encoded as SINGLE CODE POINTS via the pair's own sorted
    * distinct-word dictionary (deterministic in any engine), and the
    * built-in CHARACTER `levenshtein` — unit-cost, code-point-based in
    * both Spark and DuckDB — runs on the encodings; a word
    * substitution/insert/delete is then exactly one char edit. Code
    * points stay in 48..255 (Spark's chr is mod-256), so the PER-PAIR
    * dictionary must hold ≤ 200 distinct words — transcripts chunk at
    * utterance scale (the W5 margin-chunking contract), and the
    * `require`-style filter drops (and flags) oversized pairs rather
    * than encode them wrongly.
    *
    * Scale shape: everything is per-row HOFs + one codegen'd
    * levenshtein — zero shuffle; the DP is O(|ref|·|hyp|) per pair,
    * bounded by the utterance chunking upstream.
    *
    * Output: (id, n_ref, n_hyp, dist, wer) for pairs with a
    * dictionary that fits; `encodable` = false rows pass through with
    * dist −1 (the loud-skip posture, never silent truncation).
    */
  def wordErrorRate(pairs: DataFrame, idCol: String,
                    refCol: String, hypCol: String): DataFrame =
    wordErrorRate(pairs, Seq(idCol), refCol, hypCol)

  /** Multi-key flavor (e.g. (file, permId) for [[EvalOps.cpWer]]'s
    * per-mapping pair scoring) — identical semantics, key columns
    * passed through.
    */
  def wordErrorRate(pairs: DataFrame, idCols: Seq[String],
                    refCol: String, hypCol: String): DataFrame = {
    val dict = array_sort(array_distinct(
      concat(col(refCol), col(hypCol))))
    def enc(c: Column): Column = concat_ws("",
      transform(c, w =>
        call_function("char", array_position(col("__dict"), w) + lit(47L))))
    pairs
      .withColumn("__dict", dict)
      // A null ref/hyp array makes size(__dict) = -1, which would slip
      // past the <= 200 gate and let concat_ws encode the null side as
      // "" — require both sides non-null so malformed pairs take the
      // loud dist = -1 path instead.
      .withColumn("__ok", col(refCol).isNotNull && col(hypCol).isNotNull &&
        size(col("__dict")) <= 200)
      .select(idCols.map(col) ++ Seq(
        size(col(refCol)).cast("long").as("n_ref"),
        size(col(hypCol)).cast("long").as("n_hyp"),
        when(col("__ok"),
          levenshtein(enc(col(refCol)), enc(col(hypCol))).cast("long"))
          .otherwise(lit(-1L)).as("dist")): _*)
      .withColumn("wer",
        when(col("dist") >= 0L && col("n_ref") > 0L,
          col("dist").cast("double") / col("n_ref").cast("double"))
          .otherwise(lit(-1d)))
  }

  /** All compositions of word length n (2..8) into piece lengths 1..4,
    * flattened to slots (n, patId, nPieces, slot, start 1-based, len).
    * patId enumerates compositions per n in lexicographic part order —
    * a FIXED combinatorial table (222 patterns / 943 slots) independent
    * of data, shared verbatim with the SQL oracle so both engines walk
    * the identical segmentation lattice.
    */
  private[graft] lazy val unigramSlots: Seq[(Int, Int, Int, Int, Int, Int)] = {
    def comps(n: Int): Seq[Seq[Int]] =
      if (n == 0) Seq(Seq.empty)
      else (1 to math.min(4, n)).flatMap(p => comps(n - p).map(p +: _))
    (2 to 8).flatMap { n =>
      comps(n).sortBy(_.mkString).zipWithIndex.flatMap { case (parts, pid) =>
        val starts = parts.scanLeft(1)(_ + _)
        parts.indices.map(i => (n, pid, parts.length, i, starts(i), parts(i)))
      }
    }
  }

  /** L157 — UNIGRAM-LM TOKENIZER INDUCTION (the SentencePiece unigram
    * model, Kudo 2018), one hard-EM round with every quantity exact:
    *
    *  - SEED: every substring of length 1..4 of the distinct-word
    *    table (lowercase words of 2..8 chars), scored by its
    *    freq-weighted occurrence count — Kudo's substring seed
    *    vocabulary under the engine's bounded-domain discipline.
    *  - E-STEP (Viterbi/hard): each word's best segmentation under
    *    piece pseudo-probabilities q/10⁴ with q = min(count, 9999).
    *    Instead of a float DP, the segmentation LATTICE is the fixed
    *    composition table [[unigramSlots]] (parts 1..4 of n ≤ 8, 222
    *    patterns), so scoring is a bounded equi-join fan-out and the
    *    score Π qᵢ · 10000^(8−k) is an EXACT integer ≤ 10³² —
    *    DECIMAL(38,0) here, HUGEINT in the oracle — monotone-equal to
    *    the probability product Π qᵢ/10⁴ (both sides scaled by 10³²).
    *    Ties break (fewest pieces, lowest patId): deterministic and
    *    engine-independent. Length-1 pieces always exist in the seed,
    *    so every word has ≥ 1 valid segmentation.
    *  - M-STEP: re-estimated piece counts = freq-weighted occurrences
    *    over the Viterbi segmentations — the expected counts of hard
    *    EM, the quantities the next round (or the prune step) would
    *    consume.
    *
    * Scale shape: one corpus pass for the word histogram (Heaps' law
    * makes everything after distinct-word-sized), a broadcast of the
    * 943-row slot table, equi joins only, bounded ≤ 864-row fan-out
    * per word — the same hub-safe posture as the triangle wedge join.
    *
    * Output: (piece, cnt) — re-estimated counts after the round.
    */
  def unigramLmRound(df: DataFrame, textCol: String): DataFrame = {
    val spark = df.sparkSession
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")).between(2, 8))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val seed = words.select(col("freq"), explode(expr(
        """flatten(transform(sequence(1, length(w)), s ->
          |  transform(sequence(s, least(length(w), s + 3)),
          |    e -> substring(w, s, e - s + 1))))""".stripMargin)).as("piece"))
      .groupBy(col("piece"))
      .agg(least(sum(col("freq")), lit(9999L)).cast("decimal(38,0)").as("q"))
    val slots = {
      import spark.implicits._
      unigramSlots.map { case (n, pid, np, slot, st, ln) =>
        (n, pid, np, slot, st, ln,
          java.math.BigDecimal.valueOf(10000L).pow(8 - np).toPlainString)
      }.toDF("n", "pat_id", "n_pieces", "slot", "start", "len", "pad_s")
        .withColumn("pad", col("pad_s").cast("decimal(38,0)")).drop("pad_s")
    }
    val cand = words.withColumn("n", length(col("w")))
      .join(broadcast(slots), Seq("n"))
      .withColumn("piece", expr("substring(w, start, len)"))
      .join(seed, Seq("piece"))
      .groupBy(col("w"), col("freq"), col("pat_id"), col("n_pieces"), col("pad"))
      .agg(count(lit(1)).as("n_found"),
        expr("aggregate(collect_list(q), cast(1 as decimal(38,0)), (a, x) -> a * x)")
          .as("prod"),
        collect_list(col("piece")).as("pieces"))
      .filter(col("n_found") === col("n_pieces"))
      .withColumn("score", col("prod") * col("pad"))
    val win = Window.partitionBy(col("w"))
      .orderBy(col("score").desc, col("n_pieces"), col("pat_id"))
    cand.withColumn("rn", row_number().over(win)).filter(col("rn") === 1)
      .select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
  }

  /** L156 — TRANSCRIPT UTTERANCE CHUNKER: split a long transcript
    * into consecutive ≤ `maxTokens`-token utterances — the upstream
    * producer of CONFORMING [[wordErrorRate]] pairs (the reference's
    * ASR emits per-VAD-segment text exactly so evaluation happens at
    * utterance scale, `whisper_asr.py:171-178`). With maxTokens ≤ 100
    * the per-pair WER dictionary is bounded by construction: ≤ 100
    * ref words + ≤ 100 corrupted variants < the 200-word encodability
    * cap, so NO chunked pair can take the dist = −1 flag path.
    *
    * Pure per-row HOFs (sequence + slice) — zero shuffle; one output
    * row per (doc, utterance window).
    *
    * Output: (id, utt_id 0-based, utt: array<string> of ≤ maxTokens).
    */
  def chunkUtterances(docs: DataFrame, idCol: String, textCol: String,
                      maxTokens: Int): DataFrame = {
    require(maxTokens >= 1 && maxTokens <= 100,
      s"maxTokens must be in 1..100 to keep WER pairs encodable, got $maxTokens")
    docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0L), ((size(col("__toks")) - 1) / maxTokens).cast("long")),
        i => slice(col("__toks"), (i * maxTokens + 1).cast("int"), lit(maxTokens)))))
      .select(col(idCol), col("pos").cast("long").as("utt_id"),
        col("col").as("utt"))
  }

  def textTileSegments(docs: DataFrame, idCol: String, textCol: String,
                       w: Int, minOverlap: Int): DataFrame = {
    // spread before the per-position window-intersect transform — the
    // O(n·w) per-doc scoring otherwise runs in the single scan task
    val base = graft.Tables.spread(
        docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .filter(col("__n") > 0L)
    val cuts = base.filter(col("__n") >= 2L * w)
      .select(col(idCol), explode(expr(
        s"""transform(sequence(${w}L, __n - ${w}L), i -> named_struct(
           'i', i,
           'score', size(array_intersect(
             array_distinct(slice(__toks, cast(i - ${w - 1} as int), $w)),
             slice(__toks, cast(i + 1 as int), $w)))))""")).as("b"))
      .filter(col("b.score") <= minOverlap)
      .select(col(idCol), col("b.i").as("i"))
    val bounds = cuts
      .unionByName(base.select(col(idCol), lit(0L).as("i")))
      .unionByName(base.select(col(idCol), col("__n").as("i")))
    val ord = Window.partitionBy(col(idCol)).orderBy(col("i"))
    val spans = bounds
      .withColumn("end", lead(col("i"), 1).over(ord))
      .filter(col("end").isNotNull && col("end") > col("i"))
    val ord2 = Window.partitionBy(col(idCol)).orderBy(col("i"))
    spans.withColumn("seg_id", row_number().over(ord2).cast("long") - 1L)
      .select(col(idCol), col("seg_id"), col("i").as("start_pos"),
        col("end").as("end_pos"), (col("end") - col("i")).as("n_toks"))
  }

  /** L194 — CHARSET/SCRIPT COMPOSITION per document: exact counts of
    * ASCII letters, digits, whitespace, ASCII punctuation/symbols, and
    * non-ASCII code points — the cheap encoding-damage and
    * script-mix gate a multilingual curation pass runs before langid
    * (mojibake shows as a non-ASCII spike inside an ASCII-word corpus;
    * binary-in-text as a symbol spike). Counts via length-difference
    * of class-targeted regexp strips — one pass per class, exact and
    * identical in any regexp engine; shares = e6-scaled single
    * integer divisions. Pure per-row projections, zero shuffle.
    *
    * Output: (id, n_chars, n_alpha, n_digit, n_space, n_punct,
    * n_nonascii, nonascii_share_e6).
    */
  def charsetMix(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def cnt(pattern: String): Column =
      (length(col(textCol))
        - length(regexp_replace(col(textCol), pattern, ""))).cast("long")
    docs.select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        cnt("[A-Za-z]").as("n_alpha"),
        cnt("[0-9]").as("n_digit"),
        cnt("[ \\t\\n\\r]").as("n_space"),
        cnt("[!-/:-@\\[-`{-~]").as("n_punct"),
        cnt("[^\\x00-\\x7F]").as("n_nonascii"))
      .withColumn("nonascii_share_e6",
        when(col("n_chars") > 0L,
          expr("(n_nonascii * 1000000L) div n_chars"))
          .otherwise(lit(-1L)))
  }

  /** L197 — UNICODE-SCRIPT COMPOSITION GATE (the L194 charset gate
    * extended to real scripts): exact per-script code-point counts via
    * the same length-difference regexp-strip discipline, over a FIXED
    * table of code-point-range classes shared VERBATIM with the oracle
    * (both Java regex and RE2 accept the `\x{XXXX}` range syntax, and
    * both engines' `length` counts code points). The per-script lens a
    * multilingual curation pass needs before langid (the L11/L91 stack
    * assumes clean scripts): script-mix inside one document is the
    * mojibake/boilerplate-stitching telltale an ASCII-vs-non-ASCII
    * split (L194) cannot see.
    *
    * Classes (alphabetical — the order IS the dominant-script
    * tie-break): arabic, cjk (kana + Han incl. ext-A), cyrillic (incl.
    * supplement), devanagari, greek (incl. extended), hangul (jamo +
    * syllables), hebrew, latin (ASCII letters + Latin-1 letters minus
    * ×/÷ + Extended-A/B), thai. Each class is a closed range set —
    * deliberately NOT a Unicode-property lookup (engine property
    * tables drift across versions; ranges are frozen here).
    *
    * Derived columns: n_scripted = Σ script counts; n_other = chars in
    * no class (digits, space, punctuation, unlisted scripts);
    * dominant_script = alphabetically-first argmax ('none' when
    * nothing scripted); dominant_share_e6 its exact e6 share of
    * n_scripted (−1 when none); mixed = non-dominant scripted chars ≥
    * 10% of scripted (integer cross-multiplication, no division);
    * mojibake = the UTF-8-read-as-Latin-1 telltale — lead bytes Â/Ã
    * (U+00C2/U+00C3) at ≥ 5% of all chars (real text has essentially
    * none; double-encoded UTF-8 has one per non-ASCII char).
    *
    * Scale shape: pure per-row projections (one regexp strip per
    * class), zero shuffle — runs at ingest width.
    *
    * Output: (id, n_chars, n_arabic, n_cjk, n_cyrillic, n_devanagari,
    * n_greek, n_hangul, n_hebrew, n_latin, n_thai, n_scripted,
    * n_other, n_moji_lead, dominant_script, dominant_share_e6, mixed,
    * mojibake).
    */
  val scriptClasses: Seq[(String, String)] = Seq(
    "arabic" -> "\\x{0600}-\\x{06FF}\\x{0750}-\\x{077F}",
    "cjk" -> "\\x{3040}-\\x{30FF}\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}",
    "cyrillic" -> "\\x{0400}-\\x{052F}",
    "devanagari" -> "\\x{0900}-\\x{097F}",
    "greek" -> "\\x{0370}-\\x{03FF}\\x{1F00}-\\x{1FFF}",
    "hangul" -> "\\x{1100}-\\x{11FF}\\x{AC00}-\\x{D7A3}",
    "hebrew" -> "\\x{0590}-\\x{05FF}",
    "latin" -> "A-Za-z\\x{00C0}-\\x{00D6}\\x{00D8}-\\x{00F6}\\x{00F8}-\\x{024F}",
    "thai" -> "\\x{0E00}-\\x{0E7F}")

  /** The mojibake lead-byte class: Â/Ã, what UTF-8 lead bytes C2/C3
    * decode to when the bytes are mis-read as Latin-1.
    */
  val mojiLeadClass: String = "\\x{00C2}\\x{00C3}"

  def scriptMix(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def cnt(cls: String): Column =
      (length(col(textCol))
        - length(regexp_replace(col(textCol), s"[$cls]", ""))).cast("long")
    val counted = docs.select(
      (col(idCol) +:
        length(col(textCol)).cast("long").as("n_chars") +:
        scriptClasses.map { case (n, cls) => cnt(cls).as(s"n_$n") }) :+
        cnt(mojiLeadClass).as("n_moji_lead"): _*)
    val scripted = scriptClasses.map(c => col(s"n_${c._1}")).reduce(_ + _)
    val mx = greatest(scriptClasses.map(c => col(s"n_${c._1}")): _*)
    val domCase = scriptClasses.init.foldRight(
        lit(scriptClasses.last._1): Column) { case ((n, _), acc) =>
      when(col(s"n_$n") === col("__mx"), lit(n)).otherwise(acc)
    }
    counted
      .withColumn("n_scripted", scripted)
      .withColumn("__mx", mx)
      .withColumn("n_other", col("n_chars") - col("n_scripted"))
      .withColumn("dominant_script",
        when(col("n_scripted") === 0L, lit("none")).otherwise(domCase))
      .withColumn("dominant_share_e6",
        when(col("n_scripted") > 0L,
          expr("(__mx * 1000000L) div n_scripted")).otherwise(lit(-1L)))
      .withColumn("mixed",
        col("n_scripted") > 0L
          && (col("n_scripted") - col("__mx")) * 10L >= col("n_scripted"))
      .withColumn("mojibake",
        col("n_chars") > 0L && col("n_moji_lead") * 20L >= col("n_chars"))
      .drop("__mx")
  }

  /** L193 — RAKE KEYWORD EXTRACTION (Rose et al. 2010): the classic
    * unsupervised keyphrase extractor — candidate phrases are maximal
    * runs of content tokens between stopword/boundary tokens; each
    * word scores degree/frequency where freq counts its content
    * occurrences in the doc and degree sums the LENGTH of every phrase
    * occurrence containing it (co-occurrence credit — multi-word
    * domain terms outrank frequent singletons); a phrase scores the
    * sum of its member-token word scores, and the doc reports its
    * top-k phrases. The keyword lens a curation/labeling pass reads
    * next to TF-IDF (L38): TF-IDF needs the corpus DF table, RAKE is
    * per-doc — the two disagree exactly on domain-specific phrases.
    *
    * Exactness: word score = deg·1000 div freq (e3 integer), phrase
    * score the exact sum, ranking ties broken by phrase text — every
    * number replayable in SQL. The stopword list is a FIXED literal
    * shared verbatim with the oracle.
    *
    * Phrase boundaries are CANONICAL RAKE: candidates break at
    * stopwords AND at punctuation (Rose et al. split at "phrase
    * delimiters" first, then stopwords) — the text is normalized by
    * folding every run of non-word characters (word chars =
    * [a-z0-9-]; contractions split at the apostrophe, their orphan
    * single-letter stems are stopwords) into a standalone '.' boundary
    * token, identically in both engines. Without this, "equations,
    * strict inequations" would mint one five-word pseudo-phrase.
    *
    * Stoplist provenance: the SMART/Fox general-English stoplist
    * family (Salton 1971; Fox 1989 — public data, not retrievable
    * verbatim in this sandbox), reproduced as an engine-canonical
    * ~440-word literal. The acceptance test for canonicality is the
    * RAKE paper's own worked example: OpsSpec pins the published
    * phrase ranking of the Rose et al. 2010 Diophantine abstract
    * (minimal generating sets 8.67 > linear diophantine equations 8.5
    * > minimal supporting set 7.67 > …), which fails if the list
    * gains any of the example's content words (considered, numbers,
    * corresponding, types, …) or loses any of its delimiters.
    *
    * Scale shape: one posexplode + two windows keyed by doc (cumsum
    * phrase ids, phrase lengths), two hash aggs, a (doc, word) equi
    * join, a per-doc bounded rank window. Per-doc work linear in
    * tokens; nothing corpus-global.
    *
    * Output: (id, rank, phrase, n_words, score_e3), rank 1..k.
    */
  val rakeStopwords: Seq[String] = Seq(
    "a", "able", "about", "above", "according", "accordingly", "across",
    "actually", "after", "afterwards", "again", "against", "all", "allow",
    "allows", "almost", "alone", "along", "already", "also", "although",
    "always", "am", "among", "amongst", "an", "and", "another", "any",
    "anybody", "anyhow", "anyone", "anything", "anyway", "anyways",
    "anywhere", "apart", "appear", "appropriate", "are", "around", "as",
    "aside", "ask", "asking", "at", "away", "awfully",
    "b", "back", "be", "became", "because", "become", "becomes",
    "becoming", "been", "before", "beforehand", "behind", "being", "below",
    "beside", "besides", "best", "better", "between", "beyond", "both",
    "brief", "but", "by",
    "c", "came", "can", "cannot", "cause", "causes", "certain", "certainly",
    "changes", "clearly", "co", "com", "come", "comes", "concerning",
    "consequently", "consider", "considering", "contain", "containing",
    "contains", "could", "course", "currently",
    "d", "definitely", "described", "despite", "did", "different", "do",
    "does", "doing", "done", "down", "downwards", "during",
    "e", "each", "edu", "eg", "eight", "either", "else", "elsewhere",
    "enough", "entirely", "especially", "et", "etc", "even", "ever",
    "every", "everybody", "everyone", "everything", "everywhere", "ex",
    "exactly", "example", "except",
    "f", "far", "few", "fifth", "first", "five", "followed", "following",
    "follows", "for", "former", "formerly", "forth", "four", "from",
    "further", "furthermore",
    "g", "get", "gets", "getting", "given", "gives", "go", "goes", "going",
    "gone", "got", "gotten",
    "h", "had", "happens", "hardly", "has", "have", "having", "he",
    "hello", "help", "hence", "her", "here", "hereafter", "hereby",
    "herein", "hereupon", "hers", "herself", "hi", "him", "himself", "his",
    "hither", "hopefully", "how", "howbeit", "however",
    "i", "ie", "if", "ignored", "immediate", "in", "inasmuch", "inc",
    "indeed", "indicate", "indicated", "indicates", "inner", "insofar",
    "instead", "into", "inward", "is", "it", "its", "itself",
    "j", "just",
    "k", "keep", "keeps", "kept", "know", "known", "knows",
    "l", "last", "lately", "later", "latter", "latterly", "least", "less",
    "lest", "let", "like", "liked", "likely", "little", "look", "looking",
    "looks", "ltd",
    "m", "mainly", "many", "may", "maybe", "me", "mean", "meanwhile",
    "merely", "might", "more", "moreover", "most", "mostly", "much",
    "must", "my", "myself",
    "n", "name", "namely", "nd", "near", "nearly", "necessary", "need",
    "needs", "neither", "never", "nevertheless", "new", "next", "nine",
    "no", "nobody", "non", "none", "noone", "nor", "normally", "not",
    "nothing", "novel", "now", "nowhere",
    "o", "obviously", "of", "off", "often", "oh", "ok", "okay", "old",
    "on", "once", "one", "ones", "only", "onto", "or", "other", "others",
    "otherwise", "ought", "our", "ours", "ourselves", "out", "outside",
    "over", "overall", "own",
    "p", "particular", "particularly", "per", "perhaps", "placed",
    "please", "plus", "possible", "presumably", "probably", "provides",
    "q", "que", "quite", "qv",
    "r", "rather", "rd", "re", "really", "reasonably", "regarding",
    "regardless", "regards", "relatively", "respectively", "right",
    "s", "said", "same", "saw", "say", "saying", "says", "second",
    "secondly", "see", "seeing", "seem", "seemed", "seeming", "seems",
    "seen", "self", "selves", "sensible", "sent", "serious", "seriously",
    "seven", "several", "shall", "she", "should", "since", "six", "so",
    "some", "somebody", "somehow", "someone", "something", "sometime",
    "sometimes", "somewhat", "somewhere", "soon", "sorry", "specified",
    "specify", "specifying", "still", "sub", "such", "sup", "sure",
    "t", "take", "taken", "tell", "tends", "th", "than", "thank",
    "thanks", "thanx", "that", "thats", "the", "their", "theirs", "them",
    "themselves", "then", "thence", "there", "thereafter", "thereby",
    "therefore", "therein", "theres", "thereupon", "these", "they",
    "think", "third", "this", "thorough", "thoroughly", "those", "though",
    "three", "through", "throughout", "thru", "thus", "to", "together",
    "too", "took", "toward", "towards", "tried", "tries", "truly", "try",
    "trying", "twice", "two",
    "u", "un", "under", "unfortunately", "unless", "unlikely", "until",
    "unto", "up", "upon", "us", "use", "used", "useful", "uses", "using",
    "usually",
    "v", "value", "various", "very", "via", "viz", "vs",
    "w", "want", "wants", "was", "way", "we", "welcome", "well", "went",
    "were", "what", "whatever", "when", "whence", "whenever", "where",
    "whereafter", "whereas", "whereby", "wherein", "whereupon", "wherever",
    "whether", "which", "while", "whither", "who", "whoever", "whole",
    "whom", "whose", "why", "will", "willing", "wish", "with", "within",
    "without", "wonder", "would",
    "x",
    "y", "yes", "yet", "you", "your", "yours", "yourself", "yourselves",
    "z", "zero")

  /** RAKE text normalization: every run of non-word characters (word
    * chars = [a-z0-9-]) folds to a standalone '.' boundary token —
    * punctuation becomes a phrase delimiter, shared verbatim with the
    * oracle mirror.
    */
  val rakeBoundaryPattern: String = "[^a-z0-9 -]+"

  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // InSet hash membership (425 literals) — not a per-token linear
    // array_contains scan (round-10 VERDICT perf nit).
    val t = docs
      .select(col(idCol), posexplode(tokens(
          regexp_replace(lower(col(textCol)), rakeBoundaryPattern, " . ")))
        .as(Seq("pos", "w")))
      .withColumn("__stop",
        col("w").isInCollection(rakeStopwords) || col("w").rlike("^[.-]+$"))
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val marked = t
      .withColumn("phrase_id",
        sum(when(col("__stop"), 1L).otherwise(0L)).over(wOrd))
      .filter(!col("__stop"))
    val wPhrase = Window.partitionBy(col(idCol), col("phrase_id"))
    // eager cache: the exploded + twice-windowed token table feeds BOTH
    // the word-stat aggregate and the phrase join-back of one action —
    // uncached, the tokenize + explode + two windows ran twice
    val withLen = marked.withColumn("plen", count(lit(1)).over(wPhrase))
      .cache()
    withLen.count()
    // RAKE word stats: freq = content occurrences, deg = sum of the
    // containing phrase's length per occurrence
    val wf = withLen.groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wscore_e3", expr("(deg * 1000L) div freq"))
    val phrases = withLen
      .join(wf.select(col(idCol), col("w"), col("wscore_e3")),
        Seq(idCol, "w"))
      .groupBy(col(idCol), col("phrase_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          s => s("w"))).as("phrase"),
        count(lit(1)).as("n_words"),
        sum(col("wscore_e3")).as("score_e3"))
    val rk = Window.partitionBy(col(idCol))
      .orderBy(col("score_e3").desc, col("phrase"))
    // identical phrase occurrences collapse (the RAKE convention:
    // candidates are phrase STRINGS) before ranking
    phrases
      .select(col(idCol), col("phrase"), col("n_words"), col("score_e3"))
      .distinct()
      .withColumn("rank", row_number().over(rk).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("phrase"), col("n_words"),
        col("score_e3"))
  }

  /** L183 — READABILITY (Flesch–Kincaid grade, Kincaid 1975) with
    * every count an exact deterministic integer: words = the engine's
    * single-space tokens, sentences = maximal runs of [.!?], syllables
    * = the classic vowel-group surrogate (maximal [aeiou]+ runs of the
    * lowercased text — the standard deterministic approximation; real
    * syllabification needs a dictionary). FK = 0.39·(W/S) +
    * 11.8·(Y/W) − 15.59 computed in e3-scaled integers: the two rate
    * terms are exact integer divisions (·1000), their weighted sum one
    * more div 1000 — bit-equal in any engine, no IEEE anywhere. The
    * corpus-quality lens a curation pass reads next to the Gopher
    * gates (L34): training mixes report their readability
    * distribution, and a drifting crawl shows up here first.
    *
    * Pure per-row regexp counting — zero shuffle. Degenerate docs
    * (no sentence punctuation or no words) flag fk_e3 = −999999, the
    * loud posture.
    *
    * Output: (id, n_words, n_sents, n_syll, w_per_s_e3, syl_per_w_e3,
    * fk_e3).
    */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        size(tokens(col(textCol))).cast("long").as("n_words"),
        expr(s"CAST(size(regexp_extract_all($textCol, '[.!?]+', 0)) AS BIGINT)")
          .as("n_sents"),
        expr(s"CAST(size(regexp_extract_all(lower($textCol), '[aeiou]+', 0)) AS BIGINT)")
          .as("n_syll"))
      .withColumn("w_per_s_e3",
        when(col("n_sents") > 0L, expr("(n_words * 1000L) div n_sents"))
          .otherwise(lit(-1L)))
      .withColumn("syl_per_w_e3",
        when(col("n_words") > 0L, expr("(n_syll * 1000L) div n_words"))
          .otherwise(lit(-1L)))
      .withColumn("fk_e3",
        when(col("n_sents") > 0L && col("n_words") > 0L,
          expr("(390L * w_per_s_e3 + 11800L * syl_per_w_e3) div 1000L - 15590L"))
          .otherwise(lit(-999999L)))

  /** L224 — MATTR lexical diversity (moving-average type-token ratio,
    * Covington & McFall 2010): plain TTR shrinks with document length
    * (Heaps' law — L202), so it cannot compare a tweet against a
    * book; MATTR fixes the window. Per document: mean distinct-type
    * count over every `w`-token sliding window, e6-floored —
    * mattr_e6 = (Σ_i distinct(window_i) · 10⁶) div (w · nWindows).
    * The length-robust companion to the L185 token Gini; low MATTR at
    * normal length = template/boilerplate churn the repetition gates
    * (L12) can miss.
    *
    * Scale shape: pure per-row HOF arithmetic (one `transform` +
    * `aggregate` over the token array — constant expression size, the
    * Hilbert L189 lesson), zero shuffle. O(n·w) per doc.
    *
    * Output: (id, n_tokens, n_windows, mattr_e6); docs shorter than
    * `w` tokens flag −1 (loud, not a biased small-window estimate).
    */
  def mattr(df: DataFrame, idCol: String, toksCol: String,
      w: Int): DataFrame = {
    require(w >= 2 && w <= 1000, s"need 2 <= w <= 1000, got $w")
    df.select(col(idCol), col(toksCol).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("n_windows",
        when(col("n_tokens") >= w, col("n_tokens") - (w - 1L))
          .otherwise(lit(0L)))
      .withColumn("mattr_e6",
        when(col("n_windows") > 0L,
          expr(s"""(aggregate(sequence(1, size(__toks) - ${w - 1}), 0L,
            (acc, i) -> acc + size(array_distinct(slice(__toks, i, $w))))
            * 1000000L) div (${w}L * (size(__toks) - ${w - 1}L))"""))
          .otherwise(lit(-1L)))
      .drop("__toks")
  }

  /** L225 — TERM BURSTINESS (Church & Gale 1995): the
    * variance-to-mean ratio of a term's per-document counts over the
    * documents that CONTAIN it (the occurrence-conditional convention,
    * documented) — Poisson background words sit near VMR 1, content
    * words burst (a term that appears appears in clumps). The
    * content-word signal TF-IDF (L38) reads through df alone misses;
    * burstiness separates "everywhere once" from "rarely but densely".
    *
    * Exactness: VMR = var/mean = (nΣx² − S²)/((n−1)·S) — exact
    * BIGINTs, e6-floored once. Terms ranked by df with the term
    * itself as tie-break; `topK` caps the output (the L38 posture).
    *
    * Scale shape: one (term, doc) map-side-combined count, one term
    * rollup, then a DISTRIBUTED top-k (orderBy+limit →
    * TakeOrderedAndProject — per-partition heaps, never a global
    * sort; the t_collocations posture) with the term as tie-break.
    *
    * Output: (term, df, total, vmr_e6) for the topK terms by df.
    */
  def burstiness(df: DataFrame, idCol: String, toksCol: String,
      minLen: Int, topK: Int): DataFrame = {
    val td = df.select(col(idCol).as("__doc"),
        explode(col(toksCol)).as("term"))
      .filter(length(col("term")) >= minLen)
      .groupBy(col("term"), col("__doc")).agg(count(lit(1)).as("x"))
    td.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("x")).as("total"),
        sum(col("x") * col("x")).as("ssq"))
      .filter(col("df") >= 2L)
      .orderBy(col("df").desc, col("term")).limit(topK)
      .select(col("term"), col("df"), col("total"),
        expr("((df * ssq - total * total) * 1000000L) div ((df - 1L) * total)")
          .as("vmr_e6"))
  }

  /** L231 — OCR ARTIFACT GATE: the damage signatures of scanned-text
    * ingestion, counted exactly per document — single-character
    * alphabetic tokens (letter scatter from broken glyph boxes),
    * hyphen-terminated tokens (unjoined line-break hyphenation), and
    * letter↔digit confusion tokens (l/1, O/0 substitution mints mixed
    * alphanumeric "words"). A corpus with a high artifact rate needs
    * re-OCR or dehyphenation BEFORE tokenizer training — these
    * artifacts mint vocabulary (L37/L52) and poison dedup shingles.
    * Pure per-row array filters, zero shuffle; rates e6-floored over
    * the token count.
    *
    * Output: (id, n_tokens, n_single, n_hyphen_break, n_mixed,
    * artifact_rate_e6, ocr_suspect at >= thresholdE6).
    */
  def ocrArtifacts(df: DataFrame, idCol: String, toksCol: String,
      thresholdE6: Long): DataFrame =
    df.select(col(idCol), col(toksCol).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("n_single", expr(
        """size(filter(__toks, t -> t rlike '^[A-Za-z]$'))""").cast("long"))
      .withColumn("n_hyphen_break", expr(
        """size(filter(__toks, t -> t rlike '^.*[A-Za-z]-$'))""").cast("long"))
      .withColumn("n_mixed", expr(
        """size(filter(__toks, t ->
          t rlike '^[A-Za-z]+[0-9]+[A-Za-z]+[A-Za-z0-9]*$'))""").cast("long"))
      .withColumn("artifact_rate_e6",
        when(col("n_tokens") > 0L, expr(
          "((n_single + n_hyphen_break + n_mixed) * 1000000L) div n_tokens"))
          .otherwise(lit(-1L)))
      .withColumn("ocr_suspect",
        col("artifact_rate_e6") >= thresholdE6)
      .drop("__toks")

  /** L238 — DEHYPHENATION TRANSFORM: repair the hyphen line-break
    * stubs the L231 gate counts — every maximal run of stub tokens
    * (trailing '-', length > 1) merges with the following non-stub
    * token into one word ("re- con- struction" → "reconstruction"),
    * the standard scanned-book/justified-text repair run before
    * tokenizer training. One linear HOF fold per row (struct
    * accumulator: emitted array + pending carry — the Hilbert L189
    * expression-size discipline), zero shuffle; a trailing unclosed
    * stub run is emitted as its merged stub (loud in the counts, not
    * silently dropped). The SQL oracle derives the SAME result through
    * an independent mechanism (position explode + non-stub cumsum
    * segmentation + ordered string_agg), so a fold bug and a
    * segmentation bug cannot cancel.
    *
    * Output: (id, n_before, n_after, n_stubs, text_joined).
    */
  def dehyphenate(df: DataFrame, idCol: String, toksCol: String): DataFrame =
    df.select(col(idCol), col(toksCol).as("__toks"))
      .withColumn("n_before", size(col("__toks")).cast("long"))
      .withColumn("n_stubs", expr(
        """size(filter(__toks, t -> t rlike '-$' AND length(t) > 1))""")
        .cast("long"))
      .withColumn("__out", expr(
        """aggregate(__toks,
             struct(CAST(array() AS array<string>) AS out, '' AS carry),
             (acc, t) -> IF(t rlike '-$' AND length(t) > 1,
               struct(acc.out AS out,
                 concat(acc.carry, substring(t, 1, length(t) - 1)) AS carry),
               struct(concat(acc.out, array(concat(acc.carry, t))) AS out,
                 '' AS carry)),
             acc -> IF(acc.carry = '', acc.out,
               concat(acc.out, array(acc.carry))))"""))
      .select(col(idCol), col("n_before"), col("n_stubs"),
        size(col("__out")).cast("long").as("n_after"),
        concat_ws(" ", col("__out")).as("text_joined"))

  /** L234 — CODE-VS-PROSE SIGNALS: the structural counts a code-corpus
    * gate (The Stack-style) reads before routing a document to the
    * code or prose pipeline — semicolons, braces/brackets, assignment
    * operators, and the overall symbol density (non-alphanumeric,
    * non-space characters per char). All exact integers via
    * length-difference regexp strips (the L194 charset discipline);
    * the classification is a threshold projection the caller owns.
    *
    * Output: (id, n_chars, n_semis, n_braces, n_eq, symbol_e6,
    * is_code at the documented 2-of-3 rule).
    */
  def codeSignals(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), col(textCol).as("__t"))
      .withColumn("n_chars", length(col("__t")).cast("long"))
      .withColumn("n_semis",
        (length(col("__t"))
          - length(regexp_replace(col("__t"), ";", ""))).cast("long"))
      .withColumn("n_braces",
        (length(col("__t"))
          - length(regexp_replace(col("__t"), "[{}\\[\\]]", ""))).cast("long"))
      .withColumn("n_eq",
        (length(col("__t"))
          - length(regexp_replace(col("__t"), "=", ""))).cast("long"))
      .withColumn("symbol_e6",
        when(col("n_chars") > 0L,
          expr("""((n_chars - length(regexp_replace(__t,
            '[^A-Za-z0-9 ]', ''))) * 1000000L) div n_chars"""))
          .otherwise(lit(-1L)))
      .withColumn("is_code",
        (when(col("n_semis") > 0L, 1).otherwise(0)
          + when(col("n_braces") > 0L, 1).otherwise(0)
          + when(col("symbol_e6") >= 50000L, 1).otherwise(0)) >= 2)
      .drop("__t")

  /** L323 — SENTENCE SEGMENTATION (bounded grammar): maximal runs of
    * non-terminator characters closed by a terminator run
    * (`[^.!?]+[.!?]+`) — the unit boundary the context-window chunker
    * (L58) and TextTiling (L139) sit above. DELIBERATELY regex-only
    * and RE2-compatible so the IDENTICAL pattern runs verbatim in
    * external SQL engines: abbreviation/decimal-point handling is out
    * of the bounded grammar (documented — this is the shared-kernel
    * posture of [[bpeTokenPattern]], not a full Punkt segmenter).
    * Trailing text without a terminator is NOT a sentence (the
    * incomplete-line convention).
    */
  val sentencePattern: String = "[^.!?]+[.!?]+"

  def sentences(textCol: Column): Column =
    regexp_extract_all(textCol, lit(sentencePattern), lit(0))

  /** L311 — YULE'S K lexical-diversity characteristic: the
    * length-INVARIANT repetitiveness measure next to MATTR (L224,
    * windowed type ratio) and the token Gini (L185, concentration) —
    * K depends only on the frequency SPECTRUM (how many types occur m
    * times), so corpora of different sizes compare directly, which is
    * what a per-source feed audit needs. K = 10⁴·(Σ_m m²·V_m − N)/N²
    * with V_m = #types of frequency m and N = token count — all-exact
    * integers from two rollups; k is one division (k_num/k_den kept
    * as exact BIGINT columns). Higher K = more repetitive (boilerplate
    * and template spam score high; diverse prose low).
    *
    * Scale shape: token rollup → frequency-spectrum rollup (bounded by
    * max frequency) per group; map-side combinable throughout.
    *
    * Output: one row per group (g, n_tokens, n_types, k_num, k_den, k).
    */
  def yuleK(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val freq = df.select(col(groupCol).as("g"),
        explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("g"), col("w")).agg(count(lit(1)).as("m"))
    freq.groupBy(col("g"))
      .agg(sum(col("m")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("m") * col("m")).as("sum_m_sq"))
      .select(col("g"), col("n_tokens"), col("n_types"),
        (lit(10000L) * (col("sum_m_sq") - col("n_tokens"))).as("k_num"),
        (col("n_tokens") * col("n_tokens")).as("k_den"))
      .withColumn("k", when(col("k_den") > 0L,
        col("k_num").cast("double") / col("k_den").cast("double"))
        .otherwise(lit(-1d)))
  }

  /** L312 — WORDPIECE MERGE SCORING: the LIKELIHOOD-based pair
    * criterion that separates WordPiece from BPE (L9/L52 pick the raw
    * most-frequent pair; WordPiece picks the pair maximizing
    * cnt(ab)/(cnt(a)·cnt(b)) — the training-likelihood gain, which
    * prefers pairs whose parts rarely occur APART). One selection
    * round over the corpus's character-symbol word table: pair counts
    * and symbol counts are frequency-weighted exact integers;
    * score_e9 = (cnt_pair·10⁹) div (cnt_a·cnt_b) is the floored
    * fixed-point ratio both engines replay (the constant-N factor in
    * the true likelihood cancels in the argmax ordering). Top-k pairs
    * by (score_e9, a, b) — the deterministic merge ranking.
    *
    * Scale shape: distinct-word table (Heaps-law small) → adjacent-
    * pair explode + two rollups + one broadcast join; no corpus
    * re-pass.
    *
    * Output: k rows (a, b, cnt_pair, cnt_a, cnt_b, score_e9).
    */
  def wordpieceScores(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 100, s"k must be 1..100, got $k")
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", split(col("w"), ""))
    val symCnt = words
      .select(explode(col("syms")).as("s"), col("freq"))
      .groupBy(col("s")).agg(sum(col("freq")).as("cnt_s"))
    val pairCnt = words.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(0, size(syms) - 2), " +
          "i -> struct(syms[i] AS a, syms[i + 1] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt_pair"))
    pairCnt
      .join(broadcast(symCnt.withColumnRenamed("s", "a")
        .withColumnRenamed("cnt_s", "cnt_a")), Seq("a"))
      .join(broadcast(symCnt.withColumnRenamed("s", "b")
        .withColumnRenamed("cnt_s", "cnt_b")), Seq("b"))
      .select(col("a"), col("b"), col("cnt_pair"), col("cnt_a"),
        col("cnt_b"),
        expr("(cnt_pair * 1000000000L) div (cnt_a * cnt_b)")
          .as("score_e9"))
      .orderBy(col("score_e9").desc, col("a"), col("b"))
      .limit(k)
  }
}
