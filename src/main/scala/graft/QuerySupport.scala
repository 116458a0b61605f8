package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, SegmentOps, Similarity, TextOps}

/** Shared infrastructure of the query registry (split from SparkEntry):
  * the Q entry shape, the session-lifetime registry of staged
  * cross-family intermediates, the streaming runner, the loopback
  * fixture service, and the DuckDB CTE fragments shared by many
  * oracles. See SparkEntry for the driver contract and the determinism
  * policy.
  */
private[graft] object QuerySupport {

  private[graft] val HOUR_US = 3600L * 1000000L

  /** events as (user_id, event_id, tus, cents) point rows; time in exact
    * integer microseconds (= DuckDB `epoch_us(ts)`).
    */
  private[graft] def evPoints(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.select(
      col("user_id"), col("event_id"), col("event_type"),
      Tables.tsUs(ev).as("tus"),
      round(col("value") * 100d).cast("long").as("cents"))
  }

  private[graft] val evPointsSqlCte =
    """e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
      |  CAST(round(value*100) AS BIGINT) AS cents FROM events)""".stripMargin

  /** The derived event link graph shared by the L115/L117 centrality
    * oracles: browse-chain edges (each event → the user's next) plus
    * type-hub edges (each event → the earliest event of its type), with
    * node set and out-degrees. Mirrors the Spark-side derivation in
    * `g_pagerank`/`g_ppr` exactly.
    */
  private[graft] val eventGraphSqlCte =
    s"""$evPointsSqlCte,
       |ch AS (SELECT event_id AS src, lead(event_id) OVER (
       |    PARTITION BY user_id ORDER BY tus, event_id) AS dst FROM e),
       |hb AS (SELECT event_type, MIN(event_id) AS hub FROM e GROUP BY 1),
       |ed AS (SELECT src, dst FROM ch WHERE dst IS NOT NULL
       |  UNION ALL SELECT e.event_id AS src, hb.hub AS dst
       |    FROM e JOIN hb USING (event_type) WHERE e.event_id <> hb.hub),
       |nd AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM ed UNION ALL SELECT dst AS node FROM ed)),
       |od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg FROM ed GROUP BY 1)""".stripMargin

  /** The L119/L122 shot-detection oracle — the cut/cumsum/rollup chain
    * over the synthesized frame hashes; shared by the batch query and
    * the run-to-completion streaming twin.
    */
  private[graft] val shotOracleSql =
    """WITH f AS (SELECT doc_id, unnest(range(0, 24 + doc_id % 17)) AS frame
      |  FROM documents WHERE doc_id < 500),
      |h AS (SELECT doc_id, frame,
      |  (doc_id % 256) * 4294967296 + CASE ((frame // 8) % 4)
      |    WHEN 0 THEN 0 WHEN 1 THEN 4080 WHEN 2 THEN 65280
      |    ELSE 16711680 END + (frame % 2) AS fhash FROM f),
      |c AS (SELECT doc_id, frame, CASE WHEN lag(fhash) OVER w IS NULL THEN 1
      |    WHEN bit_count(xor(lag(fhash) OVER w, fhash)) > 3 THEN 1 ELSE 0 END AS cut
      |  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY frame)),
      |sid AS (SELECT doc_id, frame, CAST(SUM(cut) OVER (
      |    PARTITION BY doc_id ORDER BY frame) AS BIGINT) AS shot_id FROM c)
      |SELECT doc_id, shot_id, MIN(frame) AS key_frame,
      |  CAST(COUNT(*) AS BIGINT) AS n_frames
      |FROM sid GROUP BY doc_id, shot_id
      |ORDER BY doc_id, shot_id""".stripMargin

  /** The L181/L186 calibration-bin oracle — the reliability table over
    * the minted e6 scores; shared by batch m_ece and its streaming
    * twin (a streaming groupBy-bin aggregation must converge to the
    * identical table).
    */
  private[graft] val eceOracleSql =
    """WITH sc AS (SELECT (doc_id * 7919) % 1000001 AS s,
      |    CASE WHEN (doc_id * 104729) % 1000001 < (doc_id * 7919) % 1000001
      |      THEN 1 ELSE 0 END AS y
      |  FROM documents)
      |SELECT CAST(least(s // 100000, 9) AS BIGINT) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(s) AS BIGINT) AS sum_conf_e6,
      |  CAST(SUM(y) AS BIGINT) AS n_pos,
      |  CAST(abs(SUM(s) - SUM(y) * 1000000) AS BIGINT) AS gap_e6_num,
      |  CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) * 1000000 AS DOUBLE) AS conf,
      |  CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS acc
      |FROM sc GROUP BY 1 ORDER BY bin""".stripMargin

  /** L197 shared mint — the script-mix fixture: per doc_id % 6 the
    * (truncated) text gains a dominating Cyrillic run, a dominating
    * CJK run, a 25% Cyrillic tail (mixed but Latin-dominant), a
    * mojibake tail (UTF-8 'é' double-encoded as 'Ã©'), or one exemplar
    * of the six remaining script classes rotating on doc_id div 6.
    * ONE string, interpolated verbatim into BOTH engines (`div` is the
    * integer-divide token: "div" Spark / "//" DuckDB) over a relation
    * (doc_id, b).
    */
  private[graft] def scriptMintCase(div: String): String =
    s"""CASE doc_id % 6
       | WHEN 1 THEN concat(b, repeat('дата', CAST(length(b) AS INT)))
       | WHEN 2 THEN concat(b, repeat('数据中心', CAST(length(b) AS INT)))
       | WHEN 3 THEN concat(b, repeat('щ', CAST(length(b) $div 4 AS INT)))
       | WHEN 4 THEN concat(b, repeat('Ã©', CAST(length(b) $div 2 AS INT)))
       | WHEN 5 THEN concat(concat(b, ' '), CASE (doc_id $div 6) % 6
       |   WHEN 0 THEN 'سلام' WHEN 1 THEN 'שלום' WHEN 2 THEN 'नमस्ते'
       |   WHEN 3 THEN 'สวัสดี' WHEN 4 THEN '안녕하세요' ELSE 'γειά σου' END)
       | ELSE b END""".stripMargin

  /** L197 shared classify — the DuckDB mirror of
    * [[graft.ops.TextOps.scriptMix]], GENERATED from the same
    * scriptClasses table (classes shared verbatim; RE2 and Java regex
    * both take the `\x{XXXX}` range syntax; both engines' `length`
    * counts code points). Expects a CTE `t(doc_id, text)`; exposes
    * `sc3` with the per-doc gate row.
    */
  private[graft] val scriptMixSqlCtes: String = {
    val cls = graft.ops.TextOps.scriptClasses
    def strip(c: String) =
      s"CAST(length(text) - length(regexp_replace(text, '[$c]', '', 'g')) AS BIGINT)"
    val cnts = cls.map { case (n, c) => s"    ${strip(c)} AS n_$n" }
      .mkString(",\n")
    val names = cls.map(_._1)
    val sumExpr = names.map("n_" + _).mkString(" + ")
    val mxExpr = s"greatest(${names.map("n_" + _).mkString(", ")})"
    val dom = names.init.map(n => s"WHEN n_$n = mx THEN '$n'").mkString(" ")
    s"""sc1 AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |$cnts,
       |    ${strip(graft.ops.TextOps.mojiLeadClass)} AS n_moji_lead
       |  FROM t),
       |sc2 AS (SELECT *, ($sumExpr) AS n_scripted, $mxExpr AS mx FROM sc1),
       |sc3 AS (SELECT doc_id, n_chars, ${names.map("n_" + _).mkString(", ")},
       |    CAST(n_scripted AS BIGINT) AS n_scripted,
       |    CAST(n_chars - n_scripted AS BIGINT) AS n_other, n_moji_lead,
       |    CASE WHEN n_scripted = 0 THEN 'none' $dom
       |      ELSE '${names.last}' END AS dominant_script,
       |    CAST(CASE WHEN n_scripted > 0 THEN (mx * 1000000) // n_scripted
       |      ELSE -1 END AS BIGINT) AS dominant_share_e6,
       |    n_scripted > 0 AND (n_scripted - mx) * 10 >= n_scripted AS mixed,
       |    n_chars > 0 AND n_moji_lead * 20 >= n_chars AS mojibake
       |  FROM sc2)""".stripMargin
  }

  /** The L197 per-script corpus profile — shared by the batch gate's
    * streaming twin (complete-mode counts at ingest must equal it).
    */
  private[graft] val scriptProfileOracleSql: String =
    s"""WITH tb AS (SELECT doc_id, substr(text, 1, 160) AS b FROM documents),
       |t AS (SELECT doc_id, ${scriptMintCase("//")} AS text FROM tb),
       |$scriptMixSqlCtes
       |SELECT dominant_script,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN mixed THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
       |  CAST(SUM(CASE WHEN mojibake THEN 1 ELSE 0 END) AS BIGINT) AS n_mojibake,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM sc3 GROUP BY 1 ORDER BY dominant_script""".stripMargin

  private[graft] val evIntervalsSqlCte =
    """i AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS s_us,
      |  epoch_us(ts) + CAST(round(value*1.0E6) AS BIGINT) AS e_us,
      |  CAST(round(value*100) AS BIGINT) AS cents FROM events)""".stripMargin

  /** Merged interval chunks per user (gap 1 h), the W1 interval-union CTE
    * shared by several queries.
    */
  private[graft] def chunks(s: SparkSession, dir: String): DataFrame =
    SegmentOps.coalesceIntervals(
        Tables.eventIntervals(s, dir), "user_id", "s_us", "e_us", "event_id",
        lit(HOUR_US))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("s_us")).as("start_us"), max(col("e_us")).as("end_us"),
        count(lit(1)).as("n_merged"))

  private[graft] val chunksSqlCte =
    s"""$evIntervalsSqlCte,
       |cf AS (SELECT user_id, event_id, s_us, e_us,
       |  MAX(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM i),
       |cg AS (SELECT user_id, event_id, s_us, e_us,
       |  CASE WHEN prev_end IS NULL OR s_us - prev_end > 3600000000 THEN 1 ELSE 0 END AS newflag FROM cf),
       |cs AS (SELECT user_id, s_us, e_us,
       |  CAST(SUM(newflag) OVER (PARTITION BY user_id ORDER BY s_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM cg),
       |ch AS (SELECT user_id, session_id, MIN(s_us) AS start_us, MAX(e_us) AS end_us,
       |  COUNT(*) AS n_merged FROM cs GROUP BY user_id, session_id)""".stripMargin

  // ---------------------------------------------------------------------
  // Query registry. Names carry the SURVEY §2 operator ids they cover.
  // ---------------------------------------------------------------------
  private[graft] case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      sql: Option[String])

  /** Best-effort recursive delete of temp trees (staging, checkpoint
    * and sentinel dirs).
    */
  private[graft] def cleanupDirs(paths: java.nio.file.Path*): Unit =
    paths.foreach { p =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      } catch { case _: Exception => () }
    }

  /** Run a streaming DataFrame to completion (AvailableNow) into a memory
    * sink and return the sink's result table. The sink's temp view and
    * the `graft_stream_<tag>` checkpoint dir are released before return,
    * whether the stream succeeded or failed; the returned DataFrame keeps
    * its own reference to the sink's rows.
    */
  private[graft] def runToMemory(s: SparkSession, tag: String, mode: String)(
      stream: Dataset[_]): DataFrame = {
    val name = s"${tag}_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft_stream_$tag")
    try {
      stream.writeStream.format("memory").queryName(name).outputMode(mode)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s.table(name)
    } finally {
      s.catalog.dropTempView(name)
      cleanupDirs(ckpt)
    }
  }

  /** Run independent blocking builds side by side on a small pool and
    * return their results in order, so the caller pays the slowest build,
    * not the sum (guide §2.6). Every Spark job the thunks start carries
    * one fresh job tag: the first failure cancels the siblings' jobs and
    * is rethrown at once. No job group is set — the pool threads inherit
    * the caller's, by which callers attribute the work.
    */
  private[graft] def overlap[T](s: SparkSession)(thunks: (() => T)*): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val sc = s.sparkContext
    val tag = s"graft_overlap_${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    // only the thunks run on the pool: a callback of a sibling that ends
    // after the pool shut down must not be rejected
    implicit val callbacks: ExecutionContext = ExecutionContext.parasitic
    try {
      val all = Future.sequence(thunks.map { t =>
        val f = Future { sc.addJobTag(tag); t() }(ExecutionContext.fromExecutor(pool))
        f.failed.foreach(_ => sc.cancelJobsWithTag(tag))
        f
      })
      Await.result(all, Duration.Inf)
    } finally pool.shutdown()
  }

  /** Session-lifetime registry of staged intermediates, keyed by
    * (SparkSession INSTANCE, tag, sf dir). Identity on the session, never
    * a hash: identityHashCode can collide across sessions and would hand
    * a new session DataFrames bound to a stopped one; a second session
    * stages its own copies. Sessions per JVM are few (one in
    * Verify/Bench), so the pin is bounded.
    */
  private val staged =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Staged]()

  /** One registry entry: its value is built on first access, once, under
    * the entry's own lock. A build may stage other keys (pairs → cells →
    * quant), which a nested `computeIfAbsent` on the map would reject
    * with "Recursive update"; keys form a DAG, so the per-entry locks
    * never cycle. A build that throws leaves the entry unbuilt for the
    * next caller.
    */
  private final class Staged(build: => AnyRef) {
    lazy val value: AnyRef = build
  }

  private def memo[T <: AnyRef](s: SparkSession, tag: String, dir: String)(
      build: => T): T = {
    val fresh = new Staged(build)
    val prev = staged.putIfAbsent((s, tag, dir), fresh)
    (if (prev != null) prev else fresh).value.asInstanceOf[T]
  }

  /** Temp dirs the registry created, deleted by one hook at JVM exit. */
  private lazy val stagedDirs = {
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => dirs.forEach(d => cleanupDirs(d))))
    dirs
  }

  private def stagingDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    stagedDirs.add(d)
    d
  }

  /** Stage a deterministic shared intermediate to session-lifetime
    * LOCAL PARQUET once and hand every consumer the scan read once after
    * the write — the cluster-scale "checkpoint the candidate graph once,
    * fan the queries out over it" design, and the reason staged
    * relations survive Bench's per-query `clearCache()`: an in-memory
    * `.cache()` dies with the cache sweep and every later consumer
    * silently re-ran the full candidate chain (~2.5 s/query of pure
    * re-derivation at sf0.1), whereas the parquet scan is a few ms of
    * local I/O. Values are exact across the round-trip
    * (longs/strings/doubles and arrays thereof are bit-preserved by
    * parquet).
    */
  private[graft] def stagedRelation(tag: String, s: SparkSession, dir: String)(
      build: => DataFrame): DataFrame =
    memo(s, s"graft_rel_$tag", dir) {
      val path = stagingDir(s"graft_rel_$tag").resolve("rel").toString
      build.write.mode("overwrite").parquet(path)
      s.read.parquet(path)
    }

  /** The file-stream source consumes a DIRECTORY, so the batch parquet
    * gets staged into a temp dir once per (session, tag, sf dir) and
    * shared by every query that streams the same shape: staging per
    * query costs a fixed ~1 s floor each at sf0.1.
    */
  private[graft] def stagedStreamSource(tag: String, s: SparkSession, dir: String)(
      build: java.nio.file.Path => Unit): String =
    memo(s, s"graft_stream_$tag", dir) {
      val d = stagingDir(s"graft_stream_$tag")
      build(d)
      d.toString
    }

  /** The en-corpus bigram LM model tables (c2, c1, vocab) shared by
    * four queries (familiarity, next-token, DoReMi, the streaming
    * familiarity rollup) — STAGED to session parquet rather than
    * `.cache()`d: Bench's per-query cache sweep killed the in-memory
    * blocks, so every consumer after the first silently re-ran the two
    * full training-corpus aggregations inside its own timed region
    * (and the streaming twin re-ran them per micro-batch). Counts are
    * longs — exact across the round-trip.
    */
  private[graft] def sessionLmModel(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    memo(s, "lm", dir) {
      val m = Curation.lmModel(
        Tables.documents(s, dir).filter(col("lang") === "en"), "text")
      (stagedRelation("lmc2", s, dir)(m._1),
        stagedRelation("lmc1", s, dir)(m._2),
        stagedRelation("lmvocab", s, dir)(m._3))
    }

  /** The two intermediates the dedup family shares: the full-corpus
    * 3-gram shingle table (eight queries) and the 8-band J≥0.5 MinHash
    * pair graph (five queries). One tokenize+explode+distinct and one
    * LSH candidate+verify per session instead of one per query.
    */
  private[graft] def sessionShingles(s: SparkSession, dir: String): DataFrame =
    stagedRelation("shingles", s, dir)(graft.ops.TextOps.shingleTable(
      Tables.documents(s, dir), "doc_id", "text", 3))

  private[graft] def sessionMinhashPairs(s: SparkSession, dir: String): DataFrame =
    stagedRelation("mhpairs", s, dir)(graft.ops.Dedup.minhashLshPairs(
      sessionShingles(s, dir), "doc_id", 8, 0.5))

  /** The EVENT LINK GRAPH — per-user consecutive-event chain edges plus
    * event→type-hub edges — shared VERBATIM by twelve g_* queries
    * (pagerank, modularity, assortativity, degree_profile,
    * neighbor_jaccard, reciprocity, ppr, hits, bfs, sssp, hyperball,
    * resource_alloc): each re-ran the per-user window + hub aggregate +
    * broadcast join to derive the same (src, dst) edge set, and the
    * iterative ops then localCheckpoint that derivation again. One
    * derivation per session (guide §5); exact across the parquet
    * round-trip (two long columns). NOT used by g_harmonic (chain-only
    * on a bounded slice) or g_crawl_pagerank (a different graph).
    */
  private[graft] def sessionEventEdges(s: SparkSession, dir: String): DataFrame =
    stagedRelation("evedges", s, dir) {
      val ev = evPoints(s, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val chain = ev.withColumn("nxt", lead(col("event_id"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("event_id").as("src"), col("nxt").as("dst"))
      val hubs = ev.groupBy(col("event_type"))
        .agg(min(col("event_id")).as("hub"))
      val hubEdges = ev.join(broadcast(hubs), "event_type")
        .filter(col("event_id") =!= col("hub"))
        .select(col("event_id").as("src"), col("hub").as("dst"))
      chain.unionByName(hubEdges)
    }

  /** The full-corpus 8-band MinHash signature table over
    * [[sessionShingles]] — signatures are a pure per-doc function of
    * the doc's own shingles, so any doc-set restriction of the corpus
    * has exactly this table's restriction as its signatures;
    * dedup_incremental's seen/new split reads two filters of it
    * instead of aggregating the shingle table twice per run.
    */
  private[graft] def sessionMinhashSigs(s: SparkSession, dir: String): DataFrame =
    stagedRelation("mhsigs", s, dir)(graft.ops.Dedup.minhashSignatures(
      sessionShingles(s, dir), "doc_id", 8))

  /** The rare-shingle (df ≤ 50) pair-commons relation over
    * [[sessionShingles]] — (a, b, common, na, nb) with `common` exact
    * over ALL shingles. Three queries (ngram Jaccard pairs, the
    * containment pairs, the threshold curve) each ran the identical
    * candidate-enumeration + commons pass and differ only in the final
    * per-pair gate/score — the expensive stage is shared, the gates are
    * not (guide §5). All columns are longs, so the parquet round-trip
    * is bit-exact and every derived double is computed by the consumer
    * from the same integers.
    */
  private[graft] def sessionPairCommons(s: SparkSession, dir: String): DataFrame =
    stagedRelation("paircommons", s, dir)(graft.ops.Dedup.pairCommons(
      sessionShingles(s, dir), "doc_id", 50L))

  /** The CC labels over [[sessionMinhashPairs]] — four queries
    * (components, source_flow, canonical_best, leakage split) each ran
    * the full O(log² n) star-contraction loop on the same graph; one
    * run per session now.
    */
  private[graft] def sessionCcLabels(s: SparkSession, dir: String): DataFrame =
    stagedRelation("cclabels", s, dir)(graft.ops.Dedup.connectedComponents(
      sessionMinhashPairs(s, dir), "a", "b")
      .withColumnRenamed("id", "doc_id"))

  /** The IVF family's shared intermediates: the quantized full-corpus
    * embedding table, the rank-1 cell assignment over it, and the
    * verified same-cell pair set. dedup_semdedup and dedup_embedding_ivf
    * consume the SAME pair table; the profile reads the assignment; the
    * recall audit reuses the assignment restricted to its bounded slice
    * (rank-1 assignment is row-local given the broadcast seeds, so the
    * restriction is exact).
    */
  private[graft] def sessionQuantEmb(s: SparkSession, dir: String): DataFrame =
    stagedRelation("quantemb", s, dir)(Similarity.quantize(
      Tables.embeddings(s, dir), "vec_id", "embedding"))

  private[graft] def sessionIvfCells(s: SparkSession, dir: String): DataFrame =
    stagedRelation("ivfcells", s, dir)(
      Similarity.ivfCells(sessionQuantEmb(s, dir), "vec_id"))

  /** The verified same-cell pair table is staged at the LOOSEST cosine
    * any consumer needs (0.30, sim_dbscan's ε): `cos` is computed once
    * per candidate and bit-preserved by parquet, and every pair at a
    * tighter threshold is by definition in the looser relation, so the
    * 0.45 consumers (semdedup, embedding_ivf) are an exact filter of
    * the same rows — one candidate+verify pass per session instead of
    * one per threshold (guide §5).
    */
  private[graft] def sessionIvfPairsLoose(s: SparkSession, dir: String): DataFrame =
    stagedRelation("ivfpairs30", s, dir)(Similarity.verifyPairs(
      Similarity.ivfCandidatesFrom(sessionIvfCells(s, dir), "vec_id"),
      sessionQuantEmb(s, dir), "vec_id", 0.30))

  private[graft] def sessionIvfPairs(s: SparkSession, dir: String): DataFrame =
    sessionIvfPairsLoose(s, dir).filter(col("cos") >= 0.45)

  /** One BPE training run per session serves induction (t_bpe_merges)
    * AND application (t_bpe_encode). Value = (merge-rule table: a
    * driver-local relation; fully merged word table: already eagerly
    * localCheckpoint-materialized by the training loop, nothing further
    * to cache) — kept in memory, not staged to parquet.
    */
  private[graft] def sessionBpe(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    memo(s, "bpe", dir)(TextOps.bpeTrainFull(Tables.documents(s, dir), "text", 4))

  /** Session-lifetime token-count fixture service driving
    * `svc_batch_inference` (one loopback server per JVM, closed at
    * exit). Wire: request `tag TAB doc_id TAB b64(text)` → response
    * `doc_id TAB n_tok`; any body containing the POISON tag answers 500
    * unconditionally (the injected-fault leg).
    */
  private[graft] lazy val tokenCountService: graft.pipeline.LineService = {
    val svc = new graft.pipeline.LineService(
      lines => lines.map { l =>
        val f = l.split("\t", 3)
        val n = graft.pipeline.HttpInference.unb64t(f(2))
          .split(" ").count(_.nonEmpty)
        s"${f(1)}\t$n"
      },
      poisonMarker = Some("POISON\t"))
    Runtime.getRuntime.addShutdownHook(new Thread(() => svc.close()))
    svc
  }

  /** coalesce(1)-write `sentinel` to a temp dir, copy its single part
    * file into `dest` as `asName` (default `zz_heartbeat.parquet`,
    * sorting after every data file, so it forms the final micro-batch;
    * synthesized DATA files pass an `aa_`-prefixed name to sort first),
    * drop the temp dir. The Files.list stream is closed explicitly —
    * it holds a directory fd that would otherwise leak per staging.
    */
  private[graft] def writeHeartbeat(sentinel: DataFrame, dest: java.nio.file.Path,
                             asName: String = "zz_heartbeat.parquet"): Unit = {
    val sentDir = java.nio.file.Files.createTempDirectory("graft_stream_sent")
    sentinel.coalesce(1).write.mode("overwrite").parquet(sentDir.toString)
    val st = java.nio.file.Files.list(sentDir)
    val part =
      try st.filter(q => q.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      finally st.close()
    java.nio.file.Files.copy(part, dest.resolve(asName))
    cleanupDirs(sentDir)
  }

  /** events + one far-future purchase heartbeat row (user −1, value 0,
    * +10 days past the global max event time), staged once per session —
    * the watermark-advancing source shared by `streaming_asof` and
    * `streaming_attribution` (the sentinel purchase is a touchless
    * conversion for key −1, so attribution emits nothing for it).
    */
  private[graft] def eventsWithPurchaseHeartbeat(s: SparkSession, dir: String,
      path: String, base: DataFrame,
      schema: org.apache.spark.sql.types.StructType): String =
    stagedStreamSource("asofsrc", s, dir) { p =>
      linkInto(p, path, "events.parquet")
      val maxUs = base.select(Tables.tsUs(base).as("us"))
        .agg(max(col("us"))).head.getLong(0)
      val sentinel = s.range(1).select(schema.fields.toSeq.map { f => f.name match {
        case "user_id" => lit(-1L).cast(f.dataType).as("user_id")
        case "event_id" => lit(-1L).cast(f.dataType).as("event_id")
        case "event_type" => lit("purchase").as("event_type")
        case "value" => lit(0d).cast(f.dataType).as("value")
        case "ts" =>
          Tables.usToTs(lit(maxUs + 864000L * 1000000L), f.dataType).as("ts")
        case other => lit(null).cast(f.dataType).as(other)
      }}: _*)
      writeHeartbeat(sentinel, p)
    }

  /** Hardlink (copy fallback) staging of one parquet file into `d`. */
  private[graft] def linkInto(d: java.nio.file.Path, path: String, asName: String): Unit = {
    val src = java.nio.file.Paths.get(path)
    val dst = d.resolve(asName)
    try java.nio.file.Files.createLink(dst, src)
    catch { case _: Exception => java.nio.file.Files.copy(src, dst) }
  }

  /** Scope the session's shuffle-partition count down while building and
    * running one streaming query: every state-store partition writes a
    * delta + checkpoint per micro-batch, so at bench scale 32 partitions
    * of near-empty state are pure fixed overhead (measured: the state
    * checkpoint cycle dominates every streaming query's time at sf0.1).
    * The conf is read at the stream's first batch and fixes the state
    * layout for that checkpoint; production sizes it to the cluster.
    * Restores the previous value even on failure.
    */
  private[graft] def withStreamingPartitions[T](s: SparkSession)(body: => T): T = {
    Tables.tune(s) // checkpoint-manager + tz confs, whoever built the session
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, math.min(8, old.toInt).toString)
    try body finally s.conf.set(key, old)
  }


  /** DuckDB CTEs shared by the text/dedup queries: tokens and distinct
    * word-3-gram shingles (the Spark side builds shingles with
    * higher-order functions — same result set, no window shuffle).
    */
  private[graft] val toksSqlCte =
    """d AS (SELECT doc_id, lang,
      |  list_filter(string_split(text, ' '), x -> x != '') AS toks FROM documents)""".stripMargin

  /** The decayed-counts oracle — shared by the batch
    * (`c_decayed_counts`) and streaming (`streaming_decayed`) flavors:
    * the weighted count is a sum of integer shifts, order-independent,
    * so one SQL mirror checks both.
    */
  private[graft] val decayedOracleSql: String =
    """WITH e AS (SELECT event_type,
      |    epoch_us(ts) // 86400000000 AS day FROM events),
      |b AS (SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM e)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(1::BIGINT << CAST(day - b.dmin AS INTEGER)) AS BIGINT) AS decayed_num,
      |  CAST(b.dmax - b.dmin AS BIGINT) AS scale,
      |  CAST(SUM(1::BIGINT << CAST(day - b.dmin AS INTEGER)) AS DOUBLE)
      |    / CAST(1::BIGINT << CAST(b.dmax - b.dmin AS INTEGER) AS DOUBLE) AS decayed
      |FROM e, b GROUP BY event_type, b.dmin, b.dmax
      |ORDER BY event_type""".stripMargin

  /** Exact per-lang token counts, top-10 by (count desc, token) — the
    * oracle for BOTH Space-Saving flavors: within capacity the summary
    * is exact with err = 0 on every path (see
    * [[graft.expr.SpaceSavingAgg]]).
    */
  private[graft] val hhOracleSql: String =
    s"""WITH d AS (SELECT doc_id, lang,
      |  list_filter(string_split(text, ' '), x -> x != '') AS toks FROM documents),
      |t AS (SELECT lang, unnest(toks) AS tok FROM d),
      |c AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS est FROM t GROUP BY 1, 2),
      |r AS (SELECT lang, tok, est, CAST(row_number() OVER (PARTITION BY lang
      |    ORDER BY est DESC, tok) AS BIGINT) AS rank FROM c)
      |SELECT lang, rank, tok, est, CAST(0 AS BIGINT) AS err
      |FROM r WHERE rank <= 10 ORDER BY lang, rank""".stripMargin

  /** Mirror of [[graft.ops.Curation.zorderLayout]] on events: the same
    * min/max bounds, `bits`-bit integer-division buckets, and unrolled
    * shift/mask/or interleave, then `row_number`-assigned files and the
    * per-file stats rollup. Bucket and interleave terms are generated
    * from the same (bits, rowsPerFile) parameters as the Spark plan.
    */
  private[graft] def zorderOracleSql(bits: Int, rowsPerFile: Int): String = {
    val top = (1L << bits) - 1L
    val inter = (0 until bits).map { i =>
      s"(((b0 >> $i) & 1) << ${2 * i}) | (((b1 >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" | ")
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id FROM events),
       |bn AS (SELECT MIN(user_id) AS n0, MAX(user_id) AS x0,
       |    MIN(tus) AS n1, MAX(tus) AS x1 FROM e),
       |k AS (SELECT e.*,
       |    CASE WHEN x0 = n0 THEN 0 ELSE ((user_id - n0) * $top) // (x0 - n0) END AS b0,
       |    CASE WHEN x1 = n1 THEN 0 ELSE ((tus - n1) * $top) // (x1 - n1) END AS b1
       |  FROM e, bn),
       |z AS (SELECT *, $inter AS zkey FROM k),
       |r AS (SELECT *, row_number() OVER (ORDER BY zkey, event_id) AS rn FROM z)
       |SELECT CAST((rn - 1) // $rowsPerFile AS BIGINT) AS file_id,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(user_id) AS min_user_id, MAX(user_id) AS max_user_id,
       |  MIN(tus) AS min_tus, MAX(tus) AS max_tus
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Mirror of [[graft.ops.Curation.hilbertLayout]] on events: the
    * same bounds/buckets as the z-order oracle, then the xy2d fold
    * UNROLLED as one chained CTE per level with level-numbered columns
    * (gx0,gy0,hd0 → gx1,… — fresh names per level, so DuckDB's
    * lateral-alias binding can never read a same-SELECT updated
    * value), then the row_number file assembly.
    */
  private[graft] def hilbertOracleSql(bits: Int, rowsPerFile: Int): String = {
    val top = (1L << bits) - 1L
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id FROM events),
bn AS (SELECT MIN(user_id) AS n0, MAX(user_id) AS x0,
    MIN(tus) AS n1, MAX(tus) AS x1 FROM e),
h0 AS (SELECT e.*,
    CAST(CASE WHEN x0 = n0 THEN 0 ELSE ((user_id - n0) * $top) // (x0 - n0) END AS BIGINT) AS gx0,
    CAST(CASE WHEN x1 = n1 THEN 0 ELSE ((tus - n1) * $top) // (x1 - n1) END AS BIGINT) AS gy0,
    CAST(0 AS BIGINT) AS hd0
  FROM e, bn)"""
    var k = 0
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      val k1 = k + 1
      sb ++= s""",
h$k1 AS (SELECT user_id, tus, event_id,
    CASE WHEN (gy$k & $s) = 0 THEN CASE WHEN (gx$k & $s) > 0
      THEN $top - gy$k ELSE gy$k END ELSE gx$k END AS gx$k1,
    CASE WHEN (gy$k & $s) = 0 THEN CASE WHEN (gx$k & $s) > 0
      THEN $top - gx$k ELSE gx$k END ELSE gy$k END AS gy$k1,
    hd$k + ${s * s} * xor(CASE WHEN (gx$k & $s) > 0 THEN 3 ELSE 0 END,
      CASE WHEN (gy$k & $s) > 0 THEN 1 ELSE 0 END) AS hd$k1
  FROM h$k)"""
      k = k1
    }
    sb ++= s""",
r AS (SELECT user_id, tus, event_id,
    row_number() OVER (ORDER BY hd$k, event_id) AS rn FROM h$k)
SELECT CAST((rn - 1) // $rowsPerFile AS BIGINT) AS file_id,
  CAST(COUNT(*) AS BIGINT) AS n,
  MIN(user_id) AS min_user_id, MAX(user_id) AS max_user_id,
  MIN(tus) AS min_tus, MAX(tus) AS max_tus
FROM r GROUP BY 1 ORDER BY 1"""
    sb.toString
  }

  /** The k-round BPE training loop unrolled as chained CTEs — each
    * round: adjacent-pair counts over the delimited symbol strings, the
    * deterministic argmax, and the greedy `replace` merge feeding the
    * next round (every round's merge applied, so w`k` is the fully
    * encoded word table [[bpeEncodeOracleSql]] reads). Mirrors
    * [[graft.ops.TextOps.bpeTrainMerges]]/`bpeEncode` exactly.
    */
  private[graft] def bpeChainSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH $toksSqlCte,
t0 AS (SELECT unnest(toks) AS w FROM d),
wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM t0
  WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) >= 2 GROUP BY 1),
w0 AS (SELECT w, '|' || array_to_string(string_split(w, ''), '||') || '|' AS repr, freq FROM wf)"""
    for (r <- 1 to rounds) {
      sb ++= s""",
s$r AS (SELECT string_split(substr(repr, 2, length(repr) - 2), '||') AS syms, freq
  FROM w${r - 1}),
p$r AS (SELECT string_split(p, chr(1))[1] AS a, string_split(p, chr(1))[2] AS b, freq
  FROM (SELECT unnest(list_filter(list_transform(syms, (x, i) ->
      CASE WHEN i < len(syms) THEN x || chr(1) || syms[i + 1] END),
      y -> y IS NOT NULL)) AS p, freq
    FROM s$r WHERE len(syms) >= 2)),
b$r AS (SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM p$r GROUP BY a, b
  ORDER BY cnt DESC, a, b LIMIT 1),
w$r AS (SELECT w, replace(repr, '|' || b$r.a || '||' || b$r.b || '|',
    '|' || b$r.a || b$r.b || '|') AS repr, freq FROM w${r - 1}, b$r)"""
    }
    sb.toString
  }

  private[graft] def bpeOracleSql(rounds: Int): String =
    bpeChainSql(rounds) +
      (1 to rounds).map(r =>
        s"\nSELECT $r AS round, a, b, a || b AS merged, cnt FROM b$r")
        .mkString("", "\nUNION ALL", "") +
      "\nORDER BY round"

  /** Tokenize-the-corpus mirror: split the fully merged word table back
    * into symbols and roll the frequency-weighted vocabulary histogram.
    */
  private[graft] def bpeEncodeOracleSql(rounds: Int): String =
    bpeChainSql(rounds) + s""",
enc AS (SELECT string_split(substr(repr, 2, length(repr) - 2), '||') AS syms, freq
  FROM w$rounds)
SELECT token, CAST(SUM(freq) AS BIGINT) AS cnt
FROM (SELECT unnest(syms) AS token, freq FROM enc)
GROUP BY token ORDER BY cnt DESC, token"""

  /** The char-trigram langid profile rendered as a SQL VALUES literal —
    * generated from the SAME Scala constant the Spark side broadcasts,
    * so the two engines cannot drift.
    */
  private[graft] val langProfileSqlValues: String = TextOps.langTrigramProfiles
    .map { case (l, i, t, w) => s"('$l', $i, '$t', $w)" }.mkString(", ")

  private[graft] val shingleSqlCte =
    s"""$toksSqlCte,
       |tt AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS i FROM d),
       |s0 AS (SELECT doc_id, tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS shingle
       |  FROM tt WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
       |sd AS (SELECT DISTINCT doc_id, shingle FROM s0 WHERE shingle IS NOT NULL)""".stripMargin

  /** Near-dup connected-component labels (MinHash 8-band candidates →
    * exact Jaccard ≥ 0.5 pairs → transitive closure via recursive CTE →
    * min-id component per doc, singletons labeled by themselves) —
    * shared by the `dedup_components` and `c_split_leakage_safe`
    * oracles. Callers must open with `WITH RECURSIVE`.
    */
  private[graft] val nearDupCcSqlCtes =
    s"""$shingleSqlCte,
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
       |e AS (SELECT a AS u, b AS v FROM jp UNION SELECT b AS u, a AS v FROM jp),
       |cc AS (
       |  SELECT doc_id AS id, doc_id AS r FROM documents
       |  UNION
       |  SELECT cc.id, e.v FROM cc JOIN e ON e.u = cc.r),
       |lbl AS (SELECT id AS doc_id, MIN(r) AS component FROM cc GROUP BY id)""".stripMargin

  private[graft] val quantSqlCte =
    """q AS (SELECT vec_id, list_transform(embedding,
      |  x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings),
      |nm AS (SELECT vec_id, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nn FROM q)""".stripMargin

  /** PQ encode + reconstruct over `q` — subspace split, 16-seed-row
    * codebooks, per-subspace argmin, lossless reassembly into `rec` —
    * mirror of [[graft.ops.Similarity]]'s `pqRecon`, shared by the
    * `sim_pq_adc_topk` and `sim_ivfpq_topk` oracles. Requires
    * `quantSqlCte` upstream.
    */
  private[graft] val pqReconSqlCtes =
    """sb AS (SELECT vec_id, j.j AS sub_id,
      |    qv[j.j * 8 + 1 : j.j * 8 + 8] AS v FROM q, range(8) j(j)),
      |bk AS (SELECT vec_id AS code, sub_id, v AS cvec FROM sb WHERE vec_id < 16),
      |dd AS (SELECT s.vec_id, s.sub_id, b.code, b.cvec,
      |    CAST(list_sum(list_transform(range(1, 9),
      |      i -> (s.v[i] - b.cvec[i]) * (s.v[i] - b.cvec[i]))) AS BIGINT) AS d2
      |  FROM sb s JOIN bk b ON b.sub_id = s.sub_id),
      |asg AS (SELECT vec_id, sub_id, cvec FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
      |      ORDER BY d2, code) AS rn FROM dd) WHERE rn = 1),
      |rec AS (SELECT vec_id, flatten(list(cvec ORDER BY sub_id)) AS recon
      |  FROM asg GROUP BY vec_id)""".stripMargin

  /** The SQ-ADC oracle — shared verbatim by `sim_sq_adc_topk` and
    * `sim_sq_packed_topk`: both plans produce the same exact integer
    * scores, so one SQL mirror checks both.
    */
  private[graft] val sqAdcOracleSql: String =
    s"""WITH $quantSqlCte,
      |st AS (SELECT i, MIN(qv[CAST(i AS INTEGER)]) AS mn,
      |    MAX(qv[CAST(i AS INTEGER)]) - MIN(qv[CAST(i AS INTEGER)]) + 1 AS w
      |  FROM q, range(1,65) t(i) GROUP BY 1),
      |rc AS (SELECT q.vec_id, st.i,
      |    32*st.mn + (2*(((q.qv[CAST(st.i AS INTEGER)] - st.mn)*16) // st.w) + 1)*st.w AS r
      |  FROM q, st),
      |sc AS (SELECT qq.vec_id AS query_id, rc.vec_id AS neighbor_id,
      |    CAST(SUM(qq.qv[CAST(rc.i AS INTEGER)] * rc.r) AS BIGINT) AS score2l
      |  FROM rc JOIN q qq ON qq.vec_id < 8 AND rc.vec_id <> qq.vec_id
      |  GROUP BY 1, 2),
      |r AS (SELECT query_id, neighbor_id, score2l,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY score2l DESC, neighbor_id) AS BIGINT) AS rnk FROM sc)
      |SELECT query_id, rnk, neighbor_id, score2l
      |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin


  /** DuckDB mirror of [[graft.ops.SrpLsh]]'s deterministic signature +
    * band-candidate stages, with the same fixed-seed coefficient matrix
    * rendered as a literal — bit-identical signatures on both engines.
    */
  private[graft] val srpSqlCte: String = {
    val bandBits = graft.ops.SrpLsh.DefaultBandBits
    val bands = graft.ops.SrpLsh.DefaultBands
    val cs = graft.ops.SrpLsh.coefficients(bandBits * bands, 64)
    val rl = graft.ops.SrpLsh.sqlCoefficientLiteral(cs)
    s"""sdots AS (SELECT vec_id, list_transform($rl,
       |  rj -> CAST(list_sum(list_transform(range(1,65), i -> rj[i]*qv[i])) AS BIGINT)) AS dots FROM q),
       |srp AS (SELECT vec_id, CAST(list_sum(list_transform(range(0,${cs.length}), j ->
       |  CASE WHEN dots[j+1] > 0 THEN CAST(power(2,j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
       |  FROM sdots),
       |bb AS (SELECT vec_id, r.band AS band,
       |  (sig // CAST(power(2, r.band*$bandBits) AS BIGINT)) % ${1L << bandBits} AS bv
       |  FROM srp, range($bands) r(band)),
       |scand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM bb x JOIN bb y ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id)""".stripMargin
  }

  private[graft] def docToks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      TextOps.tokens(col("text")).as("toks"))

  // ---------------------------------------------------------------------
  // Oracles shared by a batch query and its twin (streaming or sorted
  // plan): both compute the same exact result, so one SQL mirror checks
  // both. Defined after the CTE fragments they interpolate.
  // ---------------------------------------------------------------------

  /** The oracle of `sketch_cms_topk` and `streaming_sketch`. */
  private[graft] val cmsTopkOracleSql: String =
    s"""WITH $toksSqlCte,
      |t AS (SELECT unnest(toks) AS tok FROM d),
      |cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_count FROM t GROUP BY tok),
      |cells AS (SELECT r.r AS r,
      |    ('0x' || substr(md5(tok), 1 + r.r*8, 8))::BIGINT % 256 AS p,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM t, range(3) r(r) GROUP BY 1, 2),
      |top AS (SELECT tok, exact_count FROM cnt
      |  ORDER BY exact_count DESC, tok LIMIT 15)
      |SELECT top.tok AS tok, top.exact_count AS exact_count, MIN(c.c) AS cms_est
      |FROM top JOIN cells c
      |  ON c.p = ('0x' || substr(md5(top.tok), 1 + c.r*8, 8))::BIGINT % 256
      |GROUP BY 1, 2
      |ORDER BY exact_count DESC, tok""".stripMargin

  /** The oracle of `e_attribution` and `streaming_attribution`. */
  private[graft] val attributionOracleSql: String =
    s"""WITH $evPointsSqlCte,
      |v AS (SELECT user_id, event_id AS touch_id, tus FROM e WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id AS conv_id, tus, cents FROM e WHERE event_type = 'purchase'),
      |tp AS (SELECT p.user_id, p.conv_id, p.cents, v.touch_id, v.tus AS t_tus
      |  FROM p JOIN v ON v.user_id = p.user_id
      |    AND v.tus <= p.tus AND v.tus > p.tus - 86400000000),
      |rk AS (SELECT user_id, conv_id, cents, touch_id,
      |    CAST(row_number() OVER (PARTITION BY conv_id ORDER BY t_tus, touch_id) AS BIGINT) AS rk,
      |    CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT) AS k FROM tp),
      |cr AS (SELECT user_id, conv_id, touch_id,
      |    cents // k + CASE WHEN rk <= cents % k THEN 1 ELSE 0 END AS credit FROM rk)
      |SELECT touch_id, user_id, CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs,
      |  CAST(SUM(credit) AS BIGINT) AS attributed_cents
      |FROM cr GROUP BY touch_id, user_id ORDER BY touch_id""".stripMargin

  /** The oracle of `e_mcnemar` and `streaming_mcnemar`. */
  private[graft] val mcnemarOracleSql: String =
    """WITH b AS (SELECT (doc_id * 7) % 10 < 7 AS a,
      |    (doc_id * 11) % 10 < 6 AS b
      |  FROM documents WHERE doc_id < 600),
      |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
      |    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_only_a,
      |    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_only_b,
      |    CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_neither
      |  FROM b)
      |SELECT n, n_both, n_only_a, n_only_b, n_neither,
      |  (n_only_a - n_only_b) * (n_only_a - n_only_b) AS chisq_num,
      |  CASE WHEN n_only_a + n_only_b > 0
      |    THEN CAST((n_only_a - n_only_b) * (n_only_a - n_only_b) AS DOUBLE)
      |      / CAST(n_only_a + n_only_b AS DOUBLE)
      |    ELSE -1.0 END AS chisq
      |FROM ag""".stripMargin

  /** The oracle of `e_benford` and `streaming_benford`. */
  private[graft] val benfordOracleSql: String =
    """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |p AS (SELECT v FROM e WHERE v > 0),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM p),
      |d AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT)
      |    AS digit, CAST(COUNT(*) AS BIGINT) AS n_d FROM p GROUP BY 1)
      |SELECT digit, n_d, t.n, (n_d * 1000000) // t.n AS share_e6,
      |  CAST(CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091
      |    WHEN 3 THEN 124938 WHEN 4 THEN 96910 WHEN 5 THEN 79181
      |    WHEN 6 THEN 66946 WHEN 7 THEN 57991 WHEN 8 THEN 51152
      |    ELSE 45757 END AS BIGINT) AS expected_e6,
      |  (n_d * 1000000) // t.n - CASE digit WHEN 1 THEN 301029
      |    WHEN 2 THEN 176091 WHEN 3 THEN 124938 WHEN 4 THEN 96910
      |    WHEN 5 THEN 79181 WHEN 6 THEN 66946 WHEN 7 THEN 57991
      |    WHEN 8 THEN 51152 ELSE 45757 END AS dev_e6
      |FROM d CROSS JOIN t ORDER BY digit""".stripMargin

  /** The oracle of `j1_containment` and `j1_sorted_containment`. */
  private[graft] val containmentOracleSql: String =
    s"""WITH $chunksSqlCte,
      |seg AS (SELECT user_id, event_id, s_us, e_us FROM i WHERE event_type = 'click')
      |SELECT seg.user_id AS user_id, seg.event_id AS event_id,
      |  ch.start_us AS chunk_start, ch.end_us AS chunk_end
      |FROM seg JOIN ch ON seg.user_id = ch.user_id
      |  AND seg.s_us >= ch.start_us AND seg.e_us <= ch.end_us
      |ORDER BY user_id, event_id""".stripMargin

  /** The oracle of `j9_asof_join` and `streaming_asof`. */
  private[graft] val asofOracleSql: String =
    s"""WITH $evPointsSqlCte,
      |l AS (SELECT user_id, event_id, tus FROM e WHERE event_type = 'click'),
      |r0 AS (SELECT user_id, event_id, tus, cents FROM e WHERE event_type = 'purchase'),
      |r AS (SELECT user_id, tus, cents FROM (SELECT user_id, tus, cents,
      |  row_number() OVER (PARTITION BY user_id, tus ORDER BY event_id DESC) AS rn
      |  FROM r0) t WHERE rn = 1)
      |SELECT l.user_id, l.event_id, l.tus, r.tus AS prev_tus,
      |  r.cents AS prev_cents, l.tus - r.tus AS lag_us
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tus >= r.tus
      |ORDER BY l.user_id, l.tus, l.event_id""".stripMargin

  /** The oracle of `c_bottomk_sample` and `streaming_bottomk`. */
  private[graft] val bottomkOracleSql: String =
    """WITH h AS (SELECT lang, doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM documents),
      |r AS (SELECT lang, doc_id, h,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY h, doc_id) AS BIGINT) AS rank FROM h)
      |SELECT lang, rank, doc_id, h FROM r WHERE rank <= 10
      |ORDER BY lang, rank""".stripMargin

  /** The oracle of `c_redirect_chains` and `streaming_redirects`. */
  private[graft] val redirectChainsOracleSql: String =
    """SELECT doc_id AS id,
      |  CASE WHEN doc_id % 10 IN (1, 4) THEN 'direct'
      |    WHEN doc_id % 10 IN (0, 2, 3) THEN 'resolved'
      |    WHEN doc_id % 10 = 5 THEN 'too_many_hops'
      |    ELSE 'loop' END AS status,
      |  CAST(CASE doc_id % 10 WHEN 1 THEN 0 WHEN 4 THEN 0
      |    WHEN 0 THEN 1 WHEN 3 THEN 1 WHEN 6 THEN 1
      |    WHEN 2 THEN 2 WHEN 8 THEN 2 WHEN 9 THEN 2
      |    ELSE 3 END AS BIGINT) AS hops,
      |  CAST(CASE WHEN doc_id % 10 IN (1, 4) THEN doc_id
      |    WHEN doc_id % 10 IN (0, 3) THEN doc_id + 1
      |    WHEN doc_id % 10 = 2 THEN doc_id + 2
      |    ELSE -1 END AS BIGINT) AS final_id
      |FROM documents WHERE doc_id < 500 ORDER BY id""".stripMargin

  /** The oracle of `mm_image_probe` and `streaming_image_probe`. */
  private[graft] val imageProbeOracleSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 4 = 0 THEN 'png' WHEN doc_id % 4 = 1 THEN 'bmp'
      |       WHEN doc_id % 4 = 2 THEN 'jpg' ELSE 'gif' END AS format,
      |  CAST(16 + doc_id % 13 AS BIGINT) AS width,
      |  CAST(8 + doc_id % 7 AS BIGINT) AS height
      |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin

  /** The oracle of `mm_clipping` and `streaming_clipping`. */
  private[graft] val clippingOracleSql: String =
    """WITH ids AS (SELECT DISTINCT CAST(event_id AS BIGINT) AS id
      |  FROM events WHERE event_id < 200),
      |c AS (SELECT id, CAST(300 + id % 500 AS BIGINT) AS n,
      |    CASE WHEN id % 4 = 0 THEN 2 ELSE 1 END AS mult FROM ids),
      |q AS (SELECT id, n,
      |    list_transform(range(0, n),
      |      i -> abs(((id * 13 + i * 29) % 401 - 200) * 25 * mult)) AS qs
      |  FROM c)
      |SELECT id AS file, n AS n_samples,
      |  CAST(list_max(qs) AS BIGINT) AS peak_q,
      |  CAST(len(list_filter(qs, x -> x >= 9000)) AS BIGINT) AS n_hot,
      |  CASE WHEN n > 0
      |    THEN CAST(len(list_filter(qs, x -> x >= 9000)) AS DOUBLE)
      |      / CAST(n AS DOUBLE)
      |    ELSE -1.0 END AS hot_rate,
      |  len(list_filter(qs, x -> x >= 9000)) > 0 AS clipped
      |FROM q ORDER BY file""".stripMargin

  /** The oracle of `m_wer` and `streaming_wer`. */
  private[graft] val werOracleSql: String =
    s"""WITH $toksSqlCte,
      |base AS (SELECT doc_id, toks[1:40] AS ref FROM d WHERE len(toks) > 0),
      |hy AS (SELECT doc_id, ref,
      |    list_transform(list_filter(
      |      list_transform(range(1, CAST(len(ref) + 1 AS BIGINT)),
      |        i -> {'w': ref[CAST(i AS INTEGER)], 'i': i}),
      |      s -> s['i'] % 7 != 4),
      |      s -> CASE WHEN s['i'] % 5 = 3 THEN s['w'] || 'x' ELSE s['w'] END) AS hyp
      |  FROM base),
      |dic AS (SELECT doc_id, ref, hyp,
      |    list_sort(list_distinct(list_concat(ref, hyp))) AS dict FROM hy),
      |ec AS (SELECT doc_id,
      |    CAST(len(ref) AS BIGINT) AS n_ref, CAST(len(hyp) AS BIGINT) AS n_hyp,
      |    CASE WHEN len(dict) <= 200 THEN CAST(levenshtein(
      |      list_reduce(list_transform(ref,
      |        w -> chr(CAST(list_position(dict, w) + 47 AS INTEGER))), (a, b) -> a || b),
      |      list_reduce(list_transform(hyp,
      |        w -> chr(CAST(list_position(dict, w) + 47 AS INTEGER))), (a, b) -> a || b))
      |      AS BIGINT) ELSE -1 END AS dist
      |  FROM dic)
      |SELECT doc_id, n_ref, n_hyp, dist,
      |  CASE WHEN dist >= 0 AND n_ref > 0
      |    THEN CAST(dist AS DOUBLE) / CAST(n_ref AS DOUBLE)
      |    ELSE -1.0 END AS wer
      |FROM ec ORDER BY doc_id""".stripMargin
}
