package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to every core on the host (the driver's box is local[32]);
    // an explicit SPARK_GRAFT_CPUS still pins it
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Queries run in SORTED name order (Map iteration order is hash-based
    // and changes across builds — nondeterministic ordering made round-2
    // timings incomparable), and the session cache is dropped after every
    // run: several dedup/ANN queries cache() eagerly inside their plan,
    // and without unpersist the storage tier fills with dead tables whose
    // memory pressure taxes every later query.
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run (debugging/iteration aid).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Pass 1 — UNTIMED warm-up over EVERY query. With deterministic
    // sorted order, the alphabetically-first queries otherwise absorb all
    // JVM warm-up (C2 compilation of the parquet reader and shuffle
    // paths, Janino codegen, file listings) and read 5-10x slower than
    // steady state — measured: a1_pricing_summary 2.2 s cold vs 0.23 s
    // warm at sf0.1. Per-query min-of-2 does NOT fix this: both runs
    // execute back-to-back early in JVM life. A full untimed sweep is
    // the only warm-up that treats every query equally.
    // Spark releases shuffle files, broadcasts, and driver-side shuffle
    // state only when the ContextCleaner sees their weak refs die — i.e.
    // on GC. A 92-query x 2-pass session on a large heap may never GC,
    // so ~1000 shuffles accumulate on disk and in driver maps; measured:
    // dedup_cascade 12.6 s solo vs 27 s at position ~110 of a session.
    // A periodic System.gc() (same idea as spark.cleaner.periodicGC,
    // compressed to bench timescale) keeps the session stationary.
    val warmupErrors = warmUp(spark, sfDir, sorted)
    // Pass 2 — timed, steady-state (`timePass`). The stdout `queries`
    // map stays total = build + plan + action for continuity with
    // r01-r12; the file artifact adds the `plan` and `action` maps so
    // flagged sub-second queries can be judged on compute, not on fixed
    // per-query session overhead.
    val results = timePass(spark, sfDir, sorted)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "docs/bench_latest.json")
    val (line, fileLine) = lines(results, sfDir, outFile, warmupErrors)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (fileLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { // stdout line still carries every timing
      case e: Throwable => System.err.println(s"bench: artifact $outFile not written: $e")
    }
    println(line)
    Console.out.flush()
    spark.stop()
  }

  /** The untimed warm-up pass (see `main`): runs every query once and
    * returns, per failed query, `warmup:<query>` with the exception's
    * class and message. A warm-up failure does not fail the query; the
    * timed pass decides that.
    */
  def warmUp(spark: SparkSession, sfDir: String,
             queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, String)] =
    queries.zipWithIndex.flatMap { case ((name, fn), i) =>
      val error =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(s"warmup:$name" -> describe(e)) }
      spark.catalog.clearCache()
      if ((i & 15) == 15) System.gc()
      error
    }

  private def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  /** One query's timed run: seconds total/plan/action (−1 when it
    * failed) and, for a failed query, the first exception's class and
    * message.
    */
  final case class Timing(name: String, total: Double, plan: Double, action: Double,
                          error: Option[String])

  /** The timed pass over `queries`, in order. Each query is timed in
    * three phases: BUILD (DataFrame construction — includes any eager
    * staging/caching the query does by design), PLAN (analysis,
    * optimization and physical planning of the final plan) and ACTION
    * (executing it). GC runs BEFORE each query, OUTSIDE the timer: with
    * the every-16 cadence the accumulated shuffle files of up to 15
    * neighbors plus the GC pause itself landed inside some victim
    * query's timing (measured: dedup_minhash_lsh 6.7 s in-session vs
    * 3.2 s solo). The brief sleep lets the ContextCleaner drain its async
    * file deletes off-timer. Caches are cleared after each query, so
    * every figure includes rebuilding the query's own eager caches (that
    * work is part of the query), but never pays for a neighbor's.
    */
  def timePass(spark: SparkSession, sfDir: String,
               queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[Timing] =
    queries.map { case (name, fn) =>
      System.gc(); Thread.sleep(50)
      var error: Option[Throwable] = None
      def attempt[T](body: => T): Option[T] =
        try Some(body) catch { case e: Throwable => if (error.isEmpty) error = Some(e); None }
      val t0 = System.nanoTime()
      val df = attempt(fn(spark, sfDir))
      val tb = System.nanoTime()
      df.foreach(d => attempt(d.queryExecution.executedPlan))
      val t1 = System.nanoTime()
      val ok = df.exists(d => attempt(d.count()).isDefined)
      val t2 = System.nanoTime()
      spark.catalog.clearCache()
      def secs(from: Long, to: Long): Double = if (ok) (to - from) / 1e9 else -1d
      Timing(name, secs(t0, t2), secs(tb, t1), secs(t1, t2),
        if (ok) None else error.map(describe))
    }

  /** The stdout line and the file artifact line. Compact timings (ms
    * precision — the box's ±40% noise band makes more digits fiction)
    * keep the stdout line as short as possible, and the same JSON plus
    * the `plan`, `action` and `errors` maps goes to a file: a captured
    * stdout once kept only a tail fragment of the line (66 of 397
    * timings), so the file is the durable artifact. A
    * failed query records -1 in the maps, its exception in `errors`, and
    * stays out of the total. Warm-up failures ([[warmUp]]) go into
    * `errors` too, keyed `warmup:<query>`, and change nothing else.
    */
  def lines(results: Seq[Timing], sfDir: String, outFile: String,
            warmupErrors: Seq[(String, String)] = Nil): (String, String) = {
    def fmt(v: Double): String = f"$v%.3f"
    def timings(v: Timing => Double): String =
      results.map(r => s"\"" + r.name + "\":" + fmt(v(r))).mkString("{", ",", "}")
    val qs = timings(_.total)
    val total = results.map(_.total).filter(_ >= 0d).sum
    val nFailed = results.count(_.total < 0d)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val errors = (warmupErrors ++ results.flatMap(r => r.error.map(r.name -> _)))
      .map { case (k, e) => s"${json.writeValueAsString(k)}:${json.writeValueAsString(e)}" }
      .mkString("{", ",", "}")
    (s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_failed":$nFailed,"queries":$qs,"sf":"$sfDir","file":"$outFile"}""",
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_failed":$nFailed,"queries":$qs,"plan":${timings(_.plan)},"action":${timings(_.action)},"errors":$errors,"sf":"$sfDir"}""")
  }
}
