package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/** Streaming flavor (SURVEY §2.10): session windows + watermark late-drop
  * driven synchronously through a MemoryStream.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  test("session_window groups events within the gap and splits across it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value")
    val agg = StreamingOps.sessionAgg(events, "user_id", "10 seconds", "1 minute")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("sessions_out").start()
    try {
      input.addData(
        (1L, ts(0), 1.0), (1L, ts(5), 1.0), (1L, ts(8), 1.0), // one session
        (1L, ts(60), 2.0), // second session
        (2L, ts(3), 5.0))
      q.processAllAvailable()
      val rows = spark.table("sessions_out")
        .select("user_id", "n_events", "sum_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(rows == Seq((1L, 1L, 2.0), (1L, 3L, 3.0), (2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("stateful capped sessions: closed sessions emit, open one stays in state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.model.Segment
    val input = MemoryStream[Segment]
    // flushTimeout=None: with a processing-time timeout the engine runs
    // continuous empty micro-batches to check timers, which this sandbox's
    // slow process-forking checkpoint IO turns into minutes per test.
    val out = graft.streaming.StreamingSessions.cappedSessions(
      input.toDS(), gap = 5d, cap = 100d, flushTimeout = None)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("capped_out").start()
    try {
      input.addData(Segment("f", 0, 10), Segment("f", 12, 20))
      q.processAllAvailable() // merges into one open session, nothing emitted
      assert(spark.table("capped_out").count() == 0)
      input.addData(Segment("f", 100, 110)) // gap > 5 closes (0,20,2)
      q.processAllAvailable()
      val rows = spark.table("capped_out")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getInt(3)))
      assert(rows.toSeq == Seq(("f", 0d, 20d, 2)))
    } finally q.stop()
  }

  test("event-time capped sessions flush when the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.TimedSegment
    val input = MemoryStream[TimedSegment]
    val out = graft.streaming.StreamingSessions.cappedSessionsEventTime(
      input.toDS(), gap = 5d, cap = 100d, watermarkDelay = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("et_capped_out").start()
    try {
      input.addData(
        TimedSegment("f", ts(10), 10, 12),
        TimedSegment("f", ts(14), 14, 16))
      q.processAllAvailable() // one open session (10,16); watermark ~16
      assert(spark.table("et_capped_out").count() == 0)
      // unrelated key far in the future: watermark jumps past 16+gap,
      // the timeout fires and flushes f's open session without new f data
      input.addData(TimedSegment("other", ts(1000), 1000, 1001))
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("et_capped_out")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getInt(3)))
        .filter(_._1 == "f")
      assert(rows.toSeq == Seq(("f", 10d, 16d, 2)))
    } finally q.stop()
  }

  test("event-time typed sessions accumulate types and enforce the voice gate") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.TimedTypedSegment
    val input = MemoryStream[TimedTypedSegment]
    val out = graft.streaming.StreamingSessions.typedSessionsEventTime(
      input.toDS(), gap = 5d, cap = 100d, mustIncludeVoice = true,
      watermarkDelay = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("typed_out").start()
    try {
      // 'f' has voice; 'g' is silence-only and must be gated out
      input.addData(
        TimedTypedSegment("f", ts(10), 10, 12, "voice"),
        TimedTypedSegment("g", ts(10), 10, 12, "silence"))
      q.processAllAvailable()
      input.addData(
        TimedTypedSegment("f", ts(14), 14, 16, "silence"),
        TimedTypedSegment("g", ts(14), 14, 16, "silence"))
      q.processAllAvailable()
      assert(spark.table("typed_out").count() == 0) // both still open
      // watermark jump fires both timeouts
      input.addData(TimedTypedSegment("other", ts(1000), 1000, 1001, "voice"))
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("typed_out")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
          r.getInt(3), r.getSeq[String](4).mkString(",")))
        .filter(t => t._1 == "f" || t._1 == "g")
      // only f's session survives the gate, types in member order with
      // the open session's accumulated list carried across batches
      assert(rows.toSeq == Seq(("f", 10d, 16d, 2, "voice,silence")))
    } finally q.stop()
  }

  test("file source + AvailableNow + checkpoint is the principled skip_if_exist") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_an")
    val inDir = base.resolve("in"); val outDir = base.resolve("out")
    val ckpt = base.resolve("ckpt")
    java.nio.file.Files.createDirectories(inDir)
    val sch = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))

    def addFile(name: String, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("k", "v").coalesce(1).write.mode("overwrite")
        .parquet(inDir.resolve(name).toString)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(sch).option("recursiveFileLookup", "true")
        .parquet(inDir.toString)
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def outCount(): Long = spark.read.parquet(outDir.toString).count()

    addFile("f1", Seq((1L, 10L), (1L, 20L)))
    runOnce()
    assert(outCount() == 2)
    addFile("f2", Seq((2L, 30L), (2L, 40L), (2L, 50L)))
    runOnce() // restart from checkpoint: only the new file processes
    assert(outCount() == 5)
    runOnce() // nothing new: no reprocessing, exactly-once held
    assert(outCount() == 5)
  }

  test("hopped windows with watermark drop late data") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value")
    val agg = StreamingOps.hoppedAgg(events, "user_id", "10 seconds", "5 seconds",
      "10 seconds")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("hops_out").start()
    try {
      input.addData((1L, ts(0), 1.0), (1L, ts(7), 2.0))
      q.processAllAvailable()
      // advance watermark far past the first windows, then send a late row
      input.addData((1L, ts(100), 9.0))
      q.processAllAvailable()
      input.addData((1L, ts(2), 100.0)) // late: before watermark -> dropped
      q.processAllAvailable()
      input.addData((1L, ts(200), 1.0)) // flush
      q.processAllAvailable()
      val sums = spark.table("hops_out").agg(sum("sum_value")).head.getDouble(0)
      // the late 100.0 must not appear in any emitted window
      assert(sums < 100.0)
    } finally q.stop()
  }

  test("streaming exact dedup: dropDuplicates state holds across micro-batches") {
    // The curation dedup gate as a stream: a doc whose fingerprint was
    // seen in ANY earlier micro-batch is suppressed by the state store —
    // the streaming analog of Dedup.exactGroups' canonical filter.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = input.toDF().toDF("doc_id", "fp").dropDuplicates("fp")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData((1L, "a"), (2L, "b"), (3L, "a")) // batch 1: a dup inside
      q.processAllAvailable()
      input.addData((4L, "b"), (5L, "c")) // batch 2: b dups ACROSS batches
      q.processAllAvailable()
      val rows = spark.table("dedup_out")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._2).toSeq
      // one row per fingerprint, from its first-seen batch
      assert(rows.map(_._2) == Seq("a", "b", "c"))
      assert(rows.collect { case (id, "c") => id } == Seq(5L))
      assert(!rows.map(_._1).contains(4L), "cross-batch duplicate must be suppressed")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark evicts seen-key state once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val out = input.toDF().toDF("ts", "fp")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ddwm_out").start()
    try {
      // keep clear of the epoch: the initial watermark is 0 and rows
      // at/behind it are dropped as late before dedup ever sees them
      def t(min: Long) = new java.sql.Timestamp((100000L + min) * 60000L)
      input.addData((t(0), "a"), (t(0), "b"), (t(1), "a"))
      q.processAllAvailable() // a,b emitted; in-batch dup suppressed
      input.addData((t(60), "hb")) // watermark → 50 min ≫ 0: a,b evicted
      q.processAllAvailable()
      input.addData((t(61), "a")) // fresh occurrence after eviction
      q.processAllAvailable()
      val rows = spark.table("ddwm_out").collect().map(_.getString(1)).toSeq
      assert(rows.count(_ == "a") == 2,
        s"seen-key must re-emit after its state is watermark-evicted, got $rows")
      assert(rows.count(_ == "b") == 1 && rows.count(_ == "hb") == 1)
      // the state store itself must have shrunk: only {hb, a@61} survive
      val st = q.recentProgress.reverse.flatMap(_.stateOperators.headOption)
        .headOption.map(_.numRowsTotal)
      assert(st.exists(_ <= 2), s"state not evicted: $st rows retained")
    } finally q.stop()
  }

  test("temporal enrich: in-batch exact as-of, cross-batch latest-known state") {
    import graft.streaming.{EnrichInput, TemporalEnrich}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EnrichInput]
    val out = TemporalEnrich.latestStateEnrich(input.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      input.addData(
        EnrichInput("k", 5L, isRight = true, tie = 100L, payload = 50L),
        EnrichInput("k", 7L, isRight = false, tie = 1L, payload = 0L),
        EnrichInput("k", 3L, isRight = false, tie = 2L, payload = 0L),
        EnrichInput("z", 9L, isRight = false, tie = 3L, payload = 0L))
      q.processAllAvailable()
      input.addData(
        EnrichInput("k", 6L, isRight = true, tie = 101L, payload = 60L),
        EnrichInput("k", 6L, isRight = false, tie = 4L, payload = 0L),
        EnrichInput("k", 4L, isRight = false, tie = 5L, payload = 0L))
      q.processAllAvailable()
      val got = spark.table("enrich_out").as[graft.streaming.Enriched]
        .collect().sortBy(_.tie).toSeq
      assert(got == Seq(
        // batch 1: exact in-batch as-of — left@7 sees right@5, left@3 none
        graft.streaming.Enriched("k", 7L, 1L, Some(5L), Some(50L)),
        graft.streaming.Enriched("k", 3L, 2L, None, None),
        graft.streaming.Enriched("z", 9L, 3L, None, None),
        // batch 2: left@6 sees right@6 (inclusive, same batch)
        graft.streaming.Enriched("k", 6L, 4L, Some(6L), Some(60L)),
        // left@4 PREDATES the carried batch-1 state (right@5) but still
        // matches it — the documented cross-batch latest-known-state
        // posture (right@6 sorts after it in-batch, so doesn't apply)
        graft.streaming.Enriched("k", 4L, 5L, Some(5L), Some(50L))))
    } finally q.stop()
  }

  test("event-time as-of: exact match despite out-of-order cross-batch arrival") {
    import graft.streaming.TemporalEnrich
    import graft.streaming.TemporalEnrich.TimedEnrichInput
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TimedEnrichInput]
    val out = TemporalEnrich.eventTimeAsof(input.toDS(), "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("et_asof_out").start()
    try {
      // batch 1: one right, three lefts. The post-batch watermark is
      // 20s − 10s = 10s, so the timeout follow-up batch finalizes the
      // lefts @5s and @10s immediately; left@20s stays pending
      input.addData(
        TimedEnrichInput("k", ts(10), isRight = true, tie = 10L, payload = 100L),
        TimedEnrichInput("k", ts(20), isRight = false, tie = 1L, payload = 0L),
        TimedEnrichInput("k", ts(5), isRight = false, tie = 2L, payload = 0L),
        TimedEnrichInput("k", ts(10), isRight = false, tie = 3L, payload = 0L))
      q.processAllAvailable()
      assert(spark.table("et_asof_out").count() == 2)
      // batch 2: rights @15s×2 and @25s arrive AFTER left@20s in
      // processing time but straddle it in event time
      input.addData(
        TimedEnrichInput("k", ts(15), isRight = true, tie = 11L, payload = 150L),
        TimedEnrichInput("k", ts(15), isRight = true, tie = 13L, payload = 151L),
        TimedEnrichInput("k", ts(25), isRight = true, tie = 12L, payload = 250L))
      q.processAllAvailable()
      // heartbeat rights on an unrelated key push the watermark past 20s;
      // the second batch lets k's event-time timeout fire with no k data
      input.addData(TimedEnrichInput("z", ts(100), isRight = true, tie = 8L, payload = 0L))
      q.processAllAvailable()
      input.addData(TimedEnrichInput("z", ts(101), isRight = true, tie = 9L, payload = 0L))
      q.processAllAvailable()
      val got = spark.table("et_asof_out").as[graft.streaming.Enriched]
        .collect().sortBy(_.tie).toSeq
      assert(got == Seq(
        // exact as-of: left@20s matches right@15s (max tie 13 on the tied
        // ts), NOT the later-arriving right@25s — latest-known-state
        // would have returned 25s/250 here
        graft.streaming.Enriched("k", 20000L, 1L, Some(15000L), Some(151L)),
        // left@5s predates every right: no match, even though rights
        // existed in state when it finalized
        graft.streaming.Enriched("k", 5000L, 2L, None, None),
        // inclusive: left@10s matches the right at exactly 10s
        graft.streaming.Enriched("k", 10000L, 3L, Some(10000L), Some(100L))))
    } finally q.stop()
  }

  test("event-time cusum folds in exact event order despite disordered batches") {
    import graft.streaming.TemporalEnrich
    import graft.streaming.TemporalEnrich.{CusumInput, CusumOut}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CusumInput]
    val out = TemporalEnrich.eventTimeCusum(input.toDS(), "10 seconds", h = 7L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("et_cusum_out").start()
    try {
      // batch 1 arrives OUT of event order: drifts in event order are
      // 5 (t=1), -3 (t=2), 9 (t=3) -> S = 5, 2, 11; watermark after the
      // batch is 20s-10s = 10s so all three finalize via the timeout batch
      input.addData(
        CusumInput("g", ts(3), 3L, 9L),
        CusumInput("g", ts(1), 1L, 5L),
        CusumInput("g", ts(2), 2L, -3L),
        CusumInput("g", ts(20), 9L, 0L))
      q.processAllAvailable()
      // batch 2: a row at t=12 (AFTER the fold point 3, before 20) plus a
      // far-future heartbeat on another key to flush everything: the
      // carried (p, m) state continues the fold exactly: S(12) with
      // x=-20 -> max(0, 11-20) = 0; S(20) with x=0 stays 0
      input.addData(CusumInput("g", ts(12), 4L, -20L))
      q.processAllAvailable()
      input.addData(CusumInput("z", ts(100), 8L, 1L))
      q.processAllAvailable()
      input.addData(CusumInput("z", ts(101), 9L, 1L))
      q.processAllAvailable()
      val got = spark.table("et_cusum_out").as[CusumOut]
        .collect().filter(_.k == "g").sortBy(_.ts).toSeq
      assert(got == Seq(
        CusumOut("g", 1000L, 1L, 5L, 5L, alarm = false),
        CusumOut("g", 2000L, 2L, -3L, 2L, alarm = false),
        CusumOut("g", 3000L, 3L, 9L, 11L, alarm = true),
        CusumOut("g", 12000L, 4L, -20L, 0L, alarm = false),
        CusumOut("g", 20000L, 9L, 0L, 0L, alarm = false)))
    } finally q.stop()
  }

  test("event-time attribution credits exactly despite disordered cross-batch arrival") {
    import graft.streaming.TemporalEnrich
    import graft.streaming.TemporalEnrich.{AttrCredit, AttrInput}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AttrInput]
    // 5 s window: conversion credits split over touches in (ct−5s, ct]
    val out = TemporalEnrich.eventTimeAttribution(input.toDS(), "10 seconds",
      window = 5000L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("et_attr_out").start()
    try {
      // conversion at t=6 (7 cents) BEFORE its touches arrive; touches
      // t=2,3,4 land in the same batch out of order. A second conversion
      // at t=8 (5 cents) has the half-open window (3, 8] — only the t=4
      // touch (t=3 sits exactly on the excluded floor).
      input.addData(
        AttrInput("u", ts(6), isConv = true, tie = 100L, cents = 7L),
        AttrInput("u", ts(4), isConv = false, tie = 3L, cents = 0L),
        AttrInput("u", ts(2), isConv = false, tie = 1L, cents = 0L),
        AttrInput("u", ts(3), isConv = false, tie = 2L, cents = 0L))
      q.processAllAvailable()
      // conv2 in a later batch; a heartbeat key advances the watermark
      // past everything so both conversions finalize
      input.addData(AttrInput("u", ts(8), isConv = true, tie = 200L, cents = 5L))
      q.processAllAvailable()
      input.addData(AttrInput("z", ts(100), isConv = true, tie = 9L, cents = 0L))
      q.processAllAvailable()
      input.addData(AttrInput("z", ts(101), isConv = true, tie = 10L, cents = 0L))
      q.processAllAvailable()
      val got = spark.table("et_attr_out").as[AttrCredit]
        .collect().filter(_.k == "u").sortBy(c => (c.convId, c.touchId)).toSeq
      // conv1 (7 cents over touches 1,2,3 in (1,6]): base 2, remainder 1
      // -> earliest touch gets 3. conv2 (5 cents over the lone t=4
      // touch): all 5 cents.
      assert(got == Seq(
        AttrCredit("u", 100L, 1L, 3L),
        AttrCredit("u", 100L, 2L, 2L),
        AttrCredit("u", 100L, 3L, 2L),
        AttrCredit("u", 200L, 3L, 5L)))
    } finally q.stop()
  }

  test("stream-stream interval join over micro-batches equals the batch join") {
    import spark.implicits._
    // NOT epoch-0-based: rows at event times at/near the initial
    // watermark (0) are dropped by the join's state-watermark math —
    // discovered empirically; real event data is modern-epoch anyway
    val t0 = 1704067200000000L
    val rows = Seq(
      // user 1: views at +0s and +50s, purchases at +30s and +4000s
      (1L, 10L, "view", t0), (1L, 11L, "view", t0 + 50L * 1000000L),
      (1L, 20L, "purchase", t0 + 30L * 1000000L),
      (1L, 21L, "purchase", t0 + 4000L * 1000000L),
      // user 2: purchase 1s BEFORE the view — no match
      (2L, 12L, "view", t0 + 10L * 1000000L),
      (2L, 22L, "purchase", t0 + 9L * 1000000L)
    ).toDF("user_id", "event_id", "event_type", "tus")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ij_src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ij_ck")
    rows.repartition(3).write.mode("overwrite").parquet(srcDir.toString)
    def side(tpe: String, pfx: String) =
      spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
        .filter($"event_type" === tpe)
        .select($"user_id".as(s"${pfx}_user"), $"event_id".as(s"${pfx}_id"),
          $"tus".as(s"${pfx}_tus"), timestamp_micros($"tus").as(s"${pfx}_wts"))
    val joined = graft.streaming.StreamingOps.intervalJoin(
      side("view", "v"), side("purchase", "p"),
      expr("v_user = p_user AND p_wts >= v_wts AND p_wts <= v_wts + INTERVAL 1 HOUR"),
      "v_wts", "p_wts", delay = "2 hours")
    val q = joined.select($"v_user", $"v_id", $"p_id")
      .writeStream.format("memory").queryName("ij_out").outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("ij_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // view@0s ↔ purchase@30s is the only in-window forward pair:
    // purchase@4000s is past the hour from both views, purchase@30s
    // precedes view@50s, and user 2's purchase precedes its view
    assert(got == Seq((1L, 10L, 20L)))
  }

  test("stream-static familiarity rollup over micro-batches equals the batch rollup") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "en", "a b a b a b"), // the trusted slice: c2(ab)=3, c2(ba)=2
      (2L, "xx", "a b a"),       // bigrams ab ba
      (3L, "yy", "p q")          // one fully-OOV bigram
    ).toDF("doc_id", "lang", "text")
    val (c2, c1, v) = graft.ops.Curation.lmModel(
      corpus.filter($"lang" === "en"), "text")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_lf_src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lf_ck")
    corpus.repartition(3).write.mode("overwrite").parquet(srcDir.toString)
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val q = graft.streaming.StreamingOps
      .familiarityRollup(stream, c2, c1, v, "text", "lang", scale = 1000L)
      .writeStream.format("memory").queryName("lf_out").outputMode("complete")
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("lf_out").orderBy($"lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // Model: c1(a)=3, c1(b)=3, V=2. term(ab) = floor(1000·4/5) = 800,
    // term(ba) = floor(1000·3/5) = 600, term(OOV) = floor(1000·1/2) = 500.
    // en: 3·800+2·600 = 3600/5; xx: 800+600 = 1400/2; yy: 500/1
    assert(got == Seq(
      ("en", 5L, 3600L, 720L), ("xx", 2L, 1400L, 700L), ("yy", 1L, 500L, 500L)))
  }

  test("L122 streaming shots: a shot emits the moment its closing cut arrives; state stays open") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.FrameEvent
    val input = MemoryStream[FrameEvent]
    val out = StreamingOps.streamingShots(input.toDS(), maxDist = 3)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("shots_out").start()
    try {
      // shot 1 = frames 0-2 around hash 0 (1-bit wiggle); still open
      input.addData(FrameEvent(7L, 0L, 0L), FrameEvent(7L, 1L, 1L),
        FrameEvent(7L, 2L, 0L))
      q.processAllAvailable()
      assert(spark.table("shots_out").count() == 0, "open shot must not emit")
      // the cut frame closes shot 1 IMMEDIATELY (no end-of-stream needed)
      input.addData(FrameEvent(7L, 3L, 65280L))
      q.processAllAvailable()
      val first = spark.table("shots_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(first.toSeq == Seq((7L, 1L, 0L, 3L)), s"got ${first.toSeq}")
      // sentinel flushes the now-open shot 2
      input.addData(FrameEvent(7L, 100L, -1L))
      q.processAllAvailable()
      val all = spark.table("shots_out").orderBy($"shot_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(all.toSeq == Seq((7L, 1L, 0L, 3L), (7L, 2L, 3L, 1L)), s"got ${all.toSeq}")
    } finally q.stop()
  }

  test("L125 streaming near-dup: canonical-only state, hit emits at ingest, far vector silent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.VecBucket
    val input = MemoryStream[VecBucket]
    val out = StreamingOps.streamingNearDup(input.toDS(), minCos = 0.9)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("snd_out").start()
    try {
      input.addData(VecBucket(0, 5L, 1L, Array(10000L, 0L)))
      q.processAllAvailable()
      assert(spark.table("snd_out").count() == 0, "canonical alone must not emit")
      // near-dup of the canonical -> immediate hit; opposite vector -> silent
      input.addData(VecBucket(0, 5L, 2L, Array(10000L, 100L)),
        VecBucket(0, 5L, 3L, Array(-10000L, 0L)))
      q.processAllAvailable()
      val rows = spark.table("snd_out").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq((0, 5L, 1L, 2L)), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("L143 stream-static decon join executes as a BroadcastHashJoin with zero state") {
    // Plan pin for the streaming_semantic_decon shape: an arriving
    // vector's cell equi-joins the tiny static probe table. The
    // load-bearing properties at feed scale are (a) the static side is
    // BROADCAST — a sort-merge would shuffle every micro-batch's
    // arrivals — and (b) the query is STATELESS append (a stream-static
    // join keeps no state store; a regression to a stream-stream join
    // or an aggregation would show StateStore operators).
    implicit val sqlCtx = spark.sqlContext
    val probes = broadcast(Seq((0L, 7L), (1L, 9L)).toDF("cell", "b"))
    val input = MemoryStream[(Long, Long)]
    val joined = input.toDF().toDF("a", "cell").join(probes, Seq("cell"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("sdec_pin").start()
    try {
      input.addData((10L, 0L), (11L, 2L))
      q.processAllAvailable()
      val explained = {
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf)) { q.explain() }
        buf.toString
      }
      assert(explained.contains("BroadcastHashJoin"),
        s"stream-static decon join must broadcast the probe side:\n$explained")
      assert(!explained.contains("StateStore") &&
        !explained.contains("StreamingSymmetricHashJoin"),
        s"stream-static decon must stay stateless:\n$explained")
      assert(spark.table("sdec_pin").count() == 1) // only cell 0 matches
    } finally q.stop()
  }

  test("L198 ingest script gate: classification is stateless; the single " +
      "complete-mode agg is the only state") {
    // Plan pin for the streaming_script_mix / streaming_hll /
    // streaming_conformal shape: every per-row step (regexp strips,
    // dominance CASE, threshold compare, register rank) is a pure
    // projection — the ONLY stateful operator is the one complete-mode
    // aggregation, and nothing joins stream-to-stream or keeps
    // per-group user state.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val gated = graft.ops.TextOps.scriptMix(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .groupBy($"dominant_script").agg(count(lit(1)).as("n_docs"))
    val q = gated.writeStream.outputMode("complete")
      .format("memory").queryName("ssm_pin").start()
    try {
      input.addData((1L, "hello world"), (2L, "привет мир"))
      q.processAllAvailable()
      val explained = {
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf)) { q.explain() }
        buf.toString
      }
      assert(!explained.contains("FlatMapGroupsWithState") &&
        !explained.contains("StreamingSymmetricHashJoin"),
        s"script gate must keep no per-group user state:\n$explained")
      val st = q.lastProgress.stateOperators
      assert(st.length == 1,
        s"exactly one stateful operator (the agg), got ${st.length}")
      val rows = spark.table("ssm_pin").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(rows == Map("latin" -> 1L, "cyrillic" -> 1L), s"got $rows")
    } finally q.stop()
  }

  test("L162 streaming WER: reference sidecar broadcasts, scoring stays stateless") {
    // Plan pin for the streaming_wer shape (r8-VERDICT item 5): the
    // static reference side — derived from the documents table under
    // the documented "reference sidecar" contract — must join each
    // micro-batch as a BROADCAST hash join (a sort-merge would shuffle
    // every batch's arrivals), and the per-row Levenshtein scoring
    // must keep the query stateless append (no state store, no
    // stream-stream join).
    implicit val sqlCtx = spark.sqlContext
    val refs = broadcast(Seq(
      (1L, Seq("a", "b")), (2L, Seq("c", "d"))).toDF("doc_id", "ref"))
    val input = MemoryStream[(Long, Seq[String])]
    val scored = graft.ops.TextOps.wordErrorRate(
      input.toDF().toDF("doc_id", "hyp").join(refs, Seq("doc_id")),
      "doc_id", "ref", "hyp")
    val q = scored.writeStream.outputMode("append")
      .format("memory").queryName("swer_pin").start()
    try {
      input.addData((1L, Seq("a", "x")), (2L, Seq("c", "d")))
      q.processAllAvailable()
      val explained = {
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf)) { q.explain() }
        buf.toString
      }
      assert(explained.contains("BroadcastHashJoin"),
        s"streaming WER's ref sidecar must broadcast:\n$explained")
      assert(!explained.contains("StateStore") &&
        !explained.contains("StreamingSymmetricHashJoin"),
        s"streaming WER must stay stateless:\n$explained")
      val rows = spark.table("swer_pin").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSeq
      assert(rows == Seq((1L, 1L), (2L, 0L)), s"got $rows")
    } finally q.stop()
  }

  test("L221 streaming audio-metadata probe: the chunk walk is a pure " +
      "per-row map — append mode, ZERO state operators") {
    // Plan pin for the streaming_audio_meta shape (the L187 posture on
    // audio): probing RIFF/FLAC tag structures at ingest is a typed
    // map over arriving payloads — no aggregation, no join, no state
    // store; a regression that introduces any stateful operator fails
    // here before it costs memory at ingest scale.
    import graft.pipeline.{AudioMeta, FlacAudio, WavAudio}
    implicit val sqlCtx = spark.sqlContext
    val sam = Array.tabulate(300)(i => ((i * 29 % 401) - 200) * 25 / 32767f)
    val wav = AudioMeta.wavWithInfo(WavAudio.encode(8000, sam),
      Seq(("INAM", "v0000001")))
    val flac = AudioMeta.flacWithVorbisComment(
      FlacAudio.encode(8000, sam), "graft0",
      Seq(("K0", "v0000002"), ("K1", "v0000002")))
    val input = MemoryStream[(Long, Array[Byte])]
    val probed = input.toDS().map { case (id, bytes) =>
      val m = AudioMeta.probeMeta(bytes)
      (id, m.format, m.nFields, m.metaBytes)
    }.toDF("id", "format", "n_fields", "meta_bytes")
    val q = probed.writeStream.outputMode("append")
      .format("memory").queryName("sam_pin").start()
    try {
      input.addData((1L, wav), (2L, flac))
      q.processAllAvailable()
      val explained = {
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf)) { q.explain() }
        buf.toString
      }
      assert(!explained.contains("StateStore") &&
        !explained.contains("StreamingSymmetricHashJoin"),
        s"audio-meta probe must stay stateless:\n$explained")
      assert(q.lastProgress.stateOperators.isEmpty,
        s"expected zero state operators, got ${
          q.lastProgress.stateOperators.length}")
      val rows = spark.table("sam_pin").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(rows == Seq((1L, "wav", 1L, 30L), (2L, "flac", 2L, 48L)),
        s"got $rows")
    } finally q.stop()
  }

  test("runToMemory releases its checkpoint dir and sink view, on failure too") {
    def views = spark.catalog.listTables().collect().map(_.name).toSet
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def ckptDirs(tag: String) = {
      val ls = java.nio.file.Files.list(tmp)
      try ls.filter(_.getFileName.toString.startsWith(s"graft_stream_$tag")).count()
      finally ls.close()
    }
    val before = views
    val ckptBefore = Seq("specfail", "sd").map(ckptDirs)

    // a stream that fails inside its batch: the error surfaces, nothing stays
    val src = java.nio.file.Files.createTempDirectory("graft_spec_src")
    try {
      spark.range(10).toDF("id").write.mode("overwrite").parquet(src.toString)
      val failing = spark.readStream.schema("id LONG").parquet(src.toString)
        .select(expr("if(id = 3, raise_error('boom at 3'), id)").as("id"))
      val e = intercept[Exception] {
        QuerySupport.runToMemory(spark, "specfail", "append")(failing)
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => String.valueOf(c.getMessage).contains("boom at 3")), e)
      assert(ckptDirs("specfail") == ckptBefore(0))
      assert(views == before)
    } finally QuerySupport.cleanupDirs(src)

    // a registry query returns the batch rows and leaves no view behind
    val dir = "perfbench/fixture/sf0.001"
    val got = SparkEntry.queries("streaming_dedup")(spark, dir)
      .collect().map(_.getString(0)).toSeq
    val want = Tables.documents(spark, dir).select(md5(col("text")))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(got.nonEmpty && got == want)
    assert(ckptDirs("sd") == ckptBefore(1))
    assert(views == before)
  }
}
