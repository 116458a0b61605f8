package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchAccess
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.model.AudioFile
import graft.pipeline.{MockModels, PipelineConfig, SpeechPipeline, WavAudio}
import graft.sources.{Incremental, ManifestSink}

/** The benchmark's JVM side. It drives the engine only through its public
  * entry points (the query registry, the speech pipeline stages, the
  * codecs, the manifest sink) and writes one raw JSON record of what it
  * measured; `run.py` turns that record into metrics and checks outputs.
  *
  * Arguments (all `--key value`): workload, work (scratch dir), seconds,
  * trace (0|1), seed, cpus, and per workload: `tables` (comma-separated
  * fresh corpus dirs, one per pass), `warm` (warm-up corpus dir),
  * `queries` (comma-separated names); or the speech corpus shape.
  */
object Main {
  final class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
  }

  /** One timed operation. `error` is empty on success. */
  final case class Op(pass: Int, name: String, error: String, buildS: Double,
                      planS: Double, execS: Double, storageMb: Double,
                      extra: Map[String, Double] = Map.empty) {
    def ok: Boolean = error.isEmpty
    def totalS: Double = buildS + planS + execS
  }

  final case class Check(name: String, ok: Boolean, detail: String)

  final class Ctx(val spark: SparkSession, val opts: Opts, val work: Path, val trace: Boolean) {
    val spans = new Spans(trace, opts.get("run", "run"))
    val sparkWork = new SparkWork
    val plans = new PlanFacts(work.resolve("out").toString)
    val streams = new StreamFacts
    val ops = mutable.ArrayBuffer.empty[Op]
    val checks = mutable.ArrayBuffer.empty[Check]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val notes = mutable.LinkedHashMap.empty[String, String]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    var warmupS = 0d
    var genS = Seq.empty[Double]
    var passWall = Seq.empty[Double]
    val calS = mutable.ArrayBuffer.empty[Double]

    def sc = spark.sparkContext

    private var yardstick: Option[(Process, java.io.PrintWriter, Iterator[String])] = None

    private def yardstickJvm = yardstick.getOrElse {
      val javaBin = ProcessHandle.current().info().command().orElse("java")
      val p = new ProcessBuilder(javaBin, "-Xmx1g", "-XX:-UsePerfData",
        s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
        "-cp", System.getProperty("java.class.path"), "graftbench.Calibrate",
        "--threads", opts("cpus")).redirectErrorStream(true).start()
      val y = (p, new java.io.PrintWriter(p.getOutputStream, true),
        scala.io.Source.fromInputStream(p.getInputStream).getLines())
      yardstick = Some(y)
      y
    }

    /** Yardstick samples ([[Calibrate]]), off the clock, from a JVM of
      * their own while this one waits after a full GC: no heap or cache
      * the engine holds is shared with them.
      */
    def calibrate(samples: Int = 4): Unit = {
      System.gc()
      val (_, in, out) = yardstickJvm
      in.println(samples)
      var got = 0
      while (got < samples) {
        require(out.hasNext, "the yardstick JVM ended early")
        val line = out.next()
        if (line.startsWith("yardstick_s ")) { calS += line.split(' ')(1).toDouble; got += 1 }
      }
    }

    /** End the yardstick JVM, if one was started, and wait for it. */
    def close(): Unit = yardstick.foreach { case (p, in, _) => in.close(); p.waitFor() }

    /** Add `n` to a per-layer count while spans record (traced, not warm-up). */
    def tally(key: String, n: => Long): Unit =
      if (spans.recording) layer(key) = layer.getOrElse(key, 0d) + n

    def current(name: String): Unit = {
      sparkWork.current = name; plans.current = name; streams.current = name
    }

    /** Drain the listener bus, then attribute later events to `next`. */
    def boundary(next: String): Unit = {
      GraftBenchAccess.drainListeners(sc)
      current(next)
    }

    /** Run `body` as one operation under its own job group, with a
      * watchdog that cancels the group after the op timeout. Its error,
      * if any, is recorded; its time then counts nowhere.
      */
    def op(pass: Int, name: String)(body: Op => Op): Op = {
      val group = s"$name#$pass"
      boundary(group)
      sc.setJobGroup("gb:" + group, name, interruptOnCancel = true)
      val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
      val dog = new java.util.Timer(true)
      dog.schedule(new java.util.TimerTask {
        def run(): Unit = { timedOut.set(true); sc.cancelJobGroup("gb:" + group) }
      }, (OpTimeoutS * 1000).toLong)
      val seed = Op(pass, name, "", 0, 0, 0, 0)
      val done = try body(seed) catch {
        case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
          seed.copy(error = if (timedOut.get) s"timeout after ${OpTimeoutS}s; $msg" else msg)
      } finally { dog.cancel(); sc.clearJobGroup() }
      boundary("between")
      ops += done
      done
    }

    /** Storage memory held by cached data right now (blocks of persisted
      * RDDs and Datasets; broadcast pieces, freed whenever a GC lets the
      * cleaner run, are left out).
      */
    def storageMb: Double = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576d

    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val OpTimeoutS = 120d
  val MinPasses = 3
  val MaxPasses = 8

  /** Closed-loop passes: at least [[MinPasses]], then more while another
    * pass of the last one's length still ends inside the `seconds` window.
    */
  def morePasses(ctx: Ctx, startNs: Long, walls: Seq[Double]): Boolean =
    walls.size < MinPasses ||
      ((System.nanoTime() - startNs) / 1e9 + walls.last <= ctx.opts("seconds").toDouble &&
        walls.size < MaxPasses)

  def main(args: Array[String]): Unit = {
    val opts = new Opts(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(opts("cpus").toInt, work)
    val readyMs = System.currentTimeMillis()
    val ctx = new Ctx(spark, opts, work, opts.get("trace", "0") == "1")
    spark.sparkContext.addSparkListener(ctx.sparkWork)
    if (ctx.trace) {
      spark.listenerManager.register(ctx.plans)
      spark.streams.addListener(ctx.streams)
    }
    val t0 = System.nanoTime()
    try opts("workload") match {
      case "speech_e2e" => Speech.run(ctx)
      case _ => Registry.run(ctx)
    } finally ctx.close()
    val endNs = System.nanoTime()
    GraftBenchAccess.drainListeners(spark.sparkContext)
    if (ctx.trace) Layers.exprKernels(ctx)
    Json.write(work.resolve("raw.json"), ctx, readyMs, (endNs - t0) / 1e9)
    if (ctx.trace) Json.writeSpans(work.resolve("spans.jsonl"), ctx.spans.all)
    spark.stop()
  }
}

/** The registry workload (curation_cold): pinned registry queries over
  * fresh corpus copies, one timed operation per query.
  */
object Registry {
  import Main._

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val names = ctx.opts("queries").split(",").toSeq
    val reg = SparkEntry.queries
    val missing = names.filterNot(reg.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val passDirs = ctx.opts("tables").split(",").toSeq
    // warm-up: every query once on a seed-distinct corpus, untimed
    val (_, warmS) = ctx.time {
      names.foreach { n =>
        ctx.current("warmup")
        try reg(n)(spark, ctx.opts("warm")).write.mode("overwrite")
          .parquet(ctx.work.resolve(s"warm/$n").toString)
        catch { case _: Throwable => () } // a real failure shows in the timed passes
        spark.catalog.clearCache()
      }
    }
    ctx.warmupS = warmS
    ctx.boundary("between")
    ctx.calibrate()
    val start = System.nanoTime()
    var pass = 0
    val walls = mutable.ArrayBuffer.empty[Double]
    while (morePasses(ctx, start, walls.toSeq)) {
      val dir = if (pass < passDirs.size) passDirs(pass)
                else copyCorpus(Paths.get(passDirs.head), ctx.work.resolve(s"corpus_p$pass"))
      System.gc()
      val ops = names.zipWithIndex.map { case (n, i) =>
        if ((i & 15) == 15) System.gc() // ContextCleaner sweep, off the clock
        ctx.op(pass, n)(o => runQuery(ctx, reg(n), dir, pass, o))
      }
      walls += ops.filter(_.ok).map(_.totalS).sum
      spark.catalog.clearCache()
      ctx.calibrate()
      pass += 1
    }
    ctx.passWall = walls.toSeq
    ctx.notes("passes") = pass.toString
    ctx.extra("oracle") = names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap
    ctx.extra("out_dir") = ctx.work.resolve("out").toString
  }

  private def runQuery(ctx: Ctx, fn: (SparkSession, String) => DataFrame, dir: String,
                       pass: Int, o: Op): Op = {
    val out = ctx.work.resolve(s"out/p$pass/${o.name}").toString
    val (df, b) = ctx.time(ctx.spans("queries.build")(fn(ctx.spark, dir)))
    val (_, p) = ctx.time(ctx.spans("queries.plan")(df.queryExecution.executedPlan))
    val (_, e) = ctx.time(ctx.spans("queries.exec")(df.write.mode("overwrite").parquet(out)))
    val held = ctx.storageMb
    ctx.spark.catalog.clearCache()
    o.copy(buildS = b, planS = p, execS = e, storageMb = held)
  }

  /** Byte-copy a written corpus into a fresh directory: a new path, so
    * every path-keyed staged relation is built again.
    */
  def copyCorpus(from: Path, to: Path): String = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.foreach(f => Files.copy(f, to.resolve(f.getFileName)))
    to.toString
  }
}

/** speech_e2e: the corpus arrives in increments; each increment is one
  * operation: remaining work against the manifest, decode with status,
  * the five-stage pipeline, commit.
  */
object Speech {
  import Main._

  val Cfg: PipelineConfig = PipelineConfig.production.copy(vadPadSec = SpeechCorpus.PadSec)
  private val OutCols = Seq("file", "host_id", "host_total_duration", "host_proportion")

  final case class Inc(out: DataFrame, keys: Seq[String], failed: Seq[(String, String)],
                       audioSec: Double)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val o = ctx.opts
    val seed = o("seed").toLong
    val (incs, secs, bad) = (o("increments").toInt, o("file-seconds").toInt, o("corrupt").toInt)
    val (corpus, genS) = ctx.time(SpeechCorpus.generate(seed, incs, secs, bad))
    ctx.genS = Seq(genS)
    val corpusDir = writeCorpus(ctx.work.resolve("speech/corpus"), corpus)
    val warmCorpus = SpeechCorpus.generate(seed + 1000003L, 1, secs, 1)
    val warmDir = writeCorpus(ctx.work.resolve("speech/warm"), warmCorpus)
    val prints = SpeechCorpus.prints
    if (ctx.trace) {
      val counted = CountedModel.install(new MockModels.MockVad()) &&
        CountedModel.install(new MockModels.MockEmbedder())
      require(counted, "a mock model was loaded before its counter was installed")
    }
    ctx.spans.paused = true
    val (_, warmS) = ctx.time {
      ctx.current("warmup")
      val root = ctx.work.resolve("speech/m_warm").toString
      (0 to warmCorpus.map(_.round).max).foreach { k =>
        val inc = increment(ctx, warmDir, warmCorpus.filter(_.round <= k).map(_.name), root, prints)
        ManifestSink.commit(inc.out, root, inc.keys)
      }
      spark.catalog.clearCache()
    }
    ctx.spans.paused = false
    ctx.warmupS = warmS
    if (ctx.trace) Layers.codecs(ctx, corpus)
    ctx.boundary("between")
    ctx.calibrate()
    val names = corpus.map(_.name)
    val cut = (0 until incs).map(k => corpus.filter(_.round <= k).map(_.name))
    val modelsBefore = CountedModel.snapshot
    val start = System.nanoTime()
    var pass = 0
    val walls = mutable.ArrayBuffer.empty[Double]
    while (morePasses(ctx, start, walls.toSeq)) {
      val root = ctx.work.resolve(s"speech/m$pass").toString
      val failed = mutable.ArrayBuffer.empty[(String, String)]
      System.gc()
      val ops = cut.zipWithIndex.map { case (arrived, k) =>
        ctx.op(pass, s"increment_$k") { op =>
          val t0 = System.nanoTime()
          val inc = increment(ctx, corpusDir, arrived, root, prints)
          ctx.spans("sources.commit")(ManifestSink.commit(inc.out, root, inc.keys))
          failed ++= inc.failed
          op.copy(execS = (System.nanoTime() - t0) / 1e9, storageMb = ctx.storageMb,
            extra = Map("audio_s" -> inc.audioSec))
        }
      }
      walls += ops.filter(_.ok).map(_.totalS).sum
      if (pass == 0) checkPass(ctx, corpus, root, failed.toSeq, names)
      spark.catalog.clearCache()
      ctx.calibrate()
      pass += 1
    }
    ctx.passWall = walls.toSeq
    for ((model, (items, failed)) <- CountedModel.snapshot) {
      val (i0, f0) = modelsBefore.getOrElse(model, (0L, 0L))
      ctx.tally(s"pipeline.inference_items.$model", items - i0)
      ctx.tally(s"pipeline.inference_failed.$model", failed - f0)
    }
    ctx.notes("passes") = pass.toString
    ctx.notes("audio_s_per_pass") = corpus.map(_.audioSec).sum.toString
    ctx.notes("corpus_mb") = (corpus.map(_.bytes.length.toLong).sum / 1048576d).toString
    checkComposition(ctx, corpusDir, corpus.filter(_.round == incs - 1).map(_.name), prints)
  }

  private def writeCorpus(dir: Path, items: Seq[SpeechCorpus.Item]): String = {
    Files.createDirectories(dir)
    items.foreach(i => Files.write(dir.resolve(i.name), i.bytes))
    dir.toString
  }

  private def payloads(spark: SparkSession, dir: String,
                       files: Seq[String]): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(dir)
      .select(regexp_extract(col("path"), "[^/]+$", 0).as("file"), col("content"))
      .join(files.toDF("file"), "file")
      .as[(String, Array[Byte])]
  }

  /** One increment: owed files → decode → pipeline. Untraced, the five
    * stages run composed (`runAll`); traced, stage by stage with each
    * stage materialized under its own span.
    */
  def increment(ctx: Ctx, dir: String, arrived: Seq[String], root: String,
                prints: Map[String, Array[Float]]): Inc = {
    val spark = ctx.spark
    import spark.implicits._
    val owed = ctx.spans("sources.remaining") {
      val done = if (Files.exists(Paths.get(root, "_manifest"))) ManifestSink.doneKeys(spark, root)
                 else Seq.empty[String].toDF("file")
      Incremental.remaining(arrived.toDF("file"), done, "file").as[String].collect().toSeq
    }
    val (decoded, decodedRows) = ctx.spans("pipeline.decode") {
      val d = WavAudio.decodeDatasetWithStatus(payloads(spark, dir, owed)).cache()
      (d, d.count())
    }
    val failed = decoded.filter(_.status == "failed").map(d => (d.file, d.error)).collect().toSeq
    // the decode model's status rows: every file it saw, and those it failed
    ctx.tally("pipeline.inference_items.wav_decode_status", decodedRows)
    ctx.tally("pipeline.inference_failed.wav_decode_status", failed.size)
    ctx.tally("pipeline.rows_out.decode", decodedRows - failed.size)
    val audio = decoded.filter(_.status == "completed")
      .map(d => AudioFile(d.file, d.sr, d.waveform))
    val audioSec = decoded.filter(_.status == "completed")
      .map(d => d.waveform.length.toDouble / d.sr).collect().sum
    val out = if (ctx.trace) stages(ctx, audio, prints) else composed(spark, audio, prints)
    Inc(out, owed, failed, audioSec)
  }

  def composed(spark: SparkSession, audio: Dataset[AudioFile],
               prints: Map[String, Array[Float]]): DataFrame =
    SpeechPipeline.runAll(spark, audio, prints, Cfg).select(OutCols.map(col): _*)

  def stages(ctx: Ctx, audio: Dataset[AudioFile], prints: Map[String, Array[Float]]): DataFrame = {
    val spark = ctx.spark
    def mat[T](name: String)(ds: => Dataset[T]): Dataset[T] = ctx.spans(s"pipeline.$name") {
      val d = ds.cache()
      val n = d.count()
      ctx.tally(s"pipeline.rows_out.$name", n)
      d
    }
    val vad = mat("vad")(SpeechPipeline.vadStage(audio, Cfg.vadPadSec))
    val single = mat("diarize")(SpeechPipeline.diarizeStage(vad, audio)._1)
    var emb: Dataset[(String, String, Double, Array[Float])] = null
    val merged = mat("rematch") {
      val (m, e) = SpeechPipeline.rematchStage(single, audio,
        minChunkSec = math.min(Cfg.rematchChunkMinSec, 0.2),
        mergedCapSec = Cfg.rematchMergedCapSec, minClusterRatio = Cfg.clusterSizeRatio,
        clusterSimThreshold = Cfg.clusterSimThreshold, softRescueThreshold = Cfg.softRescueThreshold)
      emb = e
      m
    }
    mat("hostmatch")(SpeechPipeline.hostMatchStage(spark, merged, emb, prints, Cfg.hostBudgetSec)
      .select(OutCols.map(col): _*)).toDF()
  }

  private def checkPass(ctx: Ctx, corpus: Seq[SpeechCorpus.Item], root: String,
                        failed: Seq[(String, String)], names: Seq[String]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val snap = ManifestSink.read(spark, root).select("file", "host_id").as[(String, String)]
      .collect().toSet
    val missed = corpus.filter(i => !i.corrupt && SpeechCorpus.Lossless(i.codec))
      .filterNot(i => snap.contains((i.name, i.host.get))).map(i => s"${i.name}:${i.host.get}")
    ctx.checks += Check("speech.hosts_matched", missed.isEmpty,
      if (missed.isEmpty) s"${snap.size} matches" else s"unmatched ${missed.mkString(",")}")
    val planted = corpus.count(_.corrupt)
    val wrong = failed.filterNot { case (f, _) => corpus.exists(i => i.name == f && i.corrupt) }
    ctx.checks += Check("speech.failed_rows", failed.size == planted && wrong.isEmpty,
      s"failed=${failed.size} planted=$planted unexpected=${wrong.mkString(";").take(300)}")
    val left = Incremental.remaining(names.toDF("file"), ManifestSink.doneKeys(spark, root), "file").count()
    ctx.checks += Check("speech.nothing_remaining", left == 0, s"remaining=$left")
    ctx.notes("failed_payloads") = failed.map(_._1).sorted.mkString(",")
    ctx.notes("manifest_bytes") = Files.list(Paths.get(root, "_manifest")).iterator().asScala
      .map(Files.size(_)).sum.toString
  }

  /** The composed plan and the stage-by-stage run agree on one increment. */
  private def checkComposition(ctx: Ctx, dir: String, files: Seq[String],
                               prints: Map[String, Array[Float]]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.current("check")
    val audio = WavAudio.decodeDatasetWithStatus(payloads(spark, dir, files))
      .filter(_.status == "completed").map(d => AudioFile(d.file, d.sr, d.waveform)).cache()
    def rows(df: DataFrame): Seq[(String, String, Double, Double)] =
      df.as[(String, String, Double, Double)].collect().toSeq.sorted
    val a = rows(composed(spark, audio, prints))
    val b = rows(stages(new Ctx(spark, ctx.opts, ctx.work, false), audio, prints))
    val same = a.size == b.size && a.zip(b).forall { case (x, y) =>
      x._1 == y._1 && x._2 == y._2 && math.abs(x._3 - y._3) <= 1e-9 * math.abs(x._3) &&
        math.abs(x._4 - y._4) <= 1e-12
    }
    ctx.checks += Check("speech.composed_equals_stages", same && a.nonEmpty,
      s"composed=${a.size} stages=${b.size} rows")
    spark.catalog.clearCache()
  }
}
