package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.ops.SegmentAlgebra

/** The reference's five-stage pipeline (§3 traces) without the
  * process/env hops of `data_pipeline.sh`. Every stage is per file, so
  * [[runAll]] is ONE narrow pass over the audio: each partition runs the
  * stages' [[SpeechKernels]] file by file on the waveform in place — no
  * shuffle, no broadcast, one Spark job per action — and scales
  * horizontally across files. Each stage is also callable on its own
  * (`vadStage` … `hostMatchStage`) as a thin Dataset wrapper over the
  * same kernel; a wrapper handed spans and audio as separate Datasets
  * pairs them per file with one `groupByKey(file).cogroup`, so a
  * waveform moves once per file, never once per span.
  *
  * Stage map (reference → here):
  *  1. VAD (`vad_multi.py`)                 → [[vadStage]]
  *  2. separation filter (`separation_filter.py`) → [[separationEconomyMerge]] + [[separateStage]]
  *  3. diarization (`diarization.py`)       → [[diarizeStage]] (mock) + sweep line
  *  4. speaker rematch (`speaker_rematch.py`) → [[rematchStage]]
  *  5. host match (`host_rematch.py`)       → [[hostMatchStage]]
  */
object SpeechPipeline {

  private val MockVadName = "mock_vad"
  private val VadBatch = 4

  private def newMockVad(): SpeechKernels.Vad = new MockModels.MockVad()

  /** This executor's mock embedder, typed by its trait so a wrapper put
    * in the [[ModelCache]] under the same name serves it.
    */
  private def mockEmbedder: SpeechKernels.Embedder =
    ModelCache.getOrCreate[SpeechKernels.Embedder]("mock_embedder")(new MockModels.MockEmbedder())

  /** The whole reference pipeline (stages 1-5) as one composed run under
    * a single config (the `data_pipeline.sh` orchestration without its
    * process/env hops): returns the per-host match rollup, the columns
    * `file`, `host_id`, `host_total_duration`, `host_proportion` and
    * `matched_speakers` (speaker, score).
    *
    * Contract: one `audio` row is one whole file — every stage runs per
    * row, so a file split over two rows would be two files. Every
    * producer meets it: `binaryFile` scans (one row per path), the test
    * fixtures, and the `m1_vad_gate` query's distinct ids.
    */
  def runAll(spark: SparkSession, audio: Dataset[AudioFile],
             hostPrints: Map[String, Array[Float]],
             cfg: PipelineConfig = PipelineConfig.production): DataFrame = {
    import spark.implicits._
    audio.mapPartitions { files =>
      val vad = ModelCache.getOrCreate[SpeechKernels.Vad](MockVadName)(newMockVad())
      val embedder = mockEmbedder
      vadBatched(files, vad, cfg.vadPadSec).flatMap { case (a, spans) =>
        val single = SpeechKernels.diarize(a, spans).filter(_.speakers.length == 1)
        val chunks = SpeechKernels.rematch(a, single, embedder,
          minChunkSec = math.min(cfg.rematchChunkMinSec, 0.2),
          mergedCapSec = cfg.rematchMergedCapSec,
          minClusterRatio = cfg.clusterSizeRatio,
          simThreshold = cfg.clusterSimThreshold,
          softThreshold = cfg.softRescueThreshold)
        SpeechKernels.hostMatch(a.file, chunks.map(_._1),
          chunks.map { case (seg, emb) => (seg.speaker, seg.end - seg.start, emb) },
          hostPrints, cfg.hostBudgetSec)
      }
    }.toDF()
  }

  /** VAD over one partition's files in model batches of [[VadBatch]]:
    * each file with its padded, merged spans.
    */
  private def vadBatched(files: Iterator[AudioFile], model: SpeechKernels.Vad,
                         padSec: Double): Iterator[(AudioFile, IndexedSeq[Segment])] =
    files.grouped(VadBatch).flatMap { batch =>
      batch.iterator.zip(model.predictBatch(batch).iterator)
        .map { case (a, raw) => (a, SpeechKernels.vad(a, raw, padSec)) }
    }

  /** Pairs each file's `rows` with that file's waveform through one
    * `groupByKey(file).cogroup` and applies `f` per file. Rows of a file
    * with no audio are dropped, as an inner join would.
    */
  private[pipeline] def perFile[T, U: Encoder](rows: Dataset[T], file: T => String,
      audio: Dataset[AudioFile])(f: (AudioFile, IndexedSeq[T]) => IndexedSeq[U]): Dataset[U] = {
    import audio.sparkSession.implicits._
    rows.groupByKey(file).cogroup(audio.groupByKey(_.file)) { (_, rs, as) =>
      if (as.hasNext) f(as.next(), rs.toIndexedSeq) else Nil
    }
  }

  /** Stage 1 — VAD: mock inference, pad+clamp (P1, `vad_multi.py:33-35`),
    * zero-gap merge (W1 with interval=0, cap=∞ — `vad_multi.py:37`).
    */
  def vadStage(audio: Dataset[AudioFile], padSec: Double = 0.1): Dataset[Segment] =
    vadStageWith(audio, MockVadName, () => newMockVad(), padSec)

  /** M1 — the VAD stage over the ONNX Silero operator ([[Onnx
    * .OnnxSileroVad]]): the same pad+clamp and zero-gap merge as
    * [[vadStage]], with the model injected via a [[Onnx
    * .SessionProvider]] — a real runtime jar OR a recorded-fixture
    * session drops in with zero pipeline change (PipelineSpec replays
    * a full-file pass bit-exactly against recorded fixtures).
    */
  def vadStageOnnx(audio: Dataset[AudioFile], provider: Onnx.SessionProvider,
                   padSec: Double = 0.1): Dataset[Segment] =
    vadStageWith(audio, s"onnx_vad:${provider.name}",
      () => new Onnx.OnnxSileroVad(provider), padSec)

  /** Shared VAD stage body over any segment-emitting batch model: one
    * narrow pass, the model held once per executor in [[ModelCache]].
    */
  def vadStageWith(audio: Dataset[AudioFile], modelName: String,
      load: () => BatchModel[AudioFile, Seq[Segment]],
      padSec: Double): Dataset[Segment] = {
    import audio.sparkSession.implicits._
    audio.mapPartitions { files =>
      vadBatched(files, ModelCache.getOrCreate(modelName)(load()), padSec).flatMap(_._2)
    }
  }

  /** Stage 2a — separation-economy merge (X3, `separation_filter.py:167-188`):
    * coalesce VAD spans into ≤`maxDur` chunks, skipping gaps > `gap`, so
    * the expensive model runs once per chunk, not per span.
    */
  def separationEconomyMerge(vad: Dataset[Segment], gap: Double = 5d,
                             maxDur: Double = 60d): Dataset[MergedSegment] =
    SegmentAlgebra.sessionizeCapped(vad, gap, maxDur)

  /** Stage 2b — assign each VAD span to the separation chunk containing
    * it (J1, `separation_filter.py:221-236`), via the custom sorted-merge
    * operator (String file keys, times scaled to exact integer micros for
    * its LongType bound contract). Output: one row per span with its
    * chunk's bounds.
    */
  def assignToChunks(vad: Dataset[Segment], chunks: Dataset[MergedSegment]): DataFrame = {
    val segs = vad.toDF()
      .select(col("file"),
        round(col("start") * 1e6d).cast("long").as("s_us"),
        round(col("end") * 1e6d).cast("long").as("e_us"))
    val ch = chunks.toDF()
      .select(col("file").as("c_file"),
        round(col("start") * 1e6d).cast("long").as("chunk_s_us"),
        round(col("end") * 1e6d).cast("long").as("chunk_e_us"))
    graft.plans.ContainmentJoin.sortedContainmentJoin(
        segs, ch, "file", "c_file", "s_us", "e_us", "chunk_s_us", "chunk_e_us")
      .select(col("file"),
        (col("s_us").cast("double") / 1e6d).as("start"),
        (col("e_us").cast("double") / 1e6d).as("end"),
        (col("chunk_s_us").cast("double") / 1e6d).as("chunk_start"),
        (col("chunk_e_us").cast("double") / 1e6d).as("chunk_end"))
  }

  /** W5 — STFT inference framing of every file: [[SpeechKernels.stftFrames]]
    * in a flatMap, so per-task state is one frame.
    */
  def stftFrames(audio: Dataset[AudioFile], chunkSize: Int, nFft: Int)
      : Dataset[StftFrame] = {
    import audio.sparkSession.implicits._
    audio.flatMap(a => SpeechKernels.stftFrames(a, chunkSize, nFft))
  }

  /** W5 — STFT frame reassembly: each file's frames grouped and handed to
    * [[SpeechKernels.stftReassemble]], the exact inverse of [[stftFrames]]
    * (property-tested in PipelineSpec).
    */
  def stftReassemble(frames: Dataset[StftFrame], chunkSize: Int, nFft: Int)
      : Dataset[AudioFile] = {
    import frames.sparkSession.implicits._
    frames.groupByKey(f => (f.file, f.sr)).mapGroups { (key, it) =>
      AudioFile(key._1, key._2, SpeechKernels.stftReassemble(it, chunkSize, nFft))
    }
  }

  /** Stage 2c — separation per file: [[SpeechKernels.separate]] (margin
    * chunks → STFT frames → the per-frame model kernel, mock here and an
    * [[Onnx]] session at production → frame and margin reassembly) gives
    * the vocal stem, and the F9 residual `nonvocal = mixture − vocal`
    * (`separation_filter.py:117`) is taken from the same pass. A linear
    * per-sample kernel commutes with the window algebra — the PipelineSpec
    * test asserts the result equals the kernel applied directly, which is
    * the transparency the reference's trim/pad arithmetic promises.
    */
  def separateStage(audio: Dataset[AudioFile], chunkSamples: Int = 4096,
                    marginSamples: Int = 512, chunkSize: Int = 1024,
                    nFft: Int = 512): (Dataset[AudioFile], Dataset[AudioFile]) = {
    import audio.sparkSession.implicits._
    val stems = audio.mapPartitions { files =>
      val model = ModelCache.getOrCreate[SpeechKernels.Separator]("mock_frame_separator")(
        new MockModels.MockFrameSeparator())
      files.map { a =>
        val v = SpeechKernels.separate(a, model, chunkSamples, marginSamples, chunkSize, nFft)
        (AudioFile(a.file, a.sr, v),
          AudioFile(a.file, a.sr, Array.tabulate(v.length)(i => a.waveform(i) - v(i))))
      }
    }
    (stems.map(_._1), stems.map(_._2))
  }

  /** Stage 3 — mock diarization: assign a speaker per VAD span from its
    * peak amplitude, then resolve overlaps with the sweep line (J8) and
    * split single vs overlapping (U3, `diarization.py:61-63`).
    */
  def diarizeStage(vad: Dataset[Segment], audio: Dataset[AudioFile])
      : (Dataset[ActiveInterval], Dataset[ActiveInterval]) = {
    import vad.sparkSession.implicits._
    val active = perFile(vad, (s: Segment) => s.file, audio)(SpeechKernels.diarize)
    (active.filter(a => a.speakers.length == 1),
      active.filter(a => a.speakers.length > 1))
  }

  /** One diarization answer from the external service, with the S10
    * status/error pair ([[graft.model.DecodedAudio]] convention).
    */
  final case class ServiceSpeakerRow(file: String, start: Double, end: Double,
      speaker: String, status: String, error: String)

  /** Stage 3, EXTERNAL-SERVICE variant (SURVEY §7.4.4 — Sortformer has
    * no JVM runtime): the same relational shell as [[diarizeStage]] with
    * the per-span speaker label fetched from a batch HTTP service via
    * [[HttpInference.mapService]]. Wire protocol: request lines
    * `file TAB start TAB end TAB sr TAB base64(f32le waveform)`, response
    * lines echoing `file TAB start TAB end TAB speaker` one per input.
    * Spans the service cannot label after retries become
    * `status="failed"` rows routed OUT of the sweep line (returned third)
    * — fault isolation, never job death.
    */
  def diarizeStageService(vad: Dataset[Segment], audio: Dataset[AudioFile],
                          cfg: HttpServiceConfig)
      : (Dataset[ActiveInterval], Dataset[ActiveInterval], Dataset[ServiceSpeakerRow]) = {
    import vad.sparkSession.implicits._
    val withWave = perFile(vad, (s: Segment) => s.file, audio) { (a, spans) =>
      spans.map(s => (a.file, s.start, s.end, a.sr, SpeechKernels.slice(a, s.start, s.end)))
    }
    val rows = HttpInference.mapService[(String, Double, Double, Int, Array[Float]), ServiceSpeakerRow](
      withWave, cfg,
      encode = { case (f, s, e, sr, w) => s"$f\t$s\t$e\t$sr\t${HttpInference.b64(w)}" },
      decode = f => ServiceSpeakerRow(f(0), f(1).toDouble, f(2).toDouble, f(3), "completed", ""),
      onFailure = (x, err) => ServiceSpeakerRow(x._1, x._2, x._3, "failed", "failed", err))
      .cache() // one service pass feeds both the ok and failed splits
    val ok = rows.filter(_.status == "completed")
      .map(r => SpeakerSegment(r.file, r.start, r.end, r.speaker))
    val failed = rows.filter(_.status == "failed")
    val active = SegmentAlgebra.sweepLineActiveSets(ok)
    (active.filter(a => a.speakers.length == 1),
      active.filter(a => a.speakers.length > 1), failed)
  }

  /** Stage 4 — speaker rematch (`speaker_rematch.py`): W2 speaker-change
    * merge, P4/P5 duration filters, mock embeddings, then the M5 global
    * re-clustering ([[Clustering.clusterOne]] per file, the UMAP→HDBSCAN
    * substitute with the A12 floor and the ≥ 0.2 soft rescue) that
    * assigns every chunk its GLOBAL speaker label — noise chunks keep the
    * reference's −1 posture as label "noise".
    *
    * Returns (globally-relabeled chunks, embedding table keyed by the
    * global labels) — both feed [[hostMatchStage]]; the relabeled chunks
    * also feed [[assignGlobalSpeakerIds]] for the J5 remap trace.
    */
  def rematchStage(single: Dataset[ActiveInterval], audio: Dataset[AudioFile],
                   minChunkSec: Double = 0.2, mergedCapSec: Double = 20d,
                   minClusterRatio: Double = 0.04,
                   clusterSimThreshold: Double = 0.75,
                   softRescueThreshold: Double = 0.2)
      : (Dataset[SpeakerSegment], Dataset[(String, String, Double, Array[Float])]) = {
    import single.sparkSession.implicits._
    val clustered = perFile(single, (x: ActiveInterval) => x.file, audio) { (a, ivs) =>
      SpeechKernels.rematch(a, ivs, mockEmbedder, minChunkSec, mergedCapSec,
        minClusterRatio, clusterSimThreshold, softRescueThreshold)
    }
    relabeledAndEmbTable(clustered)
  }

  /** Splits clustered chunks into (relabeled chunks, embedding table
    * keyed by the global labels), materialized once: both outputs derive
    * from it, and consumers racing a cold cache would each rerun
    * inference and clustering.
    */
  private def relabeledAndEmbTable(clustered: Dataset[(SpeakerSegment, Array[Float])])
      : (Dataset[SpeakerSegment], Dataset[(String, String, Double, Array[Float])]) = {
    import clustered.sparkSession.implicits._
    clustered.cache()
    clustered.count()
    val relabeled = clustered.map(_._1)
    val embTable = clustered.map { case (seg, emb) =>
      (seg.file, seg.speaker, seg.end - seg.start, emb)
    }
    (relabeled, embTable)
  }

  /** One embedding answer from the external service, with the S10
    * status/error pair. `emb` is empty on the failed rows.
    */
  final case class ServiceEmbedRow(file: String, start: Double, end: Double,
      speaker: String, emb: Array[Float], status: String, error: String)

  /** Stage 4, EXTERNAL-SERVICE variant (SURVEY §7.4.4 — ECAPA has no
    * JVM runtime): [[rematchStage]] with the M4 chunk embedding fetched
    * from a batch HTTP service via [[HttpInference.mapService]], then
    * the SAME M5 clustering kernel. Wire protocol: request lines
    * `file TAB start TAB end TAB speaker TAB base64(f32le waveform)`,
    * response lines echoing the identity fields with
    * `base64(f32le embedding)` in place of the waveform (both base64
    * legs are bit-lossless, so service ≡ mock exactly when the service
    * runs the mock formula). Chunks the service cannot embed after
    * retries become `status="failed"` rows returned third and EXCLUDED
    * from clustering — an unembedded chunk cannot cluster; it exits as
    * an S10 failure row, never job death and never a fabricated vector.
    */
  def rematchStageService(single: Dataset[ActiveInterval], audio: Dataset[AudioFile],
                          cfg: HttpServiceConfig,
                          minChunkSec: Double = 0.2, mergedCapSec: Double = 20d,
                          minClusterRatio: Double = 0.04,
                          clusterSimThreshold: Double = 0.75,
                          softRescueThreshold: Double = 0.2)
      : (Dataset[SpeakerSegment], Dataset[(String, String, Double, Array[Float])],
         Dataset[ServiceEmbedRow]) = {
    import single.sparkSession.implicits._
    val withWave = perFile(single, (x: ActiveInterval) => x.file, audio) { (a, ivs) =>
      SpeechKernels.chunkSlices(a, ivs, minChunkSec, mergedCapSec)
    }
    val rows = HttpInference.mapService[(SpeakerSegment, Array[Float]), ServiceEmbedRow](
      withWave, cfg,
      encode = { case (seg, w) =>
        s"${seg.file}\t${seg.start}\t${seg.end}\t${seg.speaker}\t${HttpInference.b64(w)}" },
      decode = f => ServiceEmbedRow(f(0), f(1).toDouble, f(2).toDouble, f(3),
        HttpInference.unb64(f(4)), "completed", ""),
      onFailure = (x, err) => ServiceEmbedRow(x._1.file, x._1.start, x._1.end,
        x._1.speaker, Array.emptyFloatArray, "failed", err))
      .cache() // one service pass feeds both the ok and failed splits
    val clustered = rows.filter(_.status == "completed")
      .map(r => (SpeakerSegment(r.file, r.start, r.end, r.speaker), r.emb))
      .groupByKey(_._1.file)
      .flatMapGroups { (_, it) =>
        SpeechKernels.cluster(it.toIndexedSeq, minClusterRatio, clusterSimThreshold,
          softRescueThreshold)
      }
    val (relabeled, embTable) = relabeledAndEmbTable(clustered)
    (relabeled, embTable, rows.filter(_.status == "failed"))
  }

  /** Stage 4b — the local→global remap trace (A6+J3+J5,
    * `speaker_rematch.py:211-261`): longest segment per LOCAL speaker →
    * max-overlap argmax against the globally-labeled segments → mapping
    * table → relabel every original segment, dropping locals with no
    * mapping (the reference's `continue`). Returns (relabeled originals,
    * the `speaker_mapping` artifact).
    */
  def assignGlobalSpeakerIds(original: Dataset[SpeakerSegment],
                             global: Dataset[SpeakerSegment]): (DataFrame, DataFrame) = {
    val o = original.toDF()
    val g = global.toDF()
      .select(col("file"), col("start").as("g_start"), col("end").as("g_end"),
        col("speaker").as("g_speaker"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("file"), col("speaker"))
      .orderBy((col("end") - col("start")).desc, col("start"), col("end"))
    val longest = o.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val mapping = graft.ops.SegmentOps.maxOverlapJoin(
        longest, g, "file", "speaker", "g_speaker",
        "start", "end", "g_start", "g_end")
      .select(col("l.file").as("file"), col("l.speaker").as("local_speaker"),
        col("r.g_speaker").as("global_speaker"))
    // no broadcast hint: the mapping scales with #files × #speakers, so
    // let AQE broadcast it only while it is actually small
    val relabeled = o
      .join(mapping,
        o("file") === mapping("file") && o("speaker") === mapping("local_speaker"))
      .select(o("file"), o("start"), o("end"),
        mapping("global_speaker").as("speaker"))
    (relabeled, mapping)
  }

  /** Stage 5 — host match: per-speaker duration rollup (A4), longest-first
    * 180 s budget (W6/O5), mock verification score (M6), threshold accept
    * (P8), per-host rollup with proportions (A10) — [[SpeechKernels.hostMatch]]
    * over each file's chunks and embedding rows, paired by one cogroup.
    */
  def hostMatchStage(spark: SparkSession, merged: Dataset[SpeakerSegment],
                     embTable: Dataset[(String, String, Double, Array[Float])],
                     hostPrints: Map[String, Array[Float]],
                     budgetSec: Double = 180d): DataFrame = {
    import spark.implicits._
    merged.groupByKey(_.file).cogroup(embTable.groupByKey(_._1)) { (file, segs, embs) =>
      SpeechKernels.hostMatch(file, segs.toIndexedSeq,
        embs.map(t => (t._2, t._3, t._4)).toIndexedSeq, hostPrints, budgetSec)
    }.toDF()
  }
}
