package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

import graft.model._

/** The transcription surface (reference stage 5 library modules): Whisper
  * ASR over precomputed segments (M7, `whisper_asr.py:90-190`), language
  * detection (M8, `:61-88`), CTC forced alignment against sidecar
  * transcripts (M9, `alignment.py:18-72`), and DNSMOS scoring (M10,
  * `dnsmos.py:27-174`). The model kernels are deterministic mocks; the
  * relational structure around them — segment slicing (F7), sidecar joins
  * (J7/S11), wraparound-padded hop windows (W4), per-clip means (A9) —
  * is the real deliverable and is exercised end-to-end.
  */
object Transcription {

  final case class AsrRow(file: String, start: Double, end: Double,
      speaker: String, text: String, language: String)

  /** M7+M8 — mock batched ASR: slices each segment's waveform (F7) and
    * emits a deterministic "transcript" derived from the slice's energy
    * profile; language from a whole-file energy heuristic (M8's sampling
    * made deterministic, cf. the unseeded sampling quirk
    * `whisper_asr.py:73-75` — SURVEY §7.4.2 says fix it).
    */
  def asrStage(segments: Dataset[SpeakerSegment], audio: Dataset[AudioFile])
      : Dataset[AsrRow] = {
    import segments.sparkSession.implicits._
    InferenceOp.mapBatched[(SpeakerSegment, Array[Float]), AsrRow](
      slices(segments, audio)((seg, _, w) => (seg, w)), "mock_asr", () => new MockAsr(),
      batchSize = 8)
  }

  /** Each segment with its file's sample rate and waveform slice (F7),
    * paired per file by [[SpeechPipeline.perFile]]: a waveform moves once
    * per file, and segments of a file with no audio are dropped.
    */
  private def slices[U: Encoder](segments: Dataset[SpeakerSegment], audio: Dataset[AudioFile])
      (row: (SpeakerSegment, Int, Array[Float]) => U): Dataset[U] =
    SpeechPipeline.perFile(segments, (s: SpeakerSegment) => s.file, audio) { (a, segs) =>
      segs.map(s => row(s, a.sr, SpeechKernels.slice(a, s.start, s.end)))
    }

  /** [[AsrRow]] plus the S10 status/error pair for the external-service
    * path ([[graft.model.DecodedAudio]] convention).
    */
  final case class ServiceAsrRow(file: String, start: Double, end: Double,
      speaker: String, text: String, language: String, status: String, error: String)

  /** M7, EXTERNAL-SERVICE variant (SURVEY §7.4.4 — Whisper has no JVM
    * runtime): [[asrStage]]'s segment-slice batching with the transcript
    * fetched from a batch HTTP service via [[HttpInference.mapService]].
    * Wire protocol: request lines
    * `file TAB start TAB end TAB speaker TAB sr TAB base64(f32le wave)`,
    * response lines echoing the identity fields plus `text TAB language`
    * one per input. Segments the service cannot transcribe after retries
    * become `status="failed"` rows (empty text) instead of killing the
    * job; filter on status before [[alignStage]].
    */
  def asrStageService(segments: Dataset[SpeakerSegment], audio: Dataset[AudioFile],
                      cfg: HttpServiceConfig): Dataset[ServiceAsrRow] = {
    import segments.sparkSession.implicits._
    HttpInference.mapService[(SpeakerSegment, Int, Array[Float]), ServiceAsrRow](
      slices(segments, audio)((seg, sr, w) => (seg, sr, w)), cfg,
      encode = { case (seg, sr, w) =>
        s"${seg.file}\t${seg.start}\t${seg.end}\t${seg.speaker}\t$sr\t${HttpInference.b64(w)}" },
      decode = f => ServiceAsrRow(f(0), f(1).toDouble, f(2).toDouble, f(3), f(4), f(5),
        "completed", ""),
      onFailure = (x, err) => ServiceAsrRow(x._1.file, x._1.start, x._1.end,
        x._1.speaker, "", "", "failed", err))
  }

  final class MockAsr extends BatchModel[(SpeakerSegment, Array[Float]), AsrRow] {
    val name = "mock_asr"
    def predictBatch(xs: Seq[(SpeakerSegment, Array[Float])]): Seq[AsrRow] =
      xs.map { case (seg, w) =>
        val mean = if (w.isEmpty) 0d else w.map(x => math.abs(x.toDouble)).sum / w.length
        val nWords = math.max(1, (seg.end - seg.start).toInt)
        val word = if (mean > 0.5) "loud" else "soft"
        AsrRow(seg.file, seg.start, seg.end, seg.speaker,
          Seq.fill(nWords)(word).mkString(" "),
          if (mean > 0.5) "en" else "xx")
      }
  }

  /** M9 — forced alignment: join the per-file sidecar transcript (S11/J7,
    * key = file basename) and distribute word spans uniformly over each
    * segment — the relational contract of CTC alignment with a linear
    * mock time model.
    */
  def alignStage(asr: Dataset[AsrRow], transcripts: DataFrame): DataFrame = {
    import asr.sparkSession.implicits._
    asr.toDF().join(transcripts, Seq("file"), "inner")
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")))
      .withColumn("w_idx", explode(sequence(lit(0), col("n_words") - 1)))
      .select(col("file"), col("speaker"),
        element_at(col("words"), col("w_idx") + 1).as("word"),
        (col("start") + (col("end") - col("start")) * col("w_idx") / col("n_words"))
          .as("w_start"),
        (col("start") + (col("end") - col("start")) * (col("w_idx") + 1) / col("n_words"))
          .as("w_end"))
  }

  /** W4 — DNSMOS hop windows with wraparound pad (`dnsmos.py:130-147`):
    * repeat-append the waveform until it reaches `winSec`, then 1-s-hop
    * windows of `winSec`, dropping the trailing short window. Array-HOF
    * form: `flatten(array_repeat(...))` + `slice` — no UDF.
    */
  def dnsmosWindows(audio: Dataset[AudioFile], winSec: Double, hopSec: Double)
      : DataFrame = {
    import audio.sparkSession.implicits._
    val df = audio.map(a => (a.file, a.sr, a.waveform)).toDF("file", "sr", "waveform")
    val winLen = (col("sr") * winSec).cast("int")
    val hopLen = (col("sr") * hopSec).cast("int")
    val repeats = ceil(winLen.cast("double") / size(col("waveform"))).cast("int")
    df.withColumn("padded",
        when(size(col("waveform")) < winLen,
          slice(flatten(array_repeat(col("waveform"), greatest(repeats, lit(1)))),
            lit(1), winLen))
          .otherwise(col("waveform")))
      .withColumn("n_hops",
        greatest(lit(1), ((size(col("padded")) - winLen) / hopLen + 1).cast("int")))
      .withColumn("hop", explode(sequence(lit(0), col("n_hops") - 1)))
      .select(col("file"), col("sr"), col("hop"),
        slice(col("padded"), col("hop") * hopLen + 1, winLen).as("win"))
  }

  /** M10+A9 — DNSMOS per hop window, then per-clip means
    * (`dnsmos.py:162-173` one wide row per clip). The kernel is
    * pluggable behind the inference shell: the deterministic mock by
    * default, an [[Onnx.OnnxDnsmos]] session (real or recorded) when a
    * provider is wired — identical relational shape either way.
    */
  def dnsmosScores(windows: DataFrame,
      modelName: String = "mock_dnsmos",
      load: () => BatchModel[(String, Array[Float]), (String, Double, Double, Double)] =
        () => new MockModels.MockDnsmos(),
      batchSize: Int = 16): DataFrame = {
    import windows.sparkSession.implicits._
    val scored = InferenceOp.mapBatched[(String, Array[Float]), (String, Double, Double, Double)](
      windows.select(col("file"), col("win")).as[(String, Array[Float])],
      modelName, load, batchSize)
    scored.toDF("file", "ovrl_raw", "sig_raw", "bak_raw")
      .groupBy(col("file"))
      .agg(count(lit(1)).as("num_hops"),
        avg(col("ovrl_raw")).as("OVRL"), avg(col("sig_raw")).as("SIG"),
        avg(col("bak_raw")).as("BAK"))
  }
}
