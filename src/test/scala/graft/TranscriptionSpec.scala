package graft

import org.apache.spark.sql.functions._

import graft.model._
import graft.pipeline.Transcription
import graft.sources.JsonIO

/** ASR/alignment/DNSMOS relational wrappers (M7-M10) with mock kernels. */
class TranscriptionSpec extends SparkSpec {
  import spark.implicits._

  private val sr = 100

  private def audio(file: String, amp: Float): AudioFile =
    AudioFile(file, sr, Array.fill(5 * sr)(amp))

  test("asrStage slices segments and emits deterministic transcripts") {
    val segs = Seq(
      SpeakerSegment("a", 0.0, 2.0, "s0"),
      SpeakerSegment("a", 3.0, 4.0, "s1"),
      SpeakerSegment("no_audio", 0.0, 1.0, "s0")).toDS()
    val rows = Transcription.asrStage(segs, Seq(audio("a", 0.9f)).toDS())
      .collect().sortBy(_.start)
    assert(rows.length == 2) // the segment whose file has no audio is dropped
    assert(rows(0).text == "loud loud" && rows(0).language == "en")
    assert(rows(1).text == "loud" && rows(1).speaker == "s1")
  }

  test("alignStage joins the sidecar and spreads word spans linearly") {
    val segs = Seq(SpeakerSegment("a", 1.0, 3.0, "s0")).toDS()
    val asr = Transcription.asrStage(segs, Seq(audio("a", 0.9f)).toDS())
    val transcripts = Seq(("a", "ref text here")).toDF("file", "transcript")
    val spans = Transcription.alignStage(asr, transcripts)
      .orderBy("w_start").collect()
    assert(spans.length == 2) // "loud loud"
    assert(spans(0).getAs[Double]("w_start") == 1.0)
    assert(spans(0).getAs[Double]("w_end") == 2.0)
    assert(spans(1).getAs[Double]("w_end") == 3.0)
    // sidecar join is inner: files without transcripts drop (J7 semantics)
    val none = Transcription.alignStage(asr, Seq(("zz", "x")).toDF("file", "transcript"))
    assert(none.count() == 0)
  }

  test("dnsmosWindows pads short clips by wraparound and hops long ones") {
    // 5 s clip, 2 s window, 1 s hop -> 4 full windows
    val wins = Transcription.dnsmosWindows(Seq(audio("a", 0.5f)).toDS(), 2.0, 1.0)
    assert(wins.count() == 4)
    assert(wins.select(size(col("win"))).distinct().head.getInt(0) == 2 * sr)
    // 0.5 s clip padded to one full 2 s window by repetition
    val short = AudioFile("b", sr, Array.fill(sr / 2)(0.3f))
    val wshort = Transcription.dnsmosWindows(Seq(short).toDS(), 2.0, 1.0)
    assert(wshort.count() == 1)
    assert(wshort.select(size(col("win"))).head.getInt(0) == 2 * sr)
  }

  test("dnsmosScores aggregates per-clip means over hops (A9)") {
    val wins = Transcription.dnsmosWindows(
      Seq(audio("a", 0.5f), audio("b", 0.1f)).toDS(), 2.0, 1.0)
    val scores = Transcription.dnsmosScores(wins).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(scores == Map("a" -> 4L, "b" -> 4L))
  }

  test("writeStageTable partitions by the stage key (partition pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stage").resolve("t")
    val df = Seq(("a", "vad", 1L), ("a", "diar", 2L), ("b", "vad", 3L))
      .toDF("file", "stage", "v")
    JsonIO.writeStageTable(df, dir.toString, "stage")
    val back = JsonIO.readStageTable(spark, dir.toString)
    assert(back.filter(col("stage") === "vad").count() == 2)
    // partition dirs exist -> pruning-capable layout
    assert(java.nio.file.Files.exists(dir.resolve("stage=vad")))
  }
}
