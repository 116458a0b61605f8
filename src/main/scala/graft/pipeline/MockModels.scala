package graft.pipeline

import graft.model._

/** Deterministic mock models standing in for the reference's ML kernels
  * (SURVEY §2.9 M1-M10). Each mirrors the real model's *signature and
  * relational contract* exactly — input/output shapes, batching, chunk
  * offsets — with a trivial deterministic kernel, so the surrounding
  * algebra is testable end-to-end without GPUs or weights. Swapping in a
  * real ONNX session changes only the `predictBatch` body.
  */
object MockModels {

  /** M1 — VAD (`silero_vad.py:17-112`): emit [start,end] spans where the
    * absolute amplitude exceeds a threshold for a minimum run length.
    */
  final class MockVad(threshold: Float = 0.1f, minRunSec: Double = 0.05)
      extends BatchModel[AudioFile, Seq[Segment]] {
    val name = "mock_vad"
    def predictBatch(xs: Seq[AudioFile]): Seq[Seq[Segment]] = xs.map { a =>
      val minRun = math.max(1, (minRunSec * a.sr).toInt)
      val out = scala.collection.mutable.ArrayBuffer.empty[Segment]
      var runStart = -1
      var i = 0
      while (i <= a.waveform.length) {
        val active = i < a.waveform.length && math.abs(a.waveform(i)) > threshold
        if (active && runStart < 0) runStart = i
        else if (!active && runStart >= 0) {
          if (i - runStart >= minRun)
            out += Segment(a.file, runStart.toDouble / a.sr, i.toDouble / a.sr)
          runStart = -1
        }
        i += 1
      }
      out.toSeq
    }
  }

  /** M2 — the per-STFT-frame mock separation kernel
    * (`separate_fast.py:228-234` runs the real model per frame batch).
    * Linear per sample, so it commutes with the W5 frame/margin algebra
    * — exactly the property `SpeechPipeline.separateStage`'s test pins:
    * composed output == direct kernel on the unframed waveform.
    */
  final class MockFrameSeparator extends BatchModel[StftFrame, StftFrame] {
    val name = "mock_frame_separator"
    def predictBatch(xs: Seq[StftFrame]): Seq[StftFrame] =
      xs.map(f => f.copy(samples = f.samples.map(_ * 0.8f)))
  }

  /** M4 — speaker embedding (`speaker_rematch.py:71-88`): 16-dim
    * deterministic signature from banded mean energies; near-identical
    * audio gives near-identical vectors (cosine-meaningful for tests).
    */
  final class MockEmbedder(dim: Int = 16)
      extends BatchModel[(SpeakerSegment, Array[Float]), (SpeakerSegment, Array[Float])] {
    val name = "mock_embedder"
    def predictBatch(xs: Seq[(SpeakerSegment, Array[Float])]): Seq[(SpeakerSegment, Array[Float])] =
      xs.map { case (seg, wave) =>
        val emb = new Array[Float](dim)
        if (wave.nonEmpty) {
          var i = 0
          while (i < wave.length) {
            emb(i % dim) += math.abs(wave(i))
            i += 1
          }
          val n = math.sqrt(emb.map(x => x.toDouble * x).sum).toFloat
          if (n > 0) { var j = 0; while (j < dim) { emb(j) /= n; j += 1 } }
        }
        (seg, emb)
      }
  }

  /** M6 — speaker verification (`host_rematch.py:111-134`): cosine of
    * mock embeddings, accept at > 0.5 (P8).
    */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0d; var na = 0d; var nb = 0d; var i = 0
    while (i < a.length && i < b.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0d else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** M10 — DNSMOS (`dnsmos.py:27-174`): three scores from a polynomial
    * of the window's mean energy (the real model's polyfit post-process
    * shape, F3).
    */
  final class MockDnsmos extends BatchModel[(String, Array[Float]), (String, Double, Double, Double)] {
    val name = "mock_dnsmos"
    private def poly(x: Double, cs: Seq[Double]): Double =
      cs.tail.foldLeft(cs.head)((acc, c) => acc * x + c)
    def predictBatch(xs: Seq[(String, Array[Float])]): Seq[(String, Double, Double, Double)] =
      xs.map { case (key, w) =>
        val e = if (w.isEmpty) 0d else w.map(x => x.toDouble * x).sum / w.length
        (key,
          poly(e, Seq(-0.06, 1.7, 0.2)),
          poly(e, Seq(0.04, 1.1, 0.8)),
          poly(e, Seq(-0.01, 0.9, 1.2)))
      }
  }
}
