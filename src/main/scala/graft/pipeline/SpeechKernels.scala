package graft.pipeline

import graft.model._
import graft.ops.SegmentKernels

/** Pure per-file kernels of the five-stage speech pipeline, beside
  * [[graft.ops.SegmentKernels]]: each takes ONE file's waveform and spans
  * in memory and returns that file's rows. Kept free of Spark, so
  * [[SpeechPipeline.runAll]] chains them inside one narrow pass over the
  * audio and each stage wrapper runs the same kernel behind its own
  * Dataset shell — one implementation of every stage's semantics.
  */
object SpeechKernels {

  type Vad = BatchModel[AudioFile, Seq[Segment]]
  type Embedder = BatchModel[(SpeakerSegment, Array[Float]), (SpeakerSegment, Array[Float])]
  type Separator = BatchModel[StftFrame, StftFrame]

  /** The samples of `[s, e)` seconds, clamped to the waveform. */
  def slice(a: AudioFile, s: Double, e: Double): Array[Float] =
    a.waveform.slice(math.max(0, (s * a.sr).toInt), math.min(a.waveform.length, (e * a.sr).toInt))

  /** Stage 1 — VAD post-process of one file's raw model spans: pad and
    * clamp to `[0, duration]` (P1, `vad_multi.py:33-35`), then zero-gap
    * merge (W1 with interval 0 and no cap, `vad_multi.py:37`).
    */
  def vad(a: AudioFile, raw: Seq[Segment], padSec: Double): IndexedSeq[Segment] = {
    val dur = a.waveform.length.toDouble / a.sr
    val padded = raw.map(s => (math.max(s.start - padSec, 0d), math.min(s.end + padSec, dur)))
      .toIndexedSeq.sorted
    SegmentKernels.mergeCapped(padded, gap = 0d, cap = Double.MaxValue)
      .map(m => Segment(a.file, m.start, m.end))
  }

  /** W5 — overlapped chunking with margins (`separate_fast.py:148-186`):
    * fixed-size core chunks of one waveform, each with up to `marginSamples`
    * samples either side, so per-chunk memory stays bounded for
    * hour-long audio (X6).
    */
  def marginChunks(a: AudioFile, chunkSamples: Int, marginSamples: Int): IndexedSeq[AudioChunk] = {
    val n = a.waveform.length
    (0 until math.max(1, (n + chunkSamples - 1) / chunkSamples)).map { ci =>
      val coreStart = ci * chunkSamples
      val coreLen = math.min(chunkSamples, n - coreStart)
      val lo = math.max(0, coreStart - marginSamples)
      val hi = math.min(n, coreStart + coreLen + marginSamples)
      AudioChunk(a.file, a.sr, ci, coreStart, coreLen, a.waveform.slice(lo, hi))
    }
  }

  /** W5 — STFT inference framing (`separate_fast.py:208-221`): the exact
    * window arithmetic the reference feeds its spectral model. With
    * `trim = nFft/2` and `gen = chunkSize − 2·trim`,
    *
    *   pad    = gen − n mod gen   (a FULL extra gen when n mod gen == 0 —
    *                               the reference's modulo quirk, kept)
    *   padded = [0]×trim ++ w ++ [0]×pad ++ [0]×trim
    *   frames = padded[i, i+chunkSize) for i = 0, gen, …  while i < n+pad
    *
    * — exactly (n+pad)/gen frames of chunkSize samples each, adjacent
    * frames overlapping by 2·trim. An iterator, so the state held is one
    * frame, never the padded waveform × frame count.
    */
  def stftFrames(a: AudioFile, chunkSize: Int, nFft: Int): Iterator[StftFrame] = {
    val trim = nFft / 2
    val gen = chunkSize - 2 * trim
    require(gen > 0, s"chunkSize $chunkSize must exceed nFft $nFft")
    val n = a.waveform.length
    val pad = gen - n % gen
    Iterator.range(0, (n + pad) / gen).map { fi =>
      val out = new Array[Float](chunkSize)
      // padded index p maps to waveform index p − trim when in range
      val pStart = fi * gen
      var j = 0
      while (j < chunkSize) {
        val src = pStart + j - trim
        if (src >= 0 && src < n) out(j) = a.waveform(src)
        j += 1
      }
      StftFrame(a.file, a.sr, fi, n, pad, out)
    }
  }

  /** W5 — STFT frame reassembly (`separate_fast.py:236-241`): per frame
    * keep `[trim, chunkSize − trim)` (the generated core), place it at
    * its frame's offset, drop the trailing `pad` — the exact inverse of
    * [[stftFrames]] for one file's frames, in any order.
    */
  def stftReassemble(frames: Iterator[StftFrame], chunkSize: Int, nFft: Int): Array[Float] = {
    val trim = nFft / 2
    val gen = chunkSize - 2 * trim
    val fs = frames.buffered
    val out = new Array[Float](fs.head.nSample)
    fs.foreach { f =>
      val at = f.frameIdx * gen
      val len = math.min(gen, f.nSample - at)
      if (len > 0) System.arraycopy(f.samples, trim, out, at, len)
    }
    out
  }

  private val SeparatorBatch = 8

  /** Stage 2c — separation of one file through the W5 window algebra,
    * nested like the reference: margin chunks ([[marginChunks]]) →
    * per-chunk STFT frames ([[stftFrames]]) → the per-frame model in
    * batches of 8 frames → frame reassembly ([[stftReassemble]]) →
    * margin strip, each core written at its offset. Returns the vocal
    * stem; a model that is linear per sample commutes with all of it.
    */
  def separate(a: AudioFile, model: Separator, chunkSamples: Int, marginSamples: Int,
               chunkSize: Int, nFft: Int): Array[Float] = {
    val out = new Array[Float](a.waveform.length)
    marginChunks(a, chunkSamples, marginSamples).foreach { c =>
      val frames = stftFrames(AudioFile(c.file, c.sr, c.samples), chunkSize, nFft)
      val vocal = stftReassemble(frames.grouped(SeparatorBatch).flatMap(model.predictBatch), chunkSize, nFft)
      val lo = c.coreStart - math.max(0, c.coreStart - marginSamples)
      System.arraycopy(vocal, lo, out, c.coreStart, c.coreLen)
    }
    out
  }

  /** Stage 3 — mock diarization of one file: label each VAD span by its
    * peak amplitude, then the sweep line with active sets (J8/U3,
    * `diarization.py:24-64`). Callers split single vs overlapping.
    */
  def diarize(a: AudioFile, vad: Seq[Segment]): IndexedSeq[ActiveInterval] =
    SegmentKernels.sweepActiveSets(vad.map(s => (s.start, s.end, peakLabel(slice(a, s.start, s.end)))))
      .map(x => ActiveInterval(a.file, x.start, x.end, x.labels))

  /** The mock diarizer's label: "speaker_0" when the span peaks above 0.5. */
  private def peakLabel(w: Array[Float]): String = {
    var peak = 0f
    var i = 0
    while (i < w.length) { if (math.abs(w(i)) > peak) peak = math.abs(w(i)); i += 1 }
    if (peak > 0.5f) "speaker_0" else "speaker_1"
  }

  /** Stage 4 front half — W2 speaker-change merge of one file's
    * single-speaker intervals (`speaker_rematch.py:25-43`, gap 1 s), each
    * merged chunk paired with its waveform slice for the embedder.
    */
  def chunkSlices(a: AudioFile, single: Seq[ActiveInterval], minChunkSec: Double,
                  mergedCapSec: Double): IndexedSeq[(SpeakerSegment, Array[Float])] = {
    val turns = single.map(x => SegmentKernels.Turn(x.start, x.end, x.speakers.head))
      .toIndexedSeq.sortBy(t => (t.start, t.end, t.speaker))
    SegmentKernels.mergeBySpeaker(turns, gap = 1d, cap = mergedCapSec, minDuration = minChunkSec)
      .map(t => (SpeakerSegment(a.file, t.start, t.end, t.speaker), slice(a, t.start, t.end)))
  }

  /** Stage 4 back half — M5 re-clustering of one file's embedded chunks:
    * sort (the member order is part of [[Clustering.clusterOne]]'s
    * deterministic contract), cluster, relabel `g<n>` or "noise" (the
    * reference's −1).
    */
  def cluster(embedded: Seq[(SpeakerSegment, Array[Float])], minClusterRatio: Double,
              simThreshold: Double, softThreshold: Double)
      : IndexedSeq[(SpeakerSegment, Array[Float])] = {
    val rows = embedded.toIndexedSeq.sortBy(t => (t._1.start, t._1.end, t._1.speaker))
    val labels = Clustering.clusterOne(rows.map(_._2), minClusterRatio, simThreshold, softThreshold)
    rows.zip(labels).map { case ((seg, emb), l) =>
      (seg.copy(speaker = if (l < 0) "noise" else s"g$l"), emb)
    }
  }

  /** Stage 4 whole — merge, slice, embed (batches of 16), cluster. */
  def rematch(a: AudioFile, single: Seq[ActiveInterval], embedder: Embedder,
              minChunkSec: Double, mergedCapSec: Double, minClusterRatio: Double,
              simThreshold: Double, softThreshold: Double)
      : IndexedSeq[(SpeakerSegment, Array[Float])] = {
    val embedded = chunkSlices(a, single, minChunkSec, mergedCapSec)
      .grouped(16).flatMap(embedder.predictBatch).toIndexedSeq
    cluster(embedded, minClusterRatio, simThreshold, softThreshold)
  }

  final case class MatchedSpeaker(speaker: String, score: Double)

  /** One output row of the host match (stage 5). */
  final case class HostMatch(file: String, host_id: String, host_total_duration: Double,
      host_proportion: Double, matched_speakers: Seq[MatchedSpeaker])

  /** Stage 5 — host match of one file: per-speaker duration totals over
    * `chunks` (A4); per speaker, the mean of the `embs` (speaker,
    * duration, embedding) rows taken longest-first while the running
    * total stays within `budgetSec`, breaking at the first overflow and
    * keeping the longest when even it overflows (W6/O5,
    * `host_rematch.py:100-109`); cosine against each host print,
    * accepted above 0.5 (M6/P8); per host, the accepted speakers' total
    * duration and its share of the file's (A10). A speaker must appear
    * in both inputs to match. Rows come out ordered by host, matched
    * speakers by name.
    */
  /** The verification score a speaker must exceed to match a host (P8,
    * `host_rematch.py:136`).
    */
  private val HostAcceptScore = 0.5

  def hostMatch(file: String, chunks: Seq[SpeakerSegment], embs: Seq[(String, Double, Array[Float])],
                hostPrints: Map[String, Array[Float]], budgetSec: Double): IndexedSeq[HostMatch] = {
    val totals = chunks.groupBy(_.speaker).map { case (spk, cs) =>
      spk -> cs.sortBy(c => (c.start, c.end)).map(c => c.end - c.start).sum
    }
    val fileTotal = totals.toSeq.sortBy(_._1).map(_._2).sum
    val means = embs.groupBy(_._1).toSeq.sortBy(_._1).map { case (spk, rows) =>
      spk -> budgetMean(rows.map(r => (r._2, r._3)), budgetSec)
    }
    val accepted = for {
      (spk, mean) <- means if totals.contains(spk)
      (host, print) <- hostPrints.toSeq
      score = MockModels.cosine(mean, print) if score > HostAcceptScore
    } yield (host, MatchedSpeaker(spk, score))
    accepted.groupBy(_._1).toIndexedSeq.sortBy(_._1).map { case (host, ms) =>
      val matched = ms.map(_._2)
      val hostTotal = matched.map(m => totals(m.speaker)).sum
      HostMatch(file, host, hostTotal, hostTotal / fileTotal, matched)
    }
  }

  /** The budgeted mean embedding of one speaker's (duration, embedding)
    * rows, longest first (ties by input order).
    */
  private def budgetMean(rows: Seq[(Double, Array[Float])], budgetSec: Double): Array[Float] = {
    val byLength = rows.sortBy(-_._1)
    var cum = 0d
    val kept = byLength.takeWhile { r => cum += r._1; cum <= budgetSec }.map(_._2)
    val embs = if (kept.nonEmpty) kept else Seq(byLength.head._2)
    val mean = new Array[Float](embs.head.length)
    embs.foreach(e => mean.indices.foreach(j => mean(j) += e(j) / embs.length))
    mean
  }
}
