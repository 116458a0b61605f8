package graft.ops

import scala.collection.mutable.ArrayBuffer

/** Pure single-key kernels backing [[SegmentAlgebra]]'s flatMapGroups
  * operators (and the streaming state handlers). Kept free of Spark so
  * they are property-testable at ScalaCheck speed and reusable across the
  * batch and streaming execution shells.
  */
object SegmentKernels {

  final case class Merged(start: Double, end: Double, n: Int)

  /** W1 capped merge over (start, end)-sorted input — `utils.py:64-79`.
    *
    * `refCompat` (SURVEY §7.4.2 quirk flag): the reference assigns the
    * merged end as the LAST member's end (`utils.py:94,96` —
    * `end = segment["end"]`, not a max), so a nested segment REGRESSES
    * the running end, and the gap/cap tests at `utils.py:78` run against
    * that regressed end/span. With the flag on this kernel replays those
    * semantics byte-for-byte; off (default) it keeps the fixed covering
    * merge (`max(curE, e)`).
    */
  def mergeCapped(sorted: IndexedSeq[(Double, Double)], gap: Double,
                  cap: Double, refCompat: Boolean = false): IndexedSeq[Merged] = {
    val out = ArrayBuffer.empty[Merged]
    var curS = 0d; var curE = 0d; var n = 0
    sorted.foreach { case (s, e) =>
      val mergedEnd = if (refCompat) e else math.max(curE, e)
      if (n == 0) { curS = s; curE = e; n = 1 }
      else if (s - curE <= gap && mergedEnd - curS <= cap) {
        curE = mergedEnd; n += 1
      } else {
        out += Merged(curS, curE, n); curS = s; curE = e; n = 1
      }
    }
    if (n > 0) out += Merged(curS, curE, n)
    out.toIndexedSeq
  }

  final case class Turn(start: Double, end: Double, speaker: String)

  /** W2 speaker-change merge over (start, end, speaker)-sorted turns —
    * `speaker_rematch.py:25-43`: the [[mergeCapped]] fold that also
    * breaks when the speaker changes; merged turns no longer than
    * `minDuration` are dropped (P4, `speaker_rematch.py:42`).
    */
  def mergeBySpeaker(sorted: IndexedSeq[Turn], gap: Double, cap: Double,
                     minDuration: Double): IndexedSeq[Turn] = {
    val out = ArrayBuffer.empty[Turn]
    var curS = 0d; var curE = 0d; var spk = ""; var n = 0
    def flush(): Unit = if (n > 0 && curE - curS > minDuration) out += Turn(curS, curE, spk)
    sorted.foreach { t =>
      val breaks = n == 0 || t.speaker != spk ||
        t.start - curE > gap || math.max(curE, t.end) - curS > cap
      if (breaks) { flush(); curS = t.start; curE = t.end; spk = t.speaker; n = 1 }
      else { curE = math.max(curE, t.end); n += 1 }
    }
    flush()
    out.toIndexedSeq
  }

  final case class MergedTyped(start: Double, end: Double, n: Int, types: Seq[String])

  /** W1 typed capped merge over pre-sorted WEIGHTED items
    * (start, end, memberCount, types) — the shared kernel of the batch
    * typed merge (items are single segments, n=1) and its streaming
    * state shell (the carried-over open session enters as ONE item with
    * its accumulated count and types, so no post-merge fix-up is
    * needed). Same fold as [[mergeCapped]] with types concatenated in
    * item order — `utils.py:82-99`.
    */
  def mergeTypedCapped(sorted: IndexedSeq[(Double, Double, Int, Seq[String])],
                       gap: Double, cap: Double,
                       refCompat: Boolean = false): IndexedSeq[MergedTyped] = {
    val out = ArrayBuffer.empty[MergedTyped]
    var curS = 0d; var curE = 0d; var n = 0
    val types = ArrayBuffer.empty[String]
    sorted.foreach { case (s, e, cnt, ts) =>
      val mergedEnd = if (refCompat) e else math.max(curE, e)
      if (n > 0 && !(s - curE <= gap && mergedEnd - curS <= cap)) {
        out += MergedTyped(curS, curE, n, types.toSeq)
        types.clear(); n = 0
      }
      if (n == 0) { curS = s; curE = e } else curE = mergedEnd
      types ++= ts; n += cnt
    }
    if (n > 0) out += MergedTyped(curS, curE, n, types.toSeq)
    out.toIndexedSeq
  }

  /** U4 — the reference's merge-with-noisy-skipping walk
    * (`utils.py:155-183`): accumulate segments strictly before the
    * current noisy region; when a segment's end passes the region's
    * start, flush the accumulated run through the typed capped merge,
    * advance the noisy pointer past every region ending before this
    * segment, and START THE NEXT RUN with this segment (the reference
    * keeps the straddling segment — the noisy boundary is a session
    * BREAK, not an exclusion). The voice gate applies to every flushed
    * session.
    *
    * `refCompat = true` replays the reference byte-for-byte, including
    * its two quirks: the trailing run after the last flush is DISCARDED
    * (`sorted_timestamps_` never flushed at loop end), and the inner
    * merge uses last-member end assignment. With the flag off the
    * trailing run is flushed like any other and the covering merge is
    * used (deliberate fix, SURVEY §7.4.2).
    */
  def noisySkipCombine(sorted: IndexedSeq[(Double, Double, Seq[String])],
                       noisy: IndexedSeq[(Double, Double)],
                       gap: Double, cap: Double,
                       refCompat: Boolean = false): IndexedSeq[MergedTyped] = {
    def combine(run: IndexedSeq[(Double, Double, Seq[String])]): IndexedSeq[MergedTyped] =
      mergeTypedCapped(run.map(t => (t._1, t._2, 1, t._3)), gap, cap, refCompat)
        .filter(_.types.contains("voice"))
    if (noisy.isEmpty) return combine(sorted)
    val out = ArrayBuffer.empty[MergedTyped]
    val run = ArrayBuffer.empty[(Double, Double, Seq[String])]
    var ni = 0
    var nStart = noisy(0)._1
    var nEnd = noisy(0)._2
    sorted.foreach { seg =>
      if (seg._2 <= nStart) run += seg
      else {
        out ++= combine(run.toIndexedSeq)
        run.clear()
        while (seg._2 > nEnd) {
          ni += 1
          if (ni >= noisy.length) { nStart = Double.MaxValue; nEnd = Double.MaxValue }
          else { nStart = noisy(ni)._1; nEnd = noisy(ni)._2 }
        }
        run += seg
      }
    }
    if (!refCompat) out ++= combine(run.toIndexedSeq)
    out.toIndexedSeq
  }

  /** W8 recursive longest-gap split over sorted input —
    * `silero_vad.py:81-112`.
    */
  def splitAtLargestGaps(sorted: IndexedSeq[(Double, Double)],
                         maxDuration: Double): IndexedSeq[Merged] = {
    val out = ArrayBuffer.empty[Merged]
    val stack = scala.collection.mutable.Stack[(Int, Int)]()
    if (sorted.nonEmpty) stack.push((0, sorted.length))
    while (stack.nonEmpty) {
      val (lo, hi) = stack.pop()
      val span = sorted(hi - 1)._2 - sorted(lo)._1
      if (span <= maxDuration || hi - lo == 1) {
        out += Merged(sorted(lo)._1, sorted(hi - 1)._2, hi - lo)
      } else {
        var bestK = lo + 1; var bestGap = Double.NegativeInfinity
        var k = lo + 1
        while (k < hi) {
          val g = sorted(k)._1 - sorted(k - 1)._2
          if (g > bestGap) { bestGap = g; bestK = k }
          k += 1
        }
        stack.push((bestK, hi))
        stack.push((lo, bestK))
      }
    }
    out.sortBy(_.start).toIndexedSeq
  }

  final case class Active(start: Double, end: Double, labels: Seq[String])

  /** J8 sweep line with active sets; ends process before starts at ties —
    * `diarization.py:24-64`. Counts are a true multiset WITHOUT clamping:
    * an end seen before its (same-instant) start leaves a −1 deficit that
    * the start cancels, so zero-length segments contribute nothing — the
    * reference's plain `set.remove` raises on that degenerate input, so
    * this is the only consistent extension (and the one a running-sum SQL
    * sweep computes).
    */
  def sweepActiveSets(segs: Seq[(Double, Double, String)]): IndexedSeq[Active] = {
    val events = segs.flatMap { case (s, e, l) => Seq((s, 1, l), (e, 0, l)) }
      .sortBy { case (t, isStart, l) => (t, isStart, l) }
    val counts = scala.collection.mutable.Map.empty[String, Int]
    val out = ArrayBuffer.empty[Active]
    var prevT = Double.NaN
    events.foreach { case (t, isStart, l) =>
      if (!prevT.isNaN && t > prevT && counts.exists(_._2 > 0))
        out += Active(prevT, t,
          counts.collect { case (lbl, c) if c > 0 => lbl }.toSeq.sorted)
      val c = counts.getOrElse(l, 0) + (if (isStart == 1) 1 else -1)
      if (c == 0) counts.remove(l) else counts(l) = c
      prevT = t
    }
    out.toIndexedSeq
  }
}
