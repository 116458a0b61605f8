package graft.ops

import org.apache.spark.sql.Dataset

import graft.model._

/** The inherently-sequential segment kernels, run per key with
  * `groupByKey.flatMapGroups`: each group is one file's segment list
  * (bounded — one row per VAD span), sorted in-memory on the executor.
  * Cross-file parallelism is Spark's; within a file the reference's exact
  * sequential semantics are preserved. This is the documented scale shape
  * for these operators (SURVEY §7.4.1): state never leaves one key, so
  * 1000 executors process 1000 files at a time.
  */
object SegmentAlgebra {

  /** W1 — capped sessionization (`utils.py:64-102`): merge sorted
    * segments while the gap to the running merged end is ≤ `gap` AND the
    * would-be merged span stays ≤ `maxDuration`. The cap decision depends
    * on the *running* merge result, so this cannot be a fixed window
    * function (SURVEY §7.4.1).
    */
  def sessionizeCapped(ds: Dataset[Segment], gap: Double, maxDuration: Double)
      : Dataset[MergedSegment] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.file).flatMapGroups { (file, it) =>
      val sorted = it.map(s => (s.start, s.end)).toIndexedSeq.sorted
      SegmentKernels.mergeCapped(sorted, gap, maxDuration).iterator
        .map(m => MergedSegment(file, m.start, m.end, m.n, Nil))
    }
  }

  /** W1 typed flavor — capped merge accumulating the `types` array, with
    * the voice gate: sessions containing no "voice" member are dropped
    * when `mustIncludeVoice` (`utils.py:82-99`).
    *
    * `compatMode` (SURVEY §7.4.2 quirk flag): replay the reference's
    * last-member end assignment (`utils.py:94,96` — a nested segment
    * regresses the merged end, shifting later gap/cap decisions) instead
    * of the fixed covering merge. Off by default.
    */
  def sessionizeTyped(ds: Dataset[TypedSegment], gap: Double, maxDuration: Double,
                      mustIncludeVoice: Boolean,
                      compatMode: Boolean = false): Dataset[MergedSegment] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.file).flatMapGroups { (file, it) =>
      // segType as tertiary sort key: the reference relies on Python's
      // stable sort over file order, which has no analog after a shuffle —
      // a total order makes the types accumulation deterministic.
      val items = it.toArray.sortBy(s => (s.start, s.end, s.segType))
        .map(s => (s.start, s.end, 1, Seq(s.segType))).toIndexedSeq
      SegmentKernels.mergeTypedCapped(items, gap, maxDuration, compatMode).iterator
        .filter(m => !mustIncludeVoice || m.types.contains("voice"))
        .map(m => MergedSegment(file, m.start, m.end, m.n, m.types))
    }
  }

  /** U4 full composite, reference walk (`utils.py:155-183`): voice-gated
    * capped sessions split at noisy-region boundaries, per file.
    * `compatMode` replays the reference's trailing-run discard and
    * last-member end quirks ([[SegmentKernels.noisySkipCombine]]); off
    * (default) flushes the trailing run like any other.
    */
  def sessionizeNoisySkip(ds: Dataset[TypedSegment], noisy: Dataset[Segment],
                          gap: Double, maxDuration: Double,
                          compatMode: Boolean = false): Dataset[MergedSegment] = {
    import ds.sparkSession.implicits._
    val noisyByFile = noisy.groupByKey(_.file)
    ds.groupByKey(_.file).cogroup(noisyByFile) { (file, segIt, noisyIt) =>
      val items = segIt.toArray.sortBy(s => (s.start, s.end, s.segType))
        .map(s => (s.start, s.end, Seq(s.segType))).toIndexedSeq
      val regions = noisyIt.toArray.sortBy(s => (s.start, s.end))
        .map(s => (s.start, s.end)).toIndexedSeq
      SegmentKernels.noisySkipCombine(items, regions, gap, maxDuration, compatMode)
        .iterator.map(m => MergedSegment(file, m.start, m.end, m.n, m.types))
    }
  }

  /** W2 — speaker-change sessionization (`speaker_rematch.py:25-43`):
    * break additionally when the speaker changes; drop merged segments
    * shorter than `minDuration` (P4, `speaker_rematch.py:42`).
    */
  def sessionizeBySpeaker(ds: Dataset[SpeakerSegment], gap: Double,
                          maxDuration: Double, minDuration: Double)
      : Dataset[SpeakerSegment] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.file).flatMapGroups { (file, it) =>
      val turns = it.map(s => SegmentKernels.Turn(s.start, s.end, s.speaker)).toIndexedSeq
        .sortBy(t => (t.start, t.end, t.speaker))
      SegmentKernels.mergeBySpeaker(turns, gap, maxDuration, minDuration).iterator
        .map(t => SpeakerSegment(file, t.start, t.end, t.speaker))
    }
  }

  /** W8 — recursive longest-gap splitting (`silero_vad.py:81-112`): a
    * run of segments spanning more than `maxDuration` splits at its
    * largest internal gap, recursively, until every piece fits. Explicit
    * stack instead of recursion; per-file work is O(n log n).
    */
  def recursiveSplit(ds: Dataset[Segment], maxDuration: Double): Dataset[MergedSegment] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.file).flatMapGroups { (file, it) =>
      val sorted = it.map(s => (s.start, s.end)).toIndexedSeq.sorted
      SegmentKernels.splitAtLargestGaps(sorted, maxDuration).iterator
        .map(m => MergedSegment(file, m.start, m.end, m.n, Nil))
    }
  }

  /** J8/U3 — sweep line with active *sets* (`diarization.py:24-64`):
    * explode per-speaker intervals into boundary events, process ends
    * before starts at equal times (`diarization.py:39`), emit every
    * elementary interval with its sorted active speaker set.
    */
  def sweepLineActiveSets(ds: Dataset[SpeakerSegment]): Dataset[ActiveInterval] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.file).flatMapGroups { (file, it) =>
      SegmentKernels.sweepActiveSets(it.map(s => (s.start, s.end, s.speaker)).toSeq)
        .iterator.map(a => ActiveInterval(file, a.start, a.end, a.labels))
    }
  }
}
