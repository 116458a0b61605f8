package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{MergedSegment, Segment}
import graft.ops.SegmentKernels

/** A segment carrying an absolute event timestamp for watermarking. */
final case class TimedSegment(file: String, ts: Timestamp, start: Double, end: Double)

/** [[TimedSegment]] with the type discriminator of the typed merge. */
final case class TimedTypedSegment(file: String, ts: Timestamp, start: Double,
    end: Double, segType: String)

/** W1 capped sessionization under Structured Streaming (SURVEY §2.10):
  * `session_window` cannot express the running-span cap, so the capped
  * merge runs in `flatMapGroupsWithState` — the same capped fold as the
  * batch path ([[SegmentKernels.mergeCapped]]), in its weighted form
  * ([[SegmentKernels.mergeTypedCapped]]), with the open (last) session
  * carried as group state and flushed on processing-time timeout.
  *
  * Arrival-order note: within a micro-batch rows are sorted before the
  * fold; segments arriving in a later batch that predate the open session
  * extend it only forward (the reference has the same late-data posture —
  * P7 drops rows behind the running max, `silero_vad.py:137-139`).
  */
object StreamingSessions {

  final case class OpenSession(start: Double, end: Double, n: Int)

  /** @param flushTimeout when set, the open session flushes after this
    *   processing-time idle period (costs continuous empty micro-batches
    *   while state exists — the timeout-check loop); None emits only
    *   closed sessions, the open one stays in state until closed by data.
    */
  def cappedSessions(segs: Dataset[Segment], gap: Double, cap: Double,
                     flushTimeout: Option[String] = Some("30 seconds"))
      : Dataset[MergedSegment] = {
    import segs.sparkSession.implicits._
    val timeoutConf =
      if (flushTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    segs.groupByKey(_.file)
      .flatMapGroupsWithState[OpenSession, MergedSegment](
        OutputMode.Append, timeoutConf) {
        (file: String, it: Iterator[Segment], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val out = state.getOption
              .map(s => MergedSegment(file, s.start, s.end, s.n, Nil))
            state.remove()
            out.iterator
          } else {
            val merged = mergeWithOpen(it.map(s => (s.start, s.end)), state.getOption, gap, cap)
            merged.lastOption.foreach { l =>
              state.update(OpenSession(l.start, l.end, l.n))
              flushTimeout.foreach(state.setTimeoutDuration)
            }
            merged.dropRight(1).iterator
              .map(m => MergedSegment(file, m.start, m.end, m.n, Nil))
          }
      }
  }

  final case class OpenTypedSession(start: Double, end: Double, n: Int,
      types: Seq[String])

  /** W1 typed voice-gate under event time (`utils.py:82-99` streaming
    * flavor): the capped typed merge with the `must_include_voice` gate
    * applied to every FLUSHED session (closed by data or by the
    * watermark timeout). The carried-over open session re-enters the
    * shared kernel ([[SegmentKernels.mergeTypedCapped]]) as one weighted
    * item with its accumulated count and types, so counts and type lists
    * are exact with no post-merge fix-up — including under out-of-order
    * arrival.
    */
  def typedSessionsEventTime(segs: Dataset[TimedTypedSegment], gap: Double,
                             cap: Double, mustIncludeVoice: Boolean,
                             watermarkDelay: String): Dataset[MergedSegment] = {
    import segs.sparkSession.implicits._
    val gapMs = (gap * 1000).toLong
    segs.withWatermark("ts", watermarkDelay)
      .groupByKey(_.file)
      .flatMapGroupsWithState[OpenTypedSession, MergedSegment](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (file: String, it: Iterator[TimedTypedSegment], state: GroupState[OpenTypedSession]) =>
          def gate(types: Seq[String]): Boolean =
            !mustIncludeVoice || types.contains("voice")
          if (state.hasTimedOut) {
            val out = state.getOption
              .filter(s => gate(s.types))
              .map(s => MergedSegment(file, s.start, s.end, s.n, s.types))
            state.remove()
            out.iterator
          } else {
            val rows = it.toIndexedSeq
            val maxEventMs = rows.map(_.ts.getTime).max
            val incoming = rows.map(s => (s.start, s.end, 1, Seq(s.segType)))
            val seeded = (state.getOption
                .map(s => (s.start, s.end, s.n, s.types)).toIndexedSeq ++ incoming)
              .sortBy(t => (t._1, t._2, t._4.mkString(",")))
            val merged = SegmentKernels.mergeTypedCapped(seeded, gap, cap)
            merged.lastOption.foreach { l =>
              state.update(OpenTypedSession(l.start, l.end, l.n, l.types))
              state.setTimeoutTimestamp(maxEventMs + gapMs)
            }
            merged.dropRight(1).iterator
              .filter(m => gate(m.types))
              .map(m => MergedSegment(file, m.start, m.end, m.n, m.types))
          }
      }
  }

  /** One batch's segments merged with the carried-over open session.
    * The open session re-enters [[SegmentKernels.mergeTypedCapped]] as ONE
    * weighted item with its accumulated count, so every merged group's
    * count is exact with no post-merge fix-up — including a late segment
    * older than the open session, which forms its own group and keeps
    * its own count.
    */
  private[graft] def mergeWithOpen(incoming: Iterator[(Double, Double)], open: Option[OpenSession],
                            gap: Double, cap: Double): IndexedSeq[SegmentKernels.MergedTyped] = {
    val items = open.map(o => (o.start, o.end, o.n, Nil)).toIndexedSeq ++
      incoming.map { case (s, e) => (s, e, 1, Nil) }
    SegmentKernels.mergeTypedCapped(items.sortBy(t => (t._1, t._2)), gap, cap)
  }

  /** Event-time flavor: the open session flushes when the WATERMARK
    * passes its end + gap — the principled late-data posture (SURVEY
    * §2.10): once no in-gap segment can still arrive, the session is
    * provably closed. No continuous empty batches (timeouts fire only
    * when the watermark moves, i.e. on data).
    */
  def cappedSessionsEventTime(segs: Dataset[TimedSegment], gap: Double, cap: Double,
                              watermarkDelay: String): Dataset[MergedSegment] = {
    import segs.sparkSession.implicits._
    val gapMs = (gap * 1000).toLong
    segs.withWatermark("ts", watermarkDelay)
      .groupByKey(_.file)
      .flatMapGroupsWithState[OpenSession, MergedSegment](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (file: String, it: Iterator[TimedSegment], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val out = state.getOption
              .map(s => MergedSegment(file, s.start, s.end, s.n, Nil))
            state.remove()
            out.iterator
          } else {
            val rows = it.toIndexedSeq
            val maxEventMs = rows.map(_.ts.getTime).max
            val merged = mergeWithOpen(rows.iterator.map(s => (s.start, s.end)),
              state.getOption, gap, cap)
            merged.lastOption.foreach { l =>
              state.update(OpenSession(l.start, l.end, l.n))
              state.setTimeoutTimestamp(maxEventMs + gapMs)
            }
            merged.dropRight(1).iterator
              .map(m => MergedSegment(file, m.start, m.end, m.n, Nil))
          }
      }
  }
}
