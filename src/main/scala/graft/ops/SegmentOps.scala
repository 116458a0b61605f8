package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The segment-algebra core: the reference's real content re-expressed as
  * declarative, key-partitioned DataFrame transformations.
  *
  * Every operator here is partitioned by a key column (the reference's
  * "one audio file" — `utils.py:190-195` directory-as-table layout) so that
  * on a real cluster work distributes across executors with exactly one
  * shuffle on the key, and Catalyst/AQE keep planning freedom.
  *
  * Times are kept in whatever numeric domain the caller supplies; the
  * query surface uses exact integer nanoseconds.
  */
object SegmentOps {

  /** Ordered window over one key: the canonical per-file ordering of the
    * reference (`utils.py:152` sorts by start before any merge).
    */
  private def ordered(key: String, start: String, tieBreak: String) =
    Window.partitionBy(key).orderBy(col(start), col(tieBreak))

  /** W1 (uncapped flavor) — gap-based sessionization of point events.
    * Reference: `modules/models/utils.py:64-102` with `max_duration=inf`
    * (the `vad_multi.py:37` call site). Classic lag + cumulative-sum
    * session-id pattern: one shuffle on the key, then window functions.
    *
    * Input: rows with (key, ts, tieBreak). Output: one row per session
    * with min/max ts and the session_id.
    */
  def sessionizePoints(df: DataFrame, key: String, ts: String, tieBreak: String,
                       gap: Column): DataFrame = {
    val w = ordered(key, ts, tieBreak)
    df.withColumn("__prev", lag(col(ts), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col(ts) - col("__prev") > gap, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__new")
  }

  /** W2 (uncapped flavor) — sessionization that also breaks when a
    * discriminator column changes (the speaker-change break of
    * `speaker_rematch.py:25-43`), as a pure window pattern.
    */
  def sessionizeByChange(df: DataFrame, key: String, ts: String, tieBreak: String,
                         changeCol: String, gap: Column): DataFrame = {
    val w = ordered(key, ts, tieBreak)
    df.withColumn("__prev", lag(col(ts), 1).over(w))
      .withColumn("__prevC", lag(col(changeCol), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col(ts) - col("__prev") > gap ||
          col(changeCol) =!= col("__prevC"), 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__prevC", "__new")
  }

  /** W1 on intervals — interval coalescing: merge intervals of one key that
    * overlap or sit within `gap` of the running merged end. Reference:
    * `utils.py:64-79` (the separation-economy merge at
    * `separation_filter.py:168`). The break test uses the running
    * `max(end)` over all previous rows, not just the neighbor, so merged
    * chains are true interval unions.
    */
  def coalesceIntervals(df: DataFrame, key: String, start: String, end: String,
                        tieBreak: String, gap: Column): DataFrame = {
    val w = ordered(key, start, tieBreak)
    val runPrevEnd = max(col(end))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    df.withColumn("__prevEnd", runPrevEnd)
      .withColumn("__new",
        when(col("__prevEnd").isNull || col(start) - col("__prevEnd") > gap, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prevEnd", "__new")
  }

  /** J4 — adjacent-row gap construction via lead/lag, the reference's
    * non-VAD gap builder (`separation_filter.py:108-157`): pair consecutive
    * segments per key, skip overlapping neighbors, emit the gap between
    * them with features of both neighbors. The reference memoizes neighbor
    * energies (`separation_filter.py:104,125-135`); lead/lag computes each
    * row's feature once — the memo falls out of the plan (SURVEY X1).
    */
  def adjacentGaps(df: DataFrame, key: String, start: String, end: String,
                   tieBreak: String, feature: String): DataFrame = {
    val w = ordered(key, start, tieBreak)
    df.select(
        col(key), col(start), col(end), col(tieBreak), col(feature),
        lead(col(start), 1).over(w).as("next_start"),
        lead(col(end), 1).over(w).as("next_end"),
        lead(col(feature), 1).over(w).as("next_feature"))
      .filter(col("next_start").isNotNull && col("next_start") >= col(end))
      .select(
        col(key),
        col(tieBreak).as("prev_id"),
        col(end).as("gap_start"),
        col("next_start").as("gap_end"),
        col(start).as("prev_start"), col(end).as("prev_end"),
        col("next_start"), col("next_end"),
        col(feature).as("prev_feature"), col("next_feature"))
  }

  /** W7/P7 — monotone running-max dedup: keep a row only if its `value`
    * exceeds the running max of all previous rows of its key. Reference:
    * the `last_end` tracking that drops out-of-order diarization rows
    * (`silero_vad.py:129-139`).
    */
  def runningMaxDedup(df: DataFrame, key: String, order: String, tieBreak: String,
                      value: String): DataFrame = {
    val w = ordered(key, order, tieBreak)
    df.withColumn("__runmax",
        max(col(value)).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("__runmax").isNull || col(value) > col("__runmax"))
      .drop("__runmax")
  }

  /** W6 — cumulative-sum budget cap: order rows of a key by `order` desc,
    * keep the prefix whose running sum of `value` stays within `cap`.
    * Reference: the 180 s per-speaker audio budget
    * (`host_rematch.py:100-109`); the reference `break`s at first overflow,
    * which equals cumsum<=cap because the cumsum is monotone (values >= 0).
    */
  def cumsumCap(df: DataFrame, key: String, order: String, tieBreak: String,
                value: String, cap: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(order).desc, col(tieBreak))
    df.withColumn("cum",
        sum(col(value)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= cap)
  }

  /** W3 — sliding windows over long segments: a segment shorter than
    * `window` passes through unsliced; a longer one explodes into hopped
    * windows `[s + i*hop, min(s + i*hop + window, e)]`, stopping after the
    * first window that reaches the segment end. Reference:
    * `separation_filter.py:242-260` (hop-count formula `:248`, truncation
    * `:252-257`, early break `:259-260`).
    *
    * Set-based: `sequence` + `explode` with a post-filter reproducing the
    * break — no driver-side loop, stays inside whole-stage codegen.
    */
  def slidingWindows(df: DataFrame, start: String, end: String,
                     window: Long, hop: Long): DataFrame = {
    val dur = col(end) - col(start)
    df.withColumn("__i",
        explode(sequence(lit(0L), dur.cast("long").divide(lit(hop)).cast("long"))))
      .filter(col("__i") === 0L ||
        col(start) + (col("__i") - 1L) * lit(hop) + lit(window) < col(end))
      .withColumn("win_start", col(start) + col("__i") * lit(hop))
      .withColumn("win_end", least(col(start) + col("__i") * lit(hop) + lit(window), col(end)))
      .drop("__i")
  }

  /** J1 — interval-containment join: assign each segment to the chunk of
    * the same key that fully contains it. Reference: the sorted-pointer
    * probe at `separation_filter.py:190-193,221-236`. Spark-first: an
    * equi join on the key plus the containment theta condition — the equi
    * key keeps it a shuffled hash/sort-merge join, never a nested-loop
    * cross product (SURVEY X4).
    */
  def containmentJoin(segs: DataFrame, chunks: DataFrame, key: String,
                      segStart: String, segEnd: String,
                      chunkStart: String, chunkEnd: String): DataFrame =
    segs.alias("s").join(chunks.alias("c"),
      col(s"s.$key") === col(s"c.$key") &&
        col(s"s.$segStart") >= col(s"c.$chunkStart") &&
        col(s"s.$segEnd") <= col(s"c.$chunkEnd"))

  /** J1 at 100 TB — bucketed containment join (SURVEY X4): when one key's
    * chunk list is huge, the plain theta condition makes every chunk of
    * the key a candidate for every segment. Bucketing both sides on
    * `start div bucketWidth` (chunks explode to every bucket they
    * overlap) turns the join equi on (key, bucket); the containment
    * predicate stays in the condition and only filters within a bucket.
    * Width trades chunk fan-out against bucket selectivity — pick ≈ the
    * max chunk length.
    *
    * Equal to [[containmentJoin]] for any width and any rows:
    *   - buckets are integer `div`, exact over the whole Long domain (a
    *     double quotient rounds above 2^53 and can put a start one
    *     bucket off its chunk's range);
    *   - a segment with `start <= end` takes its start bucket, which
    *     every containing chunk's bucket range covers;
    *   - any other segment (inverted, or a null bound) takes the
    *     catch-all bucket `Long.MinValue`, which every chunk also emits,
    *     so it sees all chunks of its key;
    *   - a chunk whose bucket range is inverted or null emits only the
    *     catch-all: no well-formed segment fits inside it.
    */
  def bucketedContainmentJoin(segs: DataFrame, chunks: DataFrame, key: String,
                              segStart: String, segEnd: String,
                              chunkStart: String, chunkEnd: String,
                              bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    def bucket(c: String): Column = expr(s"CAST(`$c` AS BIGINT) div ${bucketWidth}L")
    val catchAll = lit(Long.MinValue)
    val segB = segs.withColumn("__bucket",
      when(col(segStart) <= col(segEnd), bucket(segStart)).otherwise(catchAll))
    val (bs, be) = (bucket(chunkStart), bucket(chunkEnd))
    val chunkB = chunks.withColumn("__bucket",
      explode(concat(
        when(bs <= be, sequence(bs, be)).otherwise(typedLit(Seq.empty[Long])),
        array(catchAll))))
    segB.alias("s").join(chunkB.alias("c"),
        col(s"s.$key") === col(s"c.$key") &&
          col("s.__bucket") === col("c.__bucket") &&
          col(s"s.$segStart") >= col(s"c.$chunkStart") &&
          col(s"s.$segEnd") <= col(s"c.$chunkEnd"))
      .drop("__bucket")
  }

  /** J3 — max-overlap interval join (argmax): for each left interval, the
    * right interval of the same key with the largest positive temporal
    * overlap; ties broken deterministically. Reference:
    * `speaker_rematch.py:224-234` (overlap formula `:227-229`, first-max
    * tie `:234`).
    */
  def maxOverlapJoin(left: DataFrame, right: DataFrame, key: String,
                     lId: String, rId: String,
                     lStart: String, lEnd: String,
                     rStart: String, rEnd: String): DataFrame = {
    val overlap =
      least(col(s"l.$lEnd"), col(s"r.$rEnd")) -
        greatest(col(s"l.$lStart"), col(s"r.$rStart"))
    val joined = left.alias("l").join(right.alias("r"),
        col(s"l.$key") === col(s"r.$key") &&
          col(s"l.$lStart") < col(s"r.$rEnd") && col(s"r.$rStart") < col(s"l.$lEnd"))
      .withColumn("overlap", overlap)
      .filter(col("overlap") > 0)
    val w = Window.partitionBy(col(s"l.$key"), col(s"l.$lId"))
      .orderBy(col("overlap").desc, col(s"r.$rId"))
    joined.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** U4 (interval flavor) — anti-overlap join: keep left intervals that
    * overlap NO right interval of the same key. Reference: the
    * noisy-region exclusion in `utils.py:155-183`.
    */
  def antiOverlapJoin(left: DataFrame, right: DataFrame, key: String,
                      lStart: String, lEnd: String,
                      rStart: String, rEnd: String): DataFrame =
    left.alias("l").join(right.alias("r"),
      col(s"l.$key") === col(s"r.$key") &&
        col(s"l.$lStart") < col(s"r.$rEnd") && col(s"r.$rStart") < col(s"l.$lEnd"),
      "left_anti")

  /** O1/X5 — longest-first ordering hint (`vad_multi.py:79-97` LPT
    * scheduling): on a cluster the task scheduler already handles
    * stragglers, but range-partitioning heavy keys first still helps
    * when a stage's partitions are wildly uneven.
    */
  def orderLongestFirst(df: DataFrame, start: String, end: String): DataFrame =
    df.repartitionByRange(df.sparkSession.sessionState.conf.numShufflePartitions,
      (col(end) - col(start)).desc)

  /** Skew handling — two-phase salted aggregation: a hot key's rows
    * spread over `salts` sub-keys for the partial aggregate, then one
    * tiny final aggregate per key (SURVEY §7.0 "salting for skew"; AQE's
    * skew-join handling covers the join side, this covers aggregation).
    * The salt derives from the physical partition id, NOT the value: a
    * hot key whose values are constant (count-like columns) would hash
    * every row to one salt and stay as skewed as the direct aggregate.
    * Partition-id salting spreads rows by where they physically sit,
    * which is exactly the distribution the partial aggregate runs in;
    * sums are commutative, so the result is exactly the direct one.
    */
  def saltedSum(df: DataFrame, key: String, valueCol: String, salts: Int): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id(), lit(salts)))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as(s"sum_$valueCol"))

  /** Salted REPLICATE join for hot-key skew: the big side gets a salt
    * derived from its physical partition (per-row entropy independent of
    * any value — constant-value keys still spread), the small side is
    * replicated once per salt, and the equi join runs on (key, salt) —
    * one hot key's rows land on `salts` reducers instead of one. Result
    * set is EXACTLY the plain inner equi join (each big row joins the
    * single replica carrying its salt), so correctness is oracle-trivial;
    * the point is the plan. Use when the small side is too big to
    * broadcast and AQE's skew split can't kick in (e.g. a shuffle reused
    * by a downstream op pins the partitioning).
    *
    * `small` must have unique join keys per row group semantics the
    * caller expects of an inner join (replication preserves duplicates
    * faithfully either way).
    */
  def saltedReplicateJoin(big: DataFrame, small: DataFrame, key: String,
                          salts: Int): DataFrame = {
    require(salts >= 1, "salts must be positive")
    val saltedBig = big.withColumn("__salt", pmod(spark_partition_id(), lit(salts)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** AS-OF JOIN: attach to every left row the LATEST right row of the
    * same key with `rightTs <= leftTs` (inclusive) — the time-series
    * point-in-time lookup (trades→quotes, event→last-state) that Spark
    * has no native operator for. Formulated as the MERGED-STREAM window
    * trick, not a join: tag both sides, union, and take per key the
    * running `last(right payload, ignoreNulls)` over (ts, tag) order —
    * right rows sort before left rows at equal ts, giving inclusive
    * semantics. ONE shuffle on the key, linear scan, no per-row probe,
    * no range explosion; constant window state (`last` keeps one value).
    * A key's whole history lands in one partition — at extreme per-key
    * volume, pre-split by coarse time bucket and as-of join the bucket
    * boundaries' carry-in rows (the standard refinement; not needed at
    * this corpus's key cardinality).
    *
    * Ties among right rows at one (key, ts) resolve to the highest
    * `rightTie` WITHOUT a separate dedup pass: the window orders by
    * (ts, tag, tie), so `last` naturally surfaces the max-tie row — a
    * pre-dedup window would cost a second shuffle (on (key, ts)) for
    * nothing. `rightTie` must be unique per (key, ts) for the choice to
    * be deterministic (ids are).
    *
    * Output: every left column plus a nullable `asof` struct of
    * (`rightTs`, `rightVals`*) — null when no right row precedes.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String, rightTie: String,
               rightVals: Seq[String]): DataFrame = {
    val tieType = right.schema(rightTie).dataType
    val rTagged = right.select(col(key).as("__k"), col(rightTs).as("__ts"),
      lit(0).as("__tag"), col(rightTie).as("__tie"),
      struct((rightTs +: rightVals).map(col): _*).as("__rv"))
    val lCols = left.columns.toSeq
    val lTagged = left.select(col(key).as("__k"), col(leftTs).as("__ts"),
      lit(1).as("__tag"), lit(null).cast(tieType).as("__tie"),
      struct(lCols.map(col): _*).as("__l"))
    val rFull = rTagged.withColumn("__l",
      lit(null).cast(lTagged.schema("__l").dataType))
    val lFull = lTagged.withColumn("__rv",
      lit(null).cast(rTagged.schema("__rv").dataType))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts"), col("__tag"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rFull.unionByName(lFull)
      .withColumn("asof", last(col("__rv"), ignoreNulls = true).over(w))
      .where(col("__tag") === 1)
      .select(lCols.map(c => col(s"__l.$c").as(c)) :+ col("asof"): _*)
  }

  /** J8/W9 — sweep line over possibly-overlapping intervals of one key:
    * explode each interval into +1/-1 boundary events, order by
    * (time, delta) so that closings process before openings at ties
    * (the reference sorts ends first — `diarization.py:39`), take the
    * running sum as the active count, and pair each boundary with the next
    * to form elementary intervals. Reference: `diarization.py:24-64`.
    *
    * Output: (key, s, e, n_active) for every elementary interval with at
    * least one active interval and positive width.
    */
  def sweepLineCounts(df: DataFrame, key: String, start: String, end: String): DataFrame = {
    val bounds = df.select(col(key), col(start).as("t"), lit(1L).as("delta"))
      .unionByName(df.select(col(key), col(end).as("t"), lit(-1L).as("delta")))
    val w = Window.partitionBy(key).orderBy(col("t"), col("delta"))
    bounds
      .withColumn("n_active",
        sum(col("delta")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_t", lead(col("t"), 1).over(w))
      .filter(col("n_active") > 0 && col("next_t") > col("t"))
      .select(col(key), col("t").as("s"), col("next_t").as("e"), col("n_active"))
  }
}
