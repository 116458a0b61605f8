package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{LongType, StringType}

/** J1/X4 as a full custom operator (SURVEY §7.3c): logical node +
  * planner strategy + physical sorted-merge containment join.
  *
  * The physical operator asks Catalyst for hash co-partitioning on the
  * key and co-sorting by (key, start) on both sides
  * (`requiredChildDistribution` / `requiredChildOrdering` — the
  * exchanges/sorts are planned by EnsureRequirements exactly as for
  * SortMergeJoin), then runs the reference's monotone-cursor probe
  * (`separation_filter.py:221-236`) per partition: chunks of one key are
  * disjoint and sorted, so each segment matches at most one chunk and
  * the cursor never moves backwards — O(n+m) per key, no hash table, no
  * nested loop, bounded memory (one chunk row buffered).
  *
  * Restrictions (documented, checked at construction): bounds are
  * LongType, keys LongType or StringType; chunk intervals per key are
  * disjoint (true for interval unions, which is what the reference
  * probes against).
  *
  * When to use (measured, round-3 harness, sf0.1 local[32]): this
  * operator beats the generic equi+theta SortMergeJoin — 0.56 s vs
  * 0.81 s on the same input (`j1_sorted_containment` vs
  * `j1_containment` in BENCH_r03) — because the monotone cursor does no
  * per-key hash build and emits at most one match per probe row. Its
  * advantage grows with chunks-per-key (the theta join compares each
  * segment against every same-key chunk); prefer the generic join only
  * when chunk intervals can overlap, where this operator's contract
  * does not hold.
  */
final case class ContainmentJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    segStart: Attribute, segEnd: Attribute,
    chunkStart: Attribute, chunkEnd: Attribute) extends BinaryNode {
  require(Seq(segStart, segEnd, chunkStart, chunkEnd)
    .forall(_.dataType == LongType), "containment join: LongType bounds only")
  require(leftKey.dataType == rightKey.dataType &&
    (leftKey.dataType == LongType || leftKey.dataType == StringType),
    "containment join: LongType or StringType keys")
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): ContainmentJoinPlan =
    copy(left = newLeft, right = newRight)
}

object ContainmentJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ContainmentJoinPlan(l, r, lk, rk, ss, se, cs, ce) =>
      ContainmentJoinExec(planLater(l), planLater(r), lk, rk, ss, se, cs, ce) :: Nil
    case _ => Nil
  }
}

final case class ContainmentJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    segStart: Attribute, segEnd: Attribute,
    chunkStart: Attribute, chunkEnd: Attribute) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(segStart, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(chunkStart, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lkIdx = leftOut.indexWhere(_.exprId == leftKey.exprId)
    val ssIdx = leftOut.indexWhere(_.exprId == segStart.exprId)
    val seIdx = leftOut.indexWhere(_.exprId == segEnd.exprId)
    val rkIdx = rightOut.indexWhere(_.exprId == rightKey.exprId)
    val csIdx = rightOut.indexWhere(_.exprId == chunkStart.exprId)
    val ceIdx = rightOut.indexWhere(_.exprId == chunkEnd.exprId)
    val outSchema = output
    val keyIsString = leftKey.dataType == StringType
    left.execute().zipPartitions(right.execute()) { (segIt, chunkIt) =>
      // chunk-key vs seg-key comparison in the key's sort order
      def keyCmp(c: InternalRow, seg: InternalRow): Int =
        if (keyIsString) c.getUTF8String(rkIdx).compareTo(seg.getUTF8String(lkIdx))
        else java.lang.Long.compare(c.getLong(rkIdx), seg.getLong(lkIdx))
      new Iterator[InternalRow] {
        private val proj = UnsafeProjection.create(outSchema, outSchema)
        private val joined = new JoinedRow
        private val chunks = chunkIt.buffered
        private var nextRow: InternalRow = _
        private var computed = false

        // Lazy advancement: the projection reuses one UnsafeRow buffer,
        // so the next match may only be computed after the consumer is
        // done with the previous row (i.e., on its next hasNext/next).
        private def ensure(): Unit = if (!computed) { advance(); computed = true }

        private def advance(): Unit = {
          nextRow = null
          while (nextRow == null && segIt.hasNext) {
            val seg = segIt.next()
            val s = seg.getLong(ssIdx)
            val e = seg.getLong(seIdx)
            // drop chunks behind: smaller key, or same key ended before s.
            // With disjoint sorted chunks the first not-behind chunk is
            // THE unique containment candidate; the cursor is monotone.
            while (chunks.hasNext && {
              val c = chunks.head
              val cmp = keyCmp(c, seg)
              cmp < 0 || (cmp == 0 && c.getLong(ceIdx) < s)
            }) chunks.next()
            if (chunks.hasNext) {
              val c = chunks.head
              if (keyCmp(c, seg) == 0 &&
                  s >= c.getLong(csIdx) && e <= c.getLong(ceIdx))
                nextRow = proj(joined(seg, c))
            }
          }
        }

        override def hasNext: Boolean = { ensure(); nextRow != null }
        override def next(): InternalRow = {
          ensure()
          computed = false
          nextRow
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): ContainmentJoinExec =
    copy(left = newLeft, right = newRight)
}

object ContainmentJoin {

  /** DataFrame surface: build the logical node from two analyzed plans,
    * registering the planner strategy on the session (idempotent, via
    * the public `experimental.extraStrategies` hook). This is the only
    * registration: [[ContainmentJoinPlan]] is built nowhere else, and it
    * also works in sessions built without `GraftExtensions`.
    */
  def sortedContainmentJoin(segs: DataFrame, chunks: DataFrame, key: String,
                            segStart: String, segEnd: String,
                            chunkStart: String, chunkEnd: String): DataFrame =
    sortedContainmentJoin(segs, chunks, key, key, segStart, segEnd, chunkStart, chunkEnd)

  /** Variant with differently-named key columns (keeps the join output
    * free of duplicate names).
    */
  def sortedContainmentJoin(segs: DataFrame, chunks: DataFrame,
                            leftKey: String, rightKey: String,
                            segStart: String, segEnd: String,
                            chunkStart: String, chunkEnd: String): DataFrame = {
    val spark: SparkSession = segs.sparkSession
    if (!spark.experimental.extraStrategies.contains(ContainmentJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ ContainmentJoinStrategy
    val lp = segs.queryExecution.analyzed
    val rp = chunks.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    GraftShim.ofRows(spark, ContainmentJoinPlan(lp, rp,
      attr(lp, leftKey), attr(rp, rightKey),
      attr(lp, segStart), attr(lp, segEnd),
      attr(rp, chunkStart), attr(rp, chunkEnd)))
  }
}
