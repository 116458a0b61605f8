package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.GraftFunctions.polyvalMos
import graft.ops.{Curation, Dedup, EventAnalytics, GraphOps, MLlibOps, Multimodal, Retrieval, SegmentAlgebra, SegmentOps, Similarity, TextOps}
import graft.QuerySupport._

/** Relational core: scans, joins, windows, aggregates, set ops,
  * ordering and scalar functions (SURVEY §2.1–2.8 A/F/J/O/U/W ids).
  */
private[graft] object QueriesCore {

  /** One synchronous 3-truss round of the g_truss oracle: enumerate
    * triangles of `in` by the degree-ordered wedge join (the
    * GraphOps.triangles mirror), credit each triangle to its three
    * id-normalized edges, keep support >= 1. Emits CTEs suffixed `$i`;
    * the surviving edge set is `te$i`, the support table `ts$i`. All
    * MATERIALIZED — DuckDB inlines multiply-referenced CTEs and a
    * per-round re-expansion of the minhash pipeline OOMs (the g_kcore
    * lesson).
    */
  private def trussRoundSql(i: Int, in: String): String =
    s"""tdg$i AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS node FROM $in UNION ALL SELECT b FROM $in) GROUP BY node),
       |to$i AS MATERIALIZED (SELECT
       |    CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS lo,
       |    CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS hi,
       |    CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dhi
       |  FROM (SELECT $in.a, $in.b, x.deg AS da, y.deg AS db FROM $in
       |    JOIN tdg$i x ON x.node = $in.a JOIN tdg$i y ON y.node = $in.b)),
       |ttr$i AS MATERIALIZED (SELECT wg.lo, wg.x, wg.y FROM (
       |    SELECT e1.lo, e1.hi AS x, e2.hi AS y FROM to$i e1 JOIN to$i e2 ON e1.lo = e2.lo
       |    WHERE e1.dhi < e2.dhi OR (e1.dhi = e2.dhi AND e1.hi < e2.hi)) wg
       |  JOIN to$i o ON o.lo = wg.x AND o.hi = wg.y),
       |ts$i AS MATERIALIZED (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support FROM (
       |    SELECT least(lo, x) AS a, greatest(lo, x) AS b FROM ttr$i
       |    UNION ALL SELECT least(lo, y), greatest(lo, y) FROM ttr$i
       |    UNION ALL SELECT least(x, y), greatest(x, y) FROM ttr$i)
       |  GROUP BY a, b HAVING COUNT(*) >= 1),
       |te$i AS MATERIALIZED (SELECT a, b FROM ts$i)""".stripMargin

  def entries: Seq[Q] = Seq(

    // A1/A5/A9 + S1 scan: pricing summary, exact scaled-integer money.
    Q("a1_pricing_summary",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        // literal cast to the column's own type (TIMESTAMP vs NTZ varies by
        // parquet writer) so the comparison stays same-type and pushes down
        li.filter(col("l_shipdate") <=
          lit("1998-09-02").cast(li.schema("l_shipdate").dataType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100d).cast("long")).as("sum_base_cents"),
          sum(round(col("l_extendedprice") * (lit(1d) - col("l_discount")) * 10000d)
            .cast("long")).as("sum_disc_e4"),
          sum(round(col("l_extendedprice") * (lit(1d) - col("l_discount"))
              * (lit(1d) + col("l_tax")) * 1000000d)
            .cast("long")).as("sum_charge_e6"),
          count(lit(1)).as("n"))
        .withColumn("avg_qty", col("sum_qty").cast("double") / col("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(SUM(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
        |  CAST(SUM(CAST(round(((l_extendedprice * (1 - l_discount)) * (1 + l_tax)) * 1000000) AS BIGINT)) AS BIGINT) AS sum_charge_e6,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),


    // S1 + P2-style predicates: selective scan with pushed filters.
    Q("s1_scan_prune",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        li.filter(col("l_shipdate") >=
            lit("1995-01-01").cast(li.schema("l_shipdate").dataType)
          && col("l_discount").between(0.02, 0.08) && col("l_quantity") < 24)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.08 AND l_quantity < 24
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),


    // Large-large shuffled equi join + agg (engine inherits from Spark;
    // declared per SURVEY §2.3 coverage note).
    Q("j2_equi_agg",
      (s, dir) => Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "F")
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * (lit(1d) - col("l_discount")) * 10000d)
            .cast("long")).as("revenue_e4"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),


    // J5/J7 — broadcast star join over the dimension chain.
    Q("j5_broadcast_star",
      (s, dir) => Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100d).cast("long")).as("sum_cents"))
        .orderBy(col("r_name"), col("n_name")),
      Some("""SELECT r_name, n_name, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),


    // J7/S9 — semi + anti join (EXISTS / NOT EXISTS; the incremental-skip
    // dual of skip_if_exist).
    Q("j7_semi_anti",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
          .withColumn("tag", lit("with_orders"))
        val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
          .withColumn("tag", lit("no_orders"))
        semi.unionByName(anti).select(col("tag"), col("c_mktsegment"), col("n"))
          .orderBy(col("tag"), col("c_mktsegment"))
      },
      Some("""SELECT * FROM (
        |  SELECT 'with_orders' AS tag, c_mktsegment, COUNT(*) AS n FROM customer
        |    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) GROUP BY c_mktsegment
        |  UNION ALL
        |  SELECT 'no_orders' AS tag, c_mktsegment, COUNT(*) AS n FROM customer
        |    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) GROUP BY c_mktsegment
        |) t ORDER BY tag, c_mktsegment""".stripMargin)),


    // O4/O6 — global top-k with deterministic tie-break.
    Q("o6_topk",
      (s, dir) => Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100d).cast("long").as("cents"))
        .orderBy(col("cents").desc, col("o_orderkey"))
        .limit(15)
        .orderBy(col("cents").desc, col("o_orderkey")),
      Some("""SELECT * FROM (
        |  SELECT o_orderkey, o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders ORDER BY cents DESC, o_orderkey LIMIT 15
        |) t ORDER BY cents DESC, o_orderkey""".stripMargin)),


    // A-agg extension: rollup (grouping sets) — free from Spark, declared
    // per SURVEY §2.4 note.
    Q("a_rollup",
      (s, dir) => Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy(col("rf"), col("ls")),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  COUNT(*) AS n, CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin)),


    // U-ops — exact set operations (SURVEY §2.7 note).
    Q("u_setops",
      (s, dir) => {
        val ck = Tables.customer(s, dir)
          .select(col("c_nationkey").cast("long").as("k")).distinct()
        val sk = Tables.supplier(s, dir)
          .select(col("s_nationkey").cast("long").as("k")).distinct()
        ck.except(sk).withColumn("tag", lit("except"))
          .unionByName(ck.intersect(sk).withColumn("tag", lit("intersect")))
          .select(col("tag"), col("k"))
          .orderBy(col("tag"), col("k"))
      },
      Some("""SELECT * FROM (
        |  SELECT 'except' AS tag, k FROM (
        |    SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS k FROM customer
        |    EXCEPT SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS k FROM supplier) a
        |  UNION ALL
        |  SELECT 'intersect' AS tag, k FROM (
        |    SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS k FROM customer
        |    INTERSECT SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS k FROM supplier) b
        |) t ORDER BY tag, k""".stripMargin)),


    // W1 — gap-based sessionization of point events (utils.py:64-102,
    // uncapped flavor; gap = 4 h).
    Q("w1_sessionize",
      (s, dir) => SegmentOps.sessionizePoints(
          evPoints(s, dir), "user_id", "tus", "event_id", lit(4L * HOUR_US))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("tus")).as("start_us"), max(col("tus")).as("end_us"),
          count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("user_id"), col("session_id")),
      Some(s"""WITH $evPointsSqlCte,
        |f AS (SELECT user_id, event_id, tus, cents,
        |  CASE WHEN lag(tus) OVER w IS NULL
        |         OR tus - lag(tus) OVER w > 14400000000
        |       THEN 1 ELSE 0 END AS newflag
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT user_id, tus, cents,
        |  CAST(SUM(newflag) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, MIN(tus) AS start_us, MAX(tus) AS end_us,
        |  COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),


    // W1 interval flavor — interval-union coalescing (the separation-
    // economy merge, separation_filter.py:168).
    Q("w1_coalesce_intervals",
      (s, dir) => chunks(s, dir)
        .select(col("user_id"), col("session_id"), col("start_us"), col("end_us"), col("n_merged"))
        .orderBy(col("user_id"), col("session_id")),
      Some(s"""WITH $chunksSqlCte
        |SELECT user_id, session_id, start_us, end_us, n_merged
        |FROM ch ORDER BY user_id, session_id""".stripMargin)),


    // J4 — adjacent-row gap construction with neighbor features
    // (separation_filter.py:108-157) as lead/lag, not a join.
    Q("j4_adjacent_gaps",
      (s, dir) => SegmentOps.adjacentGaps(
          Tables.eventIntervals(s, dir), "user_id", "s_us", "e_us", "event_id", "cents")
        .select(col("user_id"), col("prev_id"), col("gap_start"), col("gap_end"),
          col("prev_feature"), col("next_feature"),
          (col("prev_feature").cast("double") /
            (col("prev_feature") + col("next_feature")).cast("double")).as("r_prev"))
        .orderBy(col("user_id"), col("prev_id")),
      Some(s"""WITH $evIntervalsSqlCte,
        |l AS (SELECT user_id, event_id AS prev_id, s_us, e_us, cents,
        |  lead(s_us) OVER w AS next_start, lead(cents) OVER w AS next_feature
        |  FROM i WINDOW w AS (PARTITION BY user_id ORDER BY s_us, event_id))
        |SELECT user_id, prev_id, e_us AS gap_start, next_start AS gap_end,
        |  cents AS prev_feature, next_feature,
        |  CAST(cents AS DOUBLE) / CAST(cents + next_feature AS DOUBLE) AS r_prev
        |FROM l WHERE next_start IS NOT NULL AND next_start >= e_us
        |ORDER BY user_id, prev_id""".stripMargin)),


    // W6 — cumulative-sum budget cap (host_rematch.py:100-109).
    Q("w6_cumsum_cap",
      (s, dir) => SegmentOps.cumsumCap(
          Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
            round(col("o_totalprice") * 100d).cast("long").as("cents")),
          "o_custkey", "cents", "o_orderkey", "cents", lit(40000000L))
        .select(col("o_custkey"), col("o_orderkey"), col("cents"), col("cum"))
        .orderBy(col("o_custkey"), col("cum")),
      Some("""WITH o AS (SELECT o_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |c AS (SELECT o_custkey, o_orderkey, cents,
        |  CAST(SUM(cents) OVER (PARTITION BY o_custkey ORDER BY cents DESC, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM o)
        |SELECT o_custkey, o_orderkey, cents, cum FROM c WHERE cum <= 40000000
        |ORDER BY o_custkey, cum""".stripMargin)),


    // W7/P7 — monotone running-max dedup (silero_vad.py:129-139).
    Q("w7_runmax_dedup",
      (s, dir) => SegmentOps.runningMaxDedup(
          evPoints(s, dir), "user_id", "tus", "event_id", "cents")
        .select(col("user_id"), col("event_id"), col("cents"))
        .orderBy(col("user_id"), col("event_id")),
      Some(s"""WITH $evPointsSqlCte,
        |m AS (SELECT user_id, event_id, cents,
        |  MAX(cents) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
        |  FROM e)
        |SELECT user_id, event_id, cents FROM m
        |WHERE runmax IS NULL OR cents > runmax
        |ORDER BY user_id, event_id""".stripMargin)),


    // A6/O4 — argmax per group with deterministic tie-break
    // (speaker_rematch.py:214-221).
    Q("a6_argmax",
      (s, dir) => evPoints(s, dir)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("cents").desc, col("event_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("cents"))
        .orderBy(col("user_id")),
      Some(s"""WITH $evPointsSqlCte,
        |r AS (SELECT user_id, event_id, cents,
        |  row_number() OVER (PARTITION BY user_id ORDER BY cents DESC, event_id) AS rn FROM e)
        |SELECT user_id, event_id, cents FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),


    // A8 — distinct-set accumulation (silero_vad.py:130,143-144), both as
    // an exact distinct count and an order-normalized set string.
    Q("a8_distinct_sets",
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(countDistinct(col("event_type")).as("n_types"),
          array_join(array_sort(collect_set(col("event_type"))), ",").as("types"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, COUNT(DISTINCT event_type) AS n_types,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),


    // J8/W9 — sweep-line over overlapping intervals: elementary intervals
    // with active-interval counts (diarization.py:24-64; ends sort before
    // starts at boundary ties, diarization.py:39).
    Q("j8_sweepline",
      (s, dir) => SegmentOps.sweepLineCounts(
          Tables.eventIntervals(s, dir), "user_id", "s_us", "e_us")
        .orderBy(col("user_id"), col("s")),
      Some(s"""WITH $evIntervalsSqlCte,
        |b AS (SELECT user_id, s_us AS t, CAST(1 AS BIGINT) AS delta FROM i
        |      UNION ALL SELECT user_id, e_us AS t, CAST(-1 AS BIGINT) AS delta FROM i),
        |c AS (SELECT user_id, t, delta,
        |  CAST(SUM(delta) OVER w AS BIGINT) AS n_active,
        |  lead(t) OVER w AS next_t
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY t, delta
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, t AS s, next_t AS e, n_active FROM c
        |WHERE n_active > 0 AND next_t > t ORDER BY user_id, s""".stripMargin)),


    // J1 — interval-containment join: assign each 'click' interval to its
    // merged chunk (separation_filter.py:190-236). Equi key on user keeps
    // it a hash/SMJ join, never a nested loop.
    Q("j1_containment",
      (s, dir) => {
        val segs = Tables.eventIntervals(s, dir)
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("s_us"), col("e_us"))
        SegmentOps.containmentJoin(segs, chunks(s, dir), "user_id",
            "s_us", "e_us", "start_us", "end_us")
          .select(col("s.user_id").as("user_id"), col("s.event_id").as("event_id"),
            col("c.start_us").as("chunk_start"), col("c.end_us").as("chunk_end"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(containmentOracleSql)),


    // J1 via the custom physical operator (plans/ContainmentJoin):
    // same semantics and oracle as j1_containment, executed by the
    // sorted-merge monotone-cursor SparkPlan instead of a generic join.
    Q("j1_sorted_containment",
      (s, dir) => {
        val segs = Tables.eventIntervals(s, dir)
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("s_us"), col("e_us"))
        val ch = chunks(s, dir)
          .select(col("user_id").as("c_user"),
            col("start_us").as("chunk_start"), col("end_us").as("chunk_end"))
        graft.plans.ContainmentJoin.sortedContainmentJoin(
            segs, ch, "user_id", "c_user", "s_us", "e_us", "chunk_start", "chunk_end")
          .select(col("user_id"), col("event_id"), col("chunk_start"), col("chunk_end"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(containmentOracleSql)),


    // J3 — max-overlap interval join, argmax with first-max tie-break
    // (speaker_rematch.py:224-234).
    Q("j3_max_overlap",
      (s, dir) => {
        // Durations widened 100× (exact integer multiply) so intervals of
        // different types genuinely overlap and the argmax is exercised.
        val ev = Tables.events(s, dir)
        val t = Tables.tsUs(ev)
        val i = ev.select(
          col("user_id"), col("event_id"), col("event_type"),
          t.as("s_us"),
          (t + round(col("value") * 1e6d).cast("long") * lit(100L))
            .as("e_us"))
        val a = i.filter(col("event_type") === "click")
        val b = i.filter(col("event_type") === "view")
        SegmentOps.maxOverlapJoin(a, b, "user_id", "event_id", "event_id",
            "s_us", "e_us", "s_us", "e_us")
          .select(col("l.user_id").as("user_id"), col("l.event_id").as("a_id"),
            col("r.event_id").as("b_id"), col("overlap"))
          .orderBy(col("user_id"), col("a_id"))
      },
      Some("""WITH i AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS s_us,
        |  epoch_us(ts) + CAST(round(value*1.0E6) AS BIGINT) * 100 AS e_us FROM events),
        |a AS (SELECT user_id, event_id, s_us, e_us FROM i WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id, s_us, e_us FROM i WHERE event_type = 'view'),
        |j AS (SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id,
        |  least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us) AS overlap
        |  FROM a JOIN b ON a.user_id = b.user_id AND a.s_us < b.e_us AND b.s_us < a.e_us),
        |r AS (SELECT user_id, a_id, b_id, overlap,
        |  row_number() OVER (PARTITION BY user_id, a_id ORDER BY overlap DESC, b_id) AS rn
        |  FROM j WHERE overlap > 0)
        |SELECT user_id, a_id, b_id, overlap FROM r WHERE rn = 1
        |ORDER BY user_id, a_id""".stripMargin)),


    // U4 — interval anti-overlap exclusion (utils.py:155-183): 'view'
    // intervals overlapping no 'error' interval of the same user.
    Q("u4_anti_overlap",
      (s, dir) => {
        val i = Tables.eventIntervals(s, dir)
        SegmentOps.antiOverlapJoin(
            i.filter(col("event_type") === "view"),
            i.filter(col("event_type") === "error"),
            "user_id", "s_us", "e_us", "s_us", "e_us")
          .select(col("user_id"), col("event_id"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(s"""WITH $evIntervalsSqlCte
        |SELECT v.user_id AS user_id, v.event_id AS event_id
        |FROM i v WHERE v.event_type = 'view' AND NOT EXISTS (
        |  SELECT 1 FROM i n WHERE n.event_type = 'error'
        |    AND n.user_id = v.user_id AND v.s_us < n.e_us AND n.s_us < v.e_us)
        |ORDER BY user_id, event_id""".stripMargin)),


    // U4 full composite — merge-with-noisy-skipping (utils.py:155-183):
    // drop segments overlapping noise (anti-overlap), then sessionize
    // with an EXTRA break whenever a noisy interval sits inside the gap
    // between consecutive members (the reference's session split at
    // noisy boundaries).
    Q("u4_noisy_sessions",
      (s, dir) => {
        val i = Tables.eventIntervals(s, dir)
        val noisy = i.filter(col("event_type") === "error")
          .select(col("user_id").as("n_user"), col("s_us").as("n_s"), col("e_us").as("n_e"))
        val clean = SegmentOps.antiOverlapJoin(
          i.filter(col("event_type") =!= "error"),
          i.filter(col("event_type") === "error"),
          "user_id", "s_us", "e_us", "s_us", "e_us")
        val w = Window.partitionBy(col("user_id")).orderBy(col("s_us"), col("event_id"))
        val withPrev = clean.withColumn("prev_end",
          max(col("e_us")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        val noisyBreaks = withPrev.filter(col("prev_end").isNotNull)
          .select(col("user_id"), col("event_id"), col("prev_end"), col("s_us"))
          .join(noisy, col("user_id") === col("n_user") &&
            col("n_s") >= col("prev_end") && col("n_e") <= col("s_us"), "left_semi")
          .select(col("user_id"), col("event_id"))
          .withColumn("noisy_break", lit(1L))
        withPrev.join(noisyBreaks, Seq("user_id", "event_id"), "left")
          .withColumn("brk",
            when(col("prev_end").isNull || col("s_us") - col("prev_end") > lit(4L * HOUR_US)
              || col("noisy_break") === 1L, 1L).otherwise(0L))
          .withColumn("session_id", sum(col("brk"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(min(col("s_us")).as("start_us"), max(col("e_us")).as("end_us"),
            count(lit(1)).as("n_members"))
          .orderBy(col("user_id"), col("session_id"))
      },
      Some(s"""WITH $evIntervalsSqlCte,
        |clean AS (SELECT v.user_id, v.event_id, v.s_us, v.e_us FROM i v
        |  WHERE v.event_type <> 'error' AND NOT EXISTS (
        |    SELECT 1 FROM i n WHERE n.event_type = 'error'
        |      AND n.user_id = v.user_id AND v.s_us < n.e_us AND n.s_us < v.e_us)),
        |p AS (SELECT user_id, event_id, s_us, e_us,
        |  MAX(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM clean),
        |f AS (SELECT user_id, event_id, s_us, e_us,
        |  CASE WHEN prev_end IS NULL OR s_us - prev_end > 14400000000
        |    OR EXISTS (SELECT 1 FROM i n WHERE n.event_type = 'error'
        |      AND n.user_id = p.user_id AND n.s_us >= p.prev_end AND n.e_us <= p.s_us)
        |  THEN 1 ELSE 0 END AS brk FROM p),
        |s AS (SELECT user_id, s_us, e_us,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY s_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, MIN(s_us) AS start_us, MAX(e_us) AS end_us,
        |  COUNT(*) AS n_members
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),


    // W3 — sliding hop windows over long segments with early-stop
    // semantics (separation_filter.py:242-260): window 60 s, hop 25 s.
    Q("w3_sliding_windows",
      (s, dir) => SegmentOps.slidingWindows(chunks(s, dir), "start_us", "end_us",
          60000000L, 25000000L)
        .select(col("user_id"), col("start_us"), col("win_start"), col("win_end"))
        .orderBy(col("user_id"), col("win_start")),
      Some(s"""WITH $chunksSqlCte,
        |w AS (SELECT user_id, start_us, end_us,
        |  unnest(generate_series(0, (end_us - start_us) // 25000000)) AS i FROM ch)
        |SELECT user_id, start_us, start_us + i * 25000000 AS win_start,
        |  least(start_us + i * 25000000 + 60000000, end_us) AS win_end
        |FROM w WHERE i = 0 OR start_us + (i - 1) * 25000000 + 60000000 < end_us
        |ORDER BY user_id, win_start""".stripMargin)),


    // W4 — hopped fixed-length windows (batch flavor; dnsmos.py:130-147
    // hop structure): every event lands in window/hop windows; explode
    // the hop index and aggregate per aligned window start.
    Q("w4_hopped_windows",
      (s, dir) => {
        // 4 h windows hopping by 1 h: every event lands in exactly
        // win/hop = 4 aligned windows, generated by exploding the hop
        // index — the batch dual of streaming window(ts, "4h", "1h").
        val hop = HOUR_US
        evPoints(s, dir)
          .withColumn("k", explode(sequence(lit(0L), lit(3L))))
          .withColumn("ws", (expr("tus div 3600000000") - col("k")) * lit(hop))
          .groupBy(col("user_id"), col("ws"))
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
          .orderBy(col("user_id"), col("ws"))
      },
      Some(s"""WITH $evPointsSqlCte,
        |h AS (SELECT user_id, cents,
        |  (tus // 3600000000 - r.k) * 3600000000 AS ws
        |  FROM e, range(4) r(k))
        |SELECT user_id, ws, COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM h GROUP BY user_id, ws ORDER BY user_id, ws""".stripMargin)),


    // A4-exact — interval-union length per key via a custom typed
    // Aggregator with true partial-merge semantics (map-side combine);
    // oracle = the sweep-line formulation of the same quantity.
    Q("a_union_length",
      (s, dir) => {
        val unionLen = udaf(new graft.expr.IntervalUnionAgg())
        Tables.eventIntervals(s, dir)
          .groupBy(col("user_id"))
          .agg(unionLen(col("s_us"), col("e_us")).as("union_us"),
            sum(col("e_us") - col("s_us")).as("naive_sum_us"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH $evIntervalsSqlCte,
        |b AS (SELECT user_id, s_us AS t, CAST(1 AS BIGINT) AS delta FROM i
        |      UNION ALL SELECT user_id, e_us AS t, CAST(-1 AS BIGINT) AS delta FROM i),
        |c AS (SELECT user_id, t, delta,
        |  CAST(SUM(delta) OVER w AS BIGINT) AS n_active,
        |  lead(t) OVER w AS next_t
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY t, delta
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |u AS (SELECT user_id, CAST(SUM(next_t - t) AS BIGINT) AS union_us
        |  FROM c WHERE n_active > 0 AND next_t > t GROUP BY user_id),
        |n AS (SELECT user_id, CAST(SUM(e_us - s_us) AS BIGINT) AS naive_sum_us
        |  FROM i GROUP BY user_id)
        |SELECT u.user_id, u.union_us, n.naive_sum_us
        |FROM u JOIN n ON n.user_id = u.user_id ORDER BY u.user_id""".stripMargin)),


    // F5/F6 — string functions: zfill, label concat, path-ish head
    // (silero_vad.py:149, speaker_rematch.py:144, utils.py:18-22).
    Q("f5_strings",
      (s, dir) => Tables.part(s, dir)
        .select(col("p_partkey"),
          lpad(col("p_partkey").cast("string"), 7, "0").as("zfill"),
          concat(lit("speaker_"), regexp_extract(col("p_brand"), "([0-9]+)", 1)).as("label"),
          substring_index(col("p_type"), " ", 1).as("type_head"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, lpad(CAST(p_partkey AS VARCHAR), 7, '0') AS zfill,
        |  'speaker_' || regexp_extract(p_brand, '([0-9]+)', 1) AS label,
        |  split_part(p_type, ' ', 1) AS type_head
        |FROM part ORDER BY p_partkey""".stripMargin)),


    // F3 — fixed-coefficient polynomial as a native codegen'd Catalyst
    // Expression (dnsmos.py:91-104), aggregated in the exact domain.
    Q("f3_polyval",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .withColumn("p", polyvalMos(col("l_discount")))
          .groupBy(col("l_returnflag"))
          .agg(sum(round(col("p") * 100000000d).cast("long")).as("sum_p_e8"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
        |  CAST(SUM(CAST(round(((((0.99 * l_discount) + (-2.5)) * l_discount + 1.7) * l_discount + 0.06) * 100000000) AS BIGINT)) AS BIGINT) AS sum_p_e8,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),


    // F11-adjacent — JSON attribute extraction from the events props
    // column (the reference's config/JSON surface, utils.py:25-46).
    Q("f_json_extract",
      (s, dir) => Tables.events(s, dir)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("user_id"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))
    ,


    // F11 — JSON serialize (to_json over a struct) verified by a
    // roundtrip: every value extracted back out of the serialized string
    // must aggregate identically to the base columns the oracle reads
    // directly — the serialize→extract pair is the identity.
    Q("f_json_roundtrip",
      (s, dir) => Tables.events(s, dir)
        .select(col("user_id"),
          to_json(struct(col("event_id").as("id"), col("event_type").as("t"))).as("j"))
        .select(col("user_id"),
          get_json_object(col("j"), "$.id").cast("long").as("rt_id"),
          get_json_object(col("j"), "$.t").as("rt_type"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("rt_id")).as("sum_id"),
          countDistinct(col("rt_type")).as("n_types"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
        |  COUNT(DISTINCT event_type) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),


    // J-series — salted replicate join: hot-key skew control when the
    // small side can't broadcast and AQE's skew split is pinned by a
    // reused shuffle. Result is exactly the plain inner join (the oracle
    // IS the plain join); the salt only reshapes the plan — partition-id
    // salt on the probe side, explode-replicated build side, equi join
    // on (key, salt).
    Q("j_salted_skew",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
        val p = Tables.part(s, dir)
          .select(col("p_partkey").as("l_partkey"), col("p_brand"))
        SegmentOps.saltedReplicateJoin(li, p, "l_partkey", 8)
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("l_extendedprice") * (lit(1d) - col("l_discount")) * 10000d)
              .cast("long")).as("revenue_e4"))
          .orderBy(col("p_brand"))
      },
      Some("""SELECT p_brand, COUNT(*) AS n,
        |  CAST(SUM(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),


    // J9 — AS-OF join (SegmentOps.asofJoin): each click event picks up
    // the user's most recent purchase at-or-before it. The merged-stream
    // window formulation — one shuffle on user_id, no join operator, no
    // range explosion. DuckDB's native ASOF LEFT JOIN is the oracle
    // (right side pre-deduped to one row per (user, ts), max event_id
    // wins, mirroring the operator's tie rule).
    Q("j9_asof_join",
      (s, dir) => {
        val ev0 = Tables.events(s, dir)
        val ev = ev0.select(col("event_id"), col("user_id"),
            Tables.tsUs(ev0).as("tus"), col("event_type"),
            round(col("value") * 100d).cast("long").as("cents"))
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "tus")
        val buys = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "tus", "cents")
        SegmentOps.asofJoin(clicks, buys, "user_id", "tus", "tus", "event_id",
            Seq("cents"))
          .select(col("user_id"), col("event_id"), col("tus"),
            col("asof.tus").as("prev_tus"), col("asof.cents").as("prev_cents"),
            (col("tus") - col("asof.tus")).as("lag_us"))
          .orderBy(col("user_id"), col("tus"), col("event_id"))
      },
      Some(asofOracleSql)),


    // L115 — LINK-GRAPH PAGERANK (integer fixed-point, 2 damped
    // iterations — GraphOps.pageRank scaladoc for the exact floor-
    // division semantics): the link-centrality quality weight of
    // web-corpus curation, run here over a corpus-sized derived graph
    // so |V| = |events|: each event links to the user's next event
    // (browse chains) and to the earliest event of its type (type
    // hubs). Floor division + long sums = bit-exact cross-engine; the
    // hub join broadcasts (|event_type| rows), the rank loop shuffles
    // only the O(|V|) rank table per iteration against the cached edge
    // table.
    Q("g_pagerank",
      (s, dir) => {
        // the session-staged event link graph (chain + hub edges) —
        // twelve g_* queries share this exact derivation (QuerySupport)
        val edges = sessionEventEdges(s, dir)
        GraphOps.pageRank(edges, "src", "dst", iters = 2)
          .orderBy(col("node"))
      },
      Some(s"""WITH $eventGraphSqlCte,
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nd),
        |c1 AS (SELECT ed.dst AS node, SUM(r.pr // od.odeg) AS s
        |  FROM ed JOIN od USING (src) JOIN r0 r ON r.node = ed.src GROUP BY 1),
        |r1 AS (SELECT nd.node, CAST(150000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS pr
        |  FROM nd LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT ed.dst AS node, SUM(r.pr // od.odeg) AS s
        |  FROM ed JOIN od USING (src) JOIN r1 r ON r.node = ed.src GROUP BY 1),
        |r2 AS (SELECT nd.node, CAST(150000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS pr
        |  FROM nd LEFT JOIN c2 USING (node))
        |SELECT node, pr FROM r2 ORDER BY node""".stripMargin)),

    // L220 — MODULARITY AUDIT of the user partition over the event
    // link graph: browse-chain edges live inside a user's community,
    // type-hub edges cross them — Q prices exactly how community-like
    // the session structure is before those labels drive sampling or
    // sharding. Q·4m² per community is an exact BIGINT (Newman-Girvan,
    // undirected convention: each edge adds 1 to m, 2 to the degree
    // mass); unlabeled endpoints and self-loops fail loudly.
    Q("g_modularity",
      (s, dir) => {
        // the session-staged event link graph (chain + hub edges) —
        // twelve g_* queries share this exact derivation (QuerySupport)
        val edges = sessionEventEdges(s, dir)
        val labels = evPoints(s, dir).select(col("event_id").as("node"),
          col("user_id").as("comm"))
        GraphOps.modularity(edges, "src", "dst",
            labels, "node", "comm")
          .orderBy(col("community"))
      },
      Some(s"""WITH $eventGraphSqlCte,
        |lb AS (SELECT event_id AS node, CAST(user_id AS VARCHAR) AS comm
        |  FROM e),
        |tg AS (SELECT ls.comm AS cs, ld.comm AS cd
        |  FROM ed JOIN lb ls ON ls.node = ed.src
        |    JOIN lb ld ON ld.node = ed.dst),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM tg),
        |dg AS (SELECT comm, CAST(COUNT(*) AS BIGINT) AS degree_sum FROM (
        |    SELECT cs AS comm FROM tg UNION ALL SELECT cd FROM tg) u
        |  GROUP BY 1),
        |ic AS (SELECT cs AS comm, CAST(COUNT(*) AS BIGINT) AS in_edges
        |  FROM tg WHERE cs = cd GROUP BY 1),
        |nn AS (SELECT CAST(user_id AS VARCHAR) AS comm,
        |    CAST(COUNT(*) AS BIGINT) AS n_nodes FROM e GROUP BY 1)
        |SELECT nn.comm AS community, nn.n_nodes,
        |  COALESCE(ic.in_edges, CAST(0 AS BIGINT)) AS in_edges,
        |  COALESCE(dg.degree_sum, CAST(0 AS BIGINT)) AS degree_sum, m.m,
        |  4 * m.m * COALESCE(ic.in_edges, 0)
        |    - COALESCE(dg.degree_sum, 0) * COALESCE(dg.degree_sum, 0)
        |    AS q_num,
        |  4 * m.m * m.m AS q_den
        |FROM nn LEFT JOIN dg USING (comm) LEFT JOIN ic USING (comm)
        |CROSS JOIN m ORDER BY community""".stripMargin)),

    // L222 — DEGREE ASSORTATIVITY of the event link graph (Newman
    // 2002): hub-to-hub vs hub-to-leaf mixing — the link-farm signal
    // read before L115's link-derived quality weights ship. Per-edge
    // degree products and their sums exact BIGINTs; the two final
    // Pearson products formed in DECIMAL(38,0)/HUGEINT (hub degrees
    // square past longs), r one double division.
    Q("g_assortativity",
      (s, dir) => {
        // the session-staged event link graph (chain + hub edges) —
        // twelve g_* queries share this exact derivation (QuerySupport)
        val edges = sessionEventEdges(s, dir)
        GraphOps.assortativity(edges, "src", "dst")
      },
      Some(s"""WITH $eventGraphSqlCte,
        |dg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed) u
        |  GROUP BY 1),
        |tg AS (SELECT dj.deg AS j, dk.deg AS k
        |  FROM ed JOIN dg dj ON dj.node = ed.src
        |    JOIN dg dk ON dk.node = ed.dst),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(j * k) AS BIGINT) AS s_jk,
        |    CAST(SUM(j + k) AS BIGINT) AS s_jpk,
        |    CAST(SUM(j * j + k * k) AS BIGINT) AS s_j2k2 FROM tg)
        |SELECT m, s_jk, s_jpk, s_j2k2,
        |  CASE WHEN 2 * CAST(m AS HUGEINT) * s_j2k2
        |      - CAST(s_jpk AS HUGEINT) * s_jpk <> 0
        |    THEN CAST(4 * CAST(m AS HUGEINT) * s_jk
        |        - CAST(s_jpk AS HUGEINT) * s_jpk AS DOUBLE)
        |      / CAST(2 * CAST(m AS HUGEINT) * s_j2k2
        |        - CAST(s_jpk AS HUGEINT) * s_jpk AS DOUBLE)
        |    ELSE -2.0 END AS r
        |FROM ag""".stripMargin)),

    // L237 — DEGREE-DISTRIBUTION PROFILE of the event link graph:
    // node counts, degree bounds, and degree mass per power-of-2
    // bucket (floor(log2) via exact binary-string length, never IEEE
    // log) — the one-table shape read behind every hub cap here
    // (L230's degCap, the triangle/wedge posture).
    Q("g_degree_profile",
      (s, dir) => {
        // the session-staged event link graph (chain + hub edges) —
        // twelve g_* queries share this exact derivation (QuerySupport)
        val edges = sessionEventEdges(s, dir)
        GraphOps.degreeProfile(edges, "src", "dst")
          .orderBy(col("bucket"))
      },
      Some(s"""WITH $eventGraphSqlCte,
        |dgp AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed) u
        |  GROUP BY 1),
        |bk AS (SELECT CAST(len(printf('%b', deg)) - 1 AS BIGINT) AS bucket,
        |    deg FROM dgp)
        |SELECT bucket,
        |  CAST(1 << CAST(bucket AS INTEGER) AS BIGINT) AS lo_deg,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(MIN(deg) AS BIGINT) AS min_deg,
        |  CAST(MAX(deg) AS BIGINT) AS max_deg,
        |  CAST(SUM(deg) AS BIGINT) AS sum_deg
        |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // L230 — NEIGHBORHOOD-JACCARD LINK PREDICTION on the event graph:
    // exact Jaccard of hub-pruned neighborhoods for every pair sharing
    // a neighbor (degCap 16 — the winnow posture makes the wedge join
    // ≤ cap² per shared neighbor, and hubs carry no signal anyway);
    // top-50 pairs via distributed TakeOrderedAndProject with a total
    // deterministic tie-break.
    Q("g_neighbor_jaccard",
      (s, dir) => {
        // the session-staged event link graph (chain + hub edges) —
        // twelve g_* queries share this exact derivation (QuerySupport)
        val edges = sessionEventEdges(s, dir)
        GraphOps.neighborJaccard(edges, "src", "dst",
          degCap = 16, topK = 50)
      },
      Some(s"""WITH $eventGraphSqlCte,
        |und AS (SELECT DISTINCT node, nbr FROM (
        |    SELECT src AS node, dst AS nbr FROM ed
        |    UNION ALL SELECT dst, src FROM ed) u WHERE node <> nbr),
        |dgj AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM und GROUP BY 1),
        |pr AS (SELECT und.node, und.nbr FROM und
        |  JOIN dgj ON dgj.node = und.nbr WHERE dgj.deg <= 16),
        |pd AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS pdeg
        |  FROM pr GROUP BY 1),
        |cm AS (SELECT a.node AS u, b.node AS v,
        |    CAST(COUNT(*) AS BIGINT) AS common
        |  FROM pr a JOIN pr b ON a.nbr = b.nbr AND a.node < b.node
        |  GROUP BY 1, 2),
        |j AS (SELECT u, v, common, du.pdeg AS deg_u, dv.pdeg AS deg_v,
        |    (common * 1000000) // (du.pdeg + dv.pdeg - common)
        |      AS jaccard_e6
        |  FROM cm JOIN pd du ON du.node = cm.u JOIN pd dv ON dv.node = cm.v)
        |SELECT u, v, common, deg_u, deg_v,
        |  CAST(jaccard_e6 AS BIGINT) AS jaccard_e6
        |FROM j ORDER BY jaccard_e6 DESC, common DESC, u, v
        |LIMIT 50""".stripMargin)),

    // L223 — EDGE RECIPROCITY of the event link graph: mutual-link
    // rate over the distinct directed edge set — one distinct pass +
    // one swapped-key semi-join, e6-floored rate.
    Q("g_reciprocity",
      (s, dir) => {
        // the session-staged event link graph (chain + hub edges) —
        // twelve g_* queries share this exact derivation (QuerySupport)
        val edges = sessionEventEdges(s, dir)
        GraphOps.reciprocity(edges, "src", "dst")
      },
      Some(s"""WITH $eventGraphSqlCte,
        |de AS (SELECT DISTINCT src, dst FROM ed),
        |rc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_recip FROM de a
        |  WHERE EXISTS (SELECT 1 FROM de b
        |    WHERE b.src = a.dst AND b.dst = a.src)),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM de)
        |SELECT mm.m, rc.n_recip,
        |  CAST(CASE WHEN mm.m > 0 THEN (rc.n_recip * 1000000) // mm.m
        |    ELSE -1 END AS BIGINT) AS recip_e6
        |FROM mm CROSS JOIN rc""".stripMargin)),


    // L117 — PERSONALIZED PAGERANK seed expansion (Haveliwala 2002):
    // rank nodes by random-walk proximity to a trusted seed set (the
    // type-hub events here) — the "expand a hand-audited allowlist"
    // curation move. Teleport mass lands only on seeds; same integer
    // fixed point, same per-iteration join shape as g_pagerank.
    Q("g_ppr",
      (s, dir) => {
        // the session-staged event link graph (chain + hub edges) —
        // twelve g_* queries share this exact derivation (QuerySupport)
        val edges = sessionEventEdges(s, dir)
        val hubs = evPoints(s, dir).groupBy(col("event_type"))
          .agg(min(col("event_id")).as("hub"))
        GraphOps.personalizedPageRank(edges,
            "src", "dst", hubs, "hub", iters = 2)
          .filter(col("ppr") > 0L)
          .orderBy(col("node"))
      },
      Some(s"""WITH $eventGraphSqlCte,
        |sd AS (SELECT DISTINCT hub AS node FROM hb),
        |ns AS (SELECT nd.node, CASE WHEN sd.node IS NULL THEN 0 ELSE 1 END AS seed
        |  FROM nd LEFT JOIN sd ON sd.node = nd.node),
        |r0 AS (SELECT node, CAST(CASE WHEN seed = 1 THEN 1000000 ELSE 0 END AS BIGINT) AS pr FROM ns),
        |c1 AS (SELECT ed.dst AS node, SUM(r.pr // od.odeg) AS s
        |  FROM ed JOIN od USING (src) JOIN r0 r ON r.node = ed.src GROUP BY 1),
        |r1 AS (SELECT ns.node, CAST(CASE WHEN ns.seed = 1 THEN 150000 ELSE 0 END
        |    + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS pr
        |  FROM ns LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT ed.dst AS node, SUM(r.pr // od.odeg) AS s
        |  FROM ed JOIN od USING (src) JOIN r1 r ON r.node = ed.src GROUP BY 1),
        |r2 AS (SELECT ns.node, CAST(CASE WHEN ns.seed = 1 THEN 150000 ELSE 0 END
        |    + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS ppr
        |  FROM ns LEFT JOIN c2 USING (node))
        |SELECT node, ppr FROM r2 WHERE ppr > 0 ORDER BY node""".stripMargin)),

    // L144 — HITS hubs & authorities (Kleinberg 1999) over the SAME
    // derived event link graph as g_pagerank: 2 rounds of the exact
    // unnormalized integer mutual recursion (h = Σ out-nbr auth,
    // a = Σ in-nbr hub; a⁰ ≡ 1). The oracle unrolls all four
    // half-rounds; hubless/authless nodes report 0, not NULL.
    Q("g_hits",
      (s, dir) => {
        // the session-staged event link graph (chain + hub edges) —
        // twelve g_* queries share this exact derivation (QuerySupport)
        val edges = sessionEventEdges(s, dir)
        GraphOps.hits(edges, "src", "dst", iters = 2)
          .orderBy(col("node"))
      },
      Some(s"""WITH $eventGraphSqlCte,
        |h1 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS h FROM ed GROUP BY 1),
        |a1 AS (SELECT ed.dst AS node, CAST(SUM(h1.h) AS BIGINT) AS a
        |  FROM ed JOIN h1 ON h1.node = ed.src GROUP BY 1),
        |h2 AS (SELECT ed.src AS node, CAST(SUM(a1.a) AS BIGINT) AS h
        |  FROM ed JOIN a1 ON a1.node = ed.dst GROUP BY 1),
        |a2 AS (SELECT ed.dst AS node, CAST(SUM(h2.h) AS BIGINT) AS a
        |  FROM ed JOIN h2 ON h2.node = ed.src GROUP BY 1)
        |SELECT nd.node, COALESCE(h2.h, 0) AS hub, COALESCE(a2.a, 0) AS auth
        |FROM nd LEFT JOIN h2 ON h2.node = nd.node
        |LEFT JOIN a2 ON a2.node = nd.node
        |ORDER BY nd.node""".stripMargin)),

    // L145 — triangle counting (degree-ordered node-iterator) over the
    // session minhash near-dup pair graph: per-doc closed-triangle
    // counts — the corroboration signal that separates real dup
    // clusters (triangle-dense) from spurious LSH bridges (0). The
    // oracle replays orientation, wedge join and closure verbatim on
    // the same jp pair CTE.
    Q("g_triangles",
      (s, dir) => GraphOps.triangleCounts(sessionMinhashPairs(s, dir), "a", "b")
        .select(col("node").as("doc_id"), col("n_tri"))
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE $nearDupCcSqlCtes,
        |dg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT a AS node FROM jp UNION ALL SELECT b FROM jp) GROUP BY node),
        |wdg AS (SELECT jp.a, jp.b, da.deg AS da, db.deg AS db FROM jp
        |  JOIN dg da ON da.node = jp.a JOIN dg db ON db.node = jp.b),
        |o AS (SELECT
        |    CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS lo,
        |    CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS hi,
        |    CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dhi
        |  FROM wdg),
        |wg AS (SELECT e1.lo, e1.hi AS x, e2.hi AS y
        |  FROM o e1 JOIN o e2 ON e1.lo = e2.lo
        |  WHERE e1.dhi < e2.dhi OR (e1.dhi = e2.dhi AND e1.hi < e2.hi)),
        |tr AS (SELECT wg.lo, wg.x, wg.y FROM wg
        |  JOIN o ON o.lo = wg.x AND o.hi = wg.y),
        |cr AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        |    SELECT lo AS node FROM tr
        |    UNION ALL SELECT x FROM tr
        |    UNION ALL SELECT y FROM tr) GROUP BY node)
        |SELECT dg.node AS doc_id, COALESCE(cr.n_tri, 0) AS n_tri
        |FROM dg LEFT JOIN cr USING (node) ORDER BY doc_id""".stripMargin)),

    // L246 — GLOBAL CLUSTERING COEFFICIENT of the session minhash
    // pair graph: 3·triangles / wedges — near 1 means tight dup cores
    // the CC labels can be trusted on, near 0 means chained borderline
    // pairs where one false edge strings clusters together; reuses the
    // degree-ordered triangle enumeration, wedges exact from the
    // degree table.
    Q("g_clustering_coeff",
      (s, dir) => GraphOps.clusteringCoefficient(
        sessionMinhashPairs(s, dir), "a", "b"),
      Some(s"""WITH RECURSIVE $nearDupCcSqlCtes,
        |dg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT a AS node FROM jp UNION ALL SELECT b FROM jp) GROUP BY node),
        |wdg AS (SELECT jp.a, jp.b, da.deg AS da, db.deg AS db FROM jp
        |  JOIN dg da ON da.node = jp.a JOIN dg db ON db.node = jp.b),
        |o AS (SELECT
        |    CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS lo,
        |    CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS hi,
        |    CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dhi
        |  FROM wdg),
        |wg AS (SELECT e1.lo, e1.hi AS x, e2.hi AS y
        |  FROM o e1 JOIN o e2 ON e1.lo = e2.lo
        |  WHERE e1.dhi < e2.dhi OR (e1.dhi = e2.dhi AND e1.hi < e2.hi)),
        |tr AS (SELECT wg.lo, wg.x, wg.y FROM wg
        |  JOIN o ON o.lo = wg.x AND o.hi = wg.y),
        |tct AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM tr),
        |ws AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
        |  FROM dg),
        |me AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM jp)
        |SELECT ws.n_nodes, me.m_edges, tct.n_triangles, ws.n_wedges,
        |  CASE WHEN ws.n_wedges > 0
        |    THEN CAST(3 * tct.n_triangles AS DOUBLE)
        |      / CAST(ws.n_wedges AS DOUBLE)
        |    ELSE -1.0 END AS coeff
        |FROM ws CROSS JOIN tct CROSS JOIN me""".stripMargin)),

    // L149 — 2-core peel (3 synchronous rounds) over the session
    // minhash pair graph: drop every node that cannot keep >= 2
    // neighbors after weaker nodes are removed — chains and spokes
    // peel away, dup cores stay. The bounded-round contract (output =
    // the subgraph after exactly 3 rounds, converged or not) is what
    // unrolls to the SQL oracle, like the fixed-iteration pagerank.
    Q("g_kcore",
      (s, dir) => GraphOps.kCorePeel(sessionMinhashPairs(s, dir), "a", "b",
          k = 2, rounds = 3)
        .select(col("node").as("doc_id"), col("deg"), col("converged"))
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE $nearDupCcSqlCtes,
        |d1 AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT a AS node FROM jp UNION ALL SELECT b FROM jp) GROUP BY node),
        |a1 AS (SELECT node FROM d1 WHERE deg >= 2),
        |e1 AS MATERIALIZED (SELECT jp.a, jp.b FROM jp
        |  JOIN a1 x ON x.node = jp.a JOIN a1 y ON y.node = jp.b),
        |d2 AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) GROUP BY node),
        |a2 AS (SELECT node FROM d2 WHERE deg >= 2),
        |e2 AS MATERIALIZED (SELECT e1.a, e1.b FROM e1
        |  JOIN a2 x ON x.node = e1.a JOIN a2 y ON y.node = e1.b),
        |d3 AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) GROUP BY node),
        |a3 AS (SELECT node FROM d3 WHERE deg >= 2),
        |e3 AS MATERIALIZED (SELECT e2.a, e2.b FROM e2
        |  JOIN a3 x ON x.node = e2.a JOIN a3 y ON y.node = e2.b)
        |SELECT node AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg,
        |  (SELECT COUNT(*) FROM e3) = (SELECT COUNT(*) FROM e2) AS converged
        |FROM (
        |  SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3)
        |GROUP BY node ORDER BY doc_id""".stripMargin)),

    // L190 — multi-source BFS hop distances over the SAME directed
    // event link graph as g_pagerank/g_ppr, seeded at every user's
    // FIRST event (session entry points): the crawl-frontier "how many
    // hops from a trusted entry" number an expansion policy thresholds
    // on (PPR weighs all paths; this is the single hop count). Every
    // browse chain yields distances 0..3 and the type hubs pick up
    // their cross-chain minimum — a genuinely mixed histogram. 3
    // bounded Bellman-Ford rounds — every distance <= 3 exact,
    // unreached flags -1/false; `converged` witnesses frontier
    // exhaustion (no dist changed in the final round — mirrored in SQL
    // as a b2-vs-b3 mismatch count); node universe = edge endpoints
    // UNION seeds (an isolated seed reports dist 0, never vanishes);
    // round CTEs MATERIALIZED (each referenced twice — the g_kcore
    // inlining lesson).
    Q("g_bfs",
      (s, dir) => {
        // the session-staged event link graph (chain + hub edges) —
        // twelve g_* queries share this exact derivation (QuerySupport)
        val edges = sessionEventEdges(s, dir)
        val seeds = evPoints(s, dir).groupBy(col("user_id"))
          .agg(min(col("event_id")).as("entry"))
        GraphOps.bfsDistances(edges, "src", "dst",
            seeds, "entry", rounds = 3)
          .orderBy(col("node"))
      },
      Some(s"""WITH $eventGraphSqlCte,
        |sd AS (SELECT MIN(event_id) AS node FROM e GROUP BY user_id),
        |nd2 AS (SELECT node FROM nd UNION SELECT node FROM sd),
        |b0 AS MATERIALIZED (SELECT nd2.node,
        |    CAST(CASE WHEN sd.node IS NULL THEN 999999999 ELSE 0 END AS BIGINT) AS dist
        |  FROM nd2 LEFT JOIN sd ON sd.node = nd2.node),
        |c1 AS (SELECT ed.dst AS node, MIN(d.dist + 1) AS cand
        |  FROM ed JOIN b0 d ON d.node = ed.src GROUP BY 1),
        |b1 AS MATERIALIZED (SELECT d.node,
        |    least(d.dist, COALESCE(c.cand, 999999999)) AS dist
        |  FROM b0 d LEFT JOIN c1 c ON c.node = d.node),
        |c2 AS (SELECT ed.dst AS node, MIN(d.dist + 1) AS cand
        |  FROM ed JOIN b1 d ON d.node = ed.src GROUP BY 1),
        |b2 AS MATERIALIZED (SELECT d.node,
        |    least(d.dist, COALESCE(c.cand, 999999999)) AS dist
        |  FROM b1 d LEFT JOIN c2 c ON c.node = d.node),
        |c3 AS (SELECT ed.dst AS node, MIN(d.dist + 1) AS cand
        |  FROM ed JOIN b2 d ON d.node = ed.src GROUP BY 1),
        |b3 AS MATERIALIZED (SELECT d.node,
        |    least(d.dist, COALESCE(c.cand, 999999999)) AS dist
        |  FROM b2 d LEFT JOIN c3 c ON c.node = d.node)
        |SELECT node,
        |  CAST(CASE WHEN dist < 999999999 THEN dist ELSE -1 END AS BIGINT) AS dist,
        |  dist < 999999999 AS reached,
        |  (SELECT COUNT(*) FROM b2 JOIN b3 USING (node)
        |    WHERE b2.dist <> b3.dist) = 0 AS converged
        |FROM b3 ORDER BY node""".stripMargin)),

    // L196 — weighted shortest paths (bounded Bellman-Ford) over the
    // SAME event link graph: each edge carries a deterministic integer
    // cost 1 + (src + dst) % 5 (both engines compute it identically on
    // the positive ids), seeds at every user's first event. After 3
    // rounds every node whose cheapest path uses <= 3 edges is exact —
    // the bounded-round contract; dist values now mix (cheap long hub
    // hops vs short expensive chains), exercising the weighted min
    // genuinely. Same MATERIALIZED-round + converged-witness oracle
    // shape as g_bfs.
    Q("g_sssp",
      (s, dir) => {
        // the session-staged event link graph (chain + hub edges) —
        // twelve g_* queries share this exact derivation (QuerySupport)
        val edges = sessionEventEdges(s, dir)
        val seeds = evPoints(s, dir).groupBy(col("user_id"))
          .agg(min(col("event_id")).as("entry"))
        val weighted = edges
          .withColumn("w", lit(1L) + pmod(col("src") + col("dst"), lit(5L)))
        GraphOps.ssspDistances(weighted, "src", "dst", "w",
            seeds, "entry", rounds = 3)
          .orderBy(col("node"))
      },
      Some(s"""WITH $eventGraphSqlCte,
        |ew AS (SELECT src, dst, 1 + (src + dst) % 5 AS w FROM ed),
        |sd AS (SELECT MIN(event_id) AS node FROM e GROUP BY user_id),
        |nd2 AS (SELECT node FROM nd UNION SELECT node FROM sd),
        |b0 AS MATERIALIZED (SELECT nd2.node,
        |    CAST(CASE WHEN sd.node IS NULL THEN 999999999 ELSE 0 END AS BIGINT) AS dist
        |  FROM nd2 LEFT JOIN sd ON sd.node = nd2.node),
        |c1 AS (SELECT ew.dst AS node, MIN(d.dist + ew.w) AS cand
        |  FROM ew JOIN b0 d ON d.node = ew.src GROUP BY 1),
        |b1 AS MATERIALIZED (SELECT d.node,
        |    least(d.dist, COALESCE(c.cand, 999999999)) AS dist
        |  FROM b0 d LEFT JOIN c1 c ON c.node = d.node),
        |c2 AS (SELECT ew.dst AS node, MIN(d.dist + ew.w) AS cand
        |  FROM ew JOIN b1 d ON d.node = ew.src GROUP BY 1),
        |b2 AS MATERIALIZED (SELECT d.node,
        |    least(d.dist, COALESCE(c.cand, 999999999)) AS dist
        |  FROM b1 d LEFT JOIN c2 c ON c.node = d.node),
        |c3 AS (SELECT ew.dst AS node, MIN(d.dist + ew.w) AS cand
        |  FROM ew JOIN b2 d ON d.node = ew.src GROUP BY 1),
        |b3 AS MATERIALIZED (SELECT d.node,
        |    least(d.dist, COALESCE(c.cand, 999999999)) AS dist
        |  FROM b2 d LEFT JOIN c3 c ON c.node = d.node)
        |SELECT node,
        |  CAST(CASE WHEN dist < 999999999 THEN dist ELSE -1 END AS BIGINT) AS dist,
        |  dist < 999999999 AS reached,
        |  (SELECT COUNT(*) FROM b2 JOIN b3 USING (node)
        |    WHERE b2.dist <> b3.dist) = 0 AS converged
        |FROM b3 ORDER BY node""".stripMargin)),

    // L201 — HyperBall neighborhood function over the SAME event link
    // graph: per node an HLL-approximate |ball(v, 2)| — the
    // scale-native distance-distribution / closeness read (exact balls
    // explode; HLL registers are 16 longs per node, merged along edges
    // by element-wise max). Registers = the L71 sketch discipline
    // (public md5 60-bit hash, bucket = top 4 bits), kept as
    // (node, bucket, reg) rows so every round is one equi join + one
    // map-side max-agg and the oracle replays every register
    // bit-for-bit; round CTEs MATERIALIZED (g_kcore inlining lesson).
    Q("g_hyperball",
      (s, dir) => {
        // the session-staged event link graph (chain + hub edges) —
        // twelve g_* queries share this exact derivation (QuerySupport)
        val edges = sessionEventEdges(s, dir)
        GraphOps.hyperBall(edges, "src", "dst",
            b = 4, rounds = 2)
          .orderBy(col("node"))
      },
      Some(s"""WITH $eventGraphSqlCte,
        |hv AS (SELECT node,
        |    CAST(('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM nd),
        |r0 AS MATERIALIZED (SELECT node, hv >> 56 AS bucket,
        |    CAST(CASE WHEN (hv & 72057594037927935) = 0 THEN 57
        |      ELSE 57 - length(printf('%b', hv & 72057594037927935)) END
        |      AS BIGINT) AS reg
        |  FROM hv),
        |g1 AS (SELECT ed.src AS node, r.bucket, r.reg
        |  FROM ed JOIN r0 r ON r.node = ed.dst),
        |r1 AS MATERIALIZED (SELECT node, bucket, MAX(reg) AS reg FROM (
        |    SELECT * FROM r0 UNION ALL SELECT * FROM g1) GROUP BY 1, 2),
        |g2 AS (SELECT ed.src AS node, r.bucket, r.reg
        |  FROM ed JOIN r1 r ON r.node = ed.dst),
        |r2 AS MATERIALIZED (SELECT node, bucket, MAX(reg) AS reg FROM (
        |    SELECT * FROM r1 UNION ALL SELECT * FROM g2) GROUP BY 1, 2),
        |grid AS (SELECT nd.node, gs.bucket FROM nd
        |  CROSS JOIN (SELECT unnest(range(16)) AS bucket) gs),
        |fl AS (SELECT g.node, g.bucket, CAST(COALESCE(r.reg, 0) AS BIGINT) AS reg
        |  FROM grid g LEFT JOIN r2 r ON r.node = g.node AND r.bucket = g.bucket),
        |a AS (SELECT node, list(reg ORDER BY bucket) AS regs,
        |    CAST(SUM(1::BIGINT << CAST(57 - reg AS INTEGER)) AS BIGINT) AS s_scaled,
        |    CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |  FROM fl GROUP BY 1)
        |SELECT node, array_to_string(regs, ',') AS regs, s_scaled, n_zero,
        |  (0.673 * 256.0) * 144115188075855872.0
        |    / CAST(s_scaled AS DOUBLE) AS est_ball
        |FROM a ORDER BY node""".stripMargin)),

    // L153 — 3-truss peel (2 rounds) over the session minhash pair
    // graph: the EDGE-grade companion to g_kcore — an edge survives
    // only with >= 1 triangle witness, recomputed after each filter
    // (bounded-round contract; round CTEs MATERIALIZED for the same
    // 27x-inlining reason as g_kcore).
    Q("g_truss",
      (s, dir) => GraphOps.trussPeel(sessionMinhashPairs(s, dir), "a", "b",
          k = 3, rounds = 2)
        .orderBy(col("a"), col("b")),
      Some(s"""WITH RECURSIVE $nearDupCcSqlCtes,
        |${trussRoundSql(1, "jp")},
        |${trussRoundSql(2, "te1")}
        |SELECT a, b, support,
        |  (SELECT COUNT(*) FROM te2) = (SELECT COUNT(*) FROM te1) AS converged
        |FROM ts2 ORDER BY a, b""".stripMargin)),


    // W2 — speaker-change sessionization, uncapped window flavor
    // (speaker_rematch.py:25-43): break on gap OR event_type change.
    Q("w2_change_sessions",
      (s, dir) => SegmentOps.sessionizeByChange(
          evPoints(s, dir), "user_id", "tus", "event_id", "event_type",
          lit(12L * HOUR_US))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("event_type")).as("etype"),
          min(col("tus")).as("start_us"), max(col("tus")).as("end_us"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("session_id")),
      Some(s"""WITH $evPointsSqlCte,
        |f AS (SELECT user_id, event_id, event_type, tus,
        |  CASE WHEN lag(tus) OVER w IS NULL
        |         OR tus - lag(tus) OVER w > 43200000000
        |         OR event_type <> lag(event_type) OVER w
        |       THEN 1 ELSE 0 END AS newflag
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT user_id, event_type, tus,
        |  CAST(SUM(newflag) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, MIN(event_type) AS etype,
        |  MIN(tus) AS start_us, MAX(tus) AS end_us, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),


    // A7 — dominant-speaker branch rules (host_rematch.py:46-96): rank
    // types by total, compare top against 3×-second / 2×-rest in the
    // exact integer domain.
    Q("a7_dominance",
      (s, dir) => {
        val totals = evPoints(s, dir)
          .groupBy(col("user_id"), col("event_type"))
          .agg(sum(col("cents")).as("total"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("total").desc, col("event_type"))
        totals.withColumn("rn", row_number().over(w))
          .groupBy(col("user_id"))
          .agg(
            max(when(col("rn") === 1, col("event_type"))).as("top_type"),
            max(when(col("rn") === 1, col("total"))).as("top_cents"),
            coalesce(max(when(col("rn") === 2, col("total"))), lit(0L)).as("second_cents"),
            sum(col("total")).as("all_cents"),
            count(lit(1)).as("n_types"))
          .withColumn("verdict",
            when(col("n_types") === 1, "solo")
              .when(col("top_cents") >= lit(3L) * col("second_cents"), "dominant")
              .when(col("top_cents") >= lit(2L) * (col("all_cents") - col("top_cents")), "semi")
              .otherwise("none"))
          .select(col("user_id"), col("top_type"), col("top_cents"),
            col("n_types"), col("verdict"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH $evPointsSqlCte,
        |t AS (SELECT user_id, event_type, CAST(SUM(cents) AS BIGINT) AS total
        |  FROM e GROUP BY user_id, event_type),
        |r AS (SELECT user_id, event_type, total,
        |  row_number() OVER (PARTITION BY user_id ORDER BY total DESC, event_type) AS rn FROM t),
        |g AS (SELECT user_id,
        |  MAX(CASE WHEN rn = 1 THEN event_type END) AS top_type,
        |  MAX(CASE WHEN rn = 1 THEN total END) AS top_cents,
        |  COALESCE(MAX(CASE WHEN rn = 2 THEN total END), 0) AS second_cents,
        |  CAST(SUM(total) AS BIGINT) AS all_cents,
        |  COUNT(*) AS n_types
        |  FROM r GROUP BY user_id)
        |SELECT user_id, top_type, top_cents, n_types,
        |  CASE WHEN n_types = 1 THEN 'solo'
        |       WHEN top_cents >= 3 * second_cents THEN 'dominant'
        |       WHEN top_cents >= 2 * (all_cents - top_cents) THEN 'semi'
        |       ELSE 'none' END AS verdict
        |FROM g ORDER BY user_id""".stripMargin)),


    // W3+J1+A1/A2+P2 — the reference's most operator-dense trace
    // (separation_filter windows scored with energy ratios, §3.3):
    // sliding windows over merged chunks, overlap-weighted "energy" per
    // class via a range join (F10 overlap length), purity classification.
    Q("w3a2_window_energy_ratios",
      (s, dir) => {
        val wins = SegmentOps.slidingWindows(chunks(s, dir), "start_us", "end_us",
            60000000L, 25000000L)
          .select(col("user_id").as("w_user"), col("win_start"), col("win_end"))
        val iv = Tables.eventIntervals(s, dir)
          .withColumn("vocal", col("event_type").isin("click", "view"))
        val ov = least(col("e_us"), col("win_end")) - greatest(col("s_us"), col("win_start"))
        wins.join(iv,
            col("w_user") === col("user_id") &&
              col("s_us") < col("win_end") && col("win_start") < col("e_us"),
            "left")
          .withColumn("ov", ov)
          .groupBy(col("w_user"), col("win_start"), col("win_end"))
          .agg(
            sum(when(col("vocal") === true, col("cents") * col("ov")).otherwise(0L))
              .as("v_energy"),
            sum(when(col("vocal") === false, col("cents") * col("ov")).otherwise(0L))
              .as("nv_energy"))
          .withColumn("v_r",
            when(col("v_energy") + col("nv_energy") > 0,
              col("v_energy").cast("double") /
                (col("v_energy") + col("nv_energy")).cast("double")))
          .withColumn("label",
            when(col("v_energy") + col("nv_energy") === 0, "empty")
              .when(col("v_r") >= 0.7, "vocal").otherwise("noisy"))
          .select(col("w_user").as("user_id"), col("win_start"), col("win_end"),
            col("v_energy"), col("nv_energy"), col("v_r"), col("label"))
          .orderBy(col("user_id"), col("win_start"))
      },
      Some(s"""WITH $chunksSqlCte,
        |w AS (SELECT user_id, start_us, end_us,
        |  unnest(generate_series(0, (end_us - start_us) // 25000000)) AS iw FROM ch),
        |wn AS (SELECT user_id, start_us + iw * 25000000 AS win_start,
        |    least(start_us + iw * 25000000 + 60000000, end_us) AS win_end
        |  FROM w WHERE iw = 0 OR start_us + (iw - 1) * 25000000 + 60000000 < end_us),
        |jn AS (SELECT wn.user_id, wn.win_start, wn.win_end,
        |    i.event_type IN ('click','view') AS vocal, i.cents,
        |    least(i.e_us, wn.win_end) - greatest(i.s_us, wn.win_start) AS ov
        |  FROM wn LEFT JOIN i ON i.user_id = wn.user_id
        |    AND i.s_us < wn.win_end AND wn.win_start < i.e_us),
        |ag AS (SELECT user_id, win_start, win_end,
        |    CAST(SUM(CASE WHEN vocal = true THEN cents * ov ELSE 0 END) AS BIGINT) AS v_energy,
        |    CAST(SUM(CASE WHEN vocal = false THEN cents * ov ELSE 0 END) AS BIGINT) AS nv_energy
        |  FROM jn GROUP BY user_id, win_start, win_end),
        |sc AS (SELECT user_id, win_start, win_end, v_energy, nv_energy,
        |    CASE WHEN v_energy + nv_energy > 0
        |         THEN CAST(v_energy AS DOUBLE) / CAST(v_energy + nv_energy AS DOUBLE)
        |    END AS v_r
        |  FROM ag)
        |SELECT user_id, win_start, win_end, v_energy, nv_energy, v_r,
        |  CASE WHEN v_energy + nv_energy = 0 THEN 'empty'
        |       WHEN v_r >= 0.7 THEN 'vocal' ELSE 'noisy' END AS label
        |FROM sc ORDER BY user_id, win_start""".stripMargin)),


    // W1 capped — the flatMapGroups kernel (utils.py:64-102 with the
    // max_duration cap; sequential per key, NOT window-expressible — the
    // oracle is a recursive CTE folding rows in the same order, in the
    // same converted-double domain).
    Q("w1_capped_sessions",
      (s, dir) => {
        import s.implicits._
        val segs = Tables.eventIntervals(s, dir).select(
          col("user_id").cast("string").as("file"),
          (col("s_us").cast("double") / 1e6d).as("start"),
          (col("e_us").cast("double") / 1e6d).as("end"))
          .as[graft.model.Segment]
        SegmentAlgebra.sessionizeCapped(segs, gap = 3600d, maxDuration = 7200d)
          .toDF()
          .select(col("file"), col("start"), col("end"), col("n"))
          .orderBy(col("file"), col("start"))
      },
      Some("""WITH RECURSIVE i0 AS (SELECT CAST(user_id AS VARCHAR) AS file,
        |  CAST(epoch_us(ts) AS DOUBLE)/1000000.0 AS s,
        |  CAST(epoch_us(ts) + CAST(round(value*1.0E6) AS BIGINT) AS DOUBLE)/1000000.0 AS e
        |  FROM events),
        |i AS (SELECT file, s, e, row_number() OVER (PARTITION BY file ORDER BY s, e) AS rn FROM i0),
        |rec AS (
        |  SELECT file, rn, s AS cur_s, e AS cur_e, 1 AS n, 1 AS sess FROM i WHERE rn = 1
        |  UNION ALL
        |  SELECT i.file, i.rn,
        |    CASE WHEN i.s - r.cur_e <= 3600.0 AND greatest(r.cur_e, i.e) - r.cur_s <= 7200.0
        |         THEN r.cur_s ELSE i.s END,
        |    CASE WHEN i.s - r.cur_e <= 3600.0 AND greatest(r.cur_e, i.e) - r.cur_s <= 7200.0
        |         THEN greatest(r.cur_e, i.e) ELSE i.e END,
        |    CASE WHEN i.s - r.cur_e <= 3600.0 AND greatest(r.cur_e, i.e) - r.cur_s <= 7200.0
        |         THEN r.n + 1 ELSE 1 END,
        |    CASE WHEN i.s - r.cur_e <= 3600.0 AND greatest(r.cur_e, i.e) - r.cur_s <= 7200.0
        |         THEN r.sess ELSE r.sess + 1 END
        |  FROM rec r JOIN i ON i.file = r.file AND i.rn = r.rn + 1),
        |f AS (SELECT file, sess, cur_s, cur_e, n,
        |    row_number() OVER (PARTITION BY file, sess ORDER BY rn DESC) AS rr FROM rec)
        |SELECT file, cur_s AS start, cur_e AS "end", CAST(n AS INTEGER) AS n
        |FROM f WHERE rr = 1 ORDER BY file, start""".stripMargin)),


    // W8 — recursive longest-gap splitting (silero_vad.py:81-112),
    // flatMapGroups kernel. Oracle: a recursive CTE over (lo, hi) index
    // ranges — a range splits at its globally-ranked largest internal gap
    // (first-max tie-break via the gap rank gr) until its span fits.
    Q("w8_recursive_split",
      (s, dir) => {
        import s.implicits._
        val segs = Tables.eventIntervals(s, dir).select(
          col("user_id").cast("string").as("file"),
          (col("s_us").cast("double") / 1e6d).as("start"),
          (col("e_us").cast("double") / 1e6d).as("end"))
          .as[graft.model.Segment]
        SegmentAlgebra.recursiveSplit(segs, maxDuration = 86400d)
          .toDF()
          .select(col("file"), col("start"), col("end"), col("n"))
          .orderBy(col("file"), col("start"))
      },
      Some("""WITH RECURSIVE i0 AS (SELECT CAST(user_id AS VARCHAR) AS file,
        |  CAST(epoch_us(ts) AS DOUBLE)/1000000.0 AS s,
        |  CAST(epoch_us(ts) + CAST(round(value*1.0E6) AS BIGINT) AS DOUBLE)/1000000.0 AS e
        |  FROM events),
        |i AS (SELECT file, s, e, row_number() OVER (PARTITION BY file ORDER BY s, e) AS rn FROM i0),
        |cnt AS (SELECT file, MAX(rn) AS n FROM i GROUP BY file),
        |g0 AS (SELECT a.file, a.rn AS k, a.s - b.e AS gap FROM i a
        |  JOIN i b ON b.file = a.file AND b.rn = a.rn - 1),
        |g AS (SELECT file, k, gap,
        |  row_number() OVER (PARTITION BY file ORDER BY gap DESC, k) AS gr FROM g0),
        |rec AS (
        |  SELECT file, CAST(1 AS BIGINT) AS lo, n AS hi FROM cnt
        |  UNION ALL
        |  SELECT sp.pfile AS file,
        |    CASE WHEN c.pick = 0 THEN sp.plo ELSE sp.bk END AS lo,
        |    CASE WHEN c.pick = 0 THEN sp.bk - 1 ELSE sp.phi END AS hi
        |  FROM (
        |    SELECT r.file AS pfile, r.lo AS plo, r.hi AS phi, arg_min(gg.k, gg.gr) AS bk
        |    FROM rec r
        |    JOIN i a ON a.file = r.file AND a.rn = r.lo
        |    JOIN i b ON b.file = r.file AND b.rn = r.hi
        |    JOIN g gg ON gg.file = r.file AND gg.k > r.lo AND gg.k <= r.hi
        |    WHERE r.hi > r.lo AND b.e - a.s > 86400.0
        |    GROUP BY r.file, r.lo, r.hi
        |  ) sp, (VALUES (0), (1)) c(pick)
        |)
        |SELECT r.file AS file, a.s AS start, b.e AS "end", CAST(r.hi - r.lo + 1 AS INTEGER) AS n
        |FROM rec r
        |JOIN i a ON a.file = r.file AND a.rn = r.lo
        |JOIN i b ON b.file = r.file AND b.rn = r.hi
        |WHERE r.hi = r.lo OR b.e - a.s <= 86400.0
        |ORDER BY file, start""".stripMargin)),


    // F7/F8/F9/F4 — array scalar functions: slice, trim-or-pad,
    // elementwise arithmetic, L2 norm, all in the exact quantized domain.
    Q("f_array_ops",
      (s, dir) => {
        val q = Similarity.quantize(Tables.embeddings(s, dir), "vec_id", "embedding")
        q.select(col("vec_id"),
            aggregate(slice(col("qv"), 1, 8), lit(0L), _ + _).as("head_sum"),
            size(when(size(col("qv")) < 80,
                concat(col("qv"), array_repeat(lit(0L), lit(80) - size(col("qv")))))
              .otherwise(slice(col("qv"), 1, 80))).cast("long").as("padded_len"),
            aggregate(zip_with(col("qv"), transform(col("qv"), _ * lit(2L)), _ - _),
              lit(0L), _ + _).as("resid_sum"),
            sqrt(aggregate(col("qv"), lit(0L), (a, x) => a + x * x).cast("double"))
              .as("l2"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding,
        |  x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS qv FROM embeddings)
        |SELECT vec_id,
        |  CAST(list_sum(qv[1:8]) AS BIGINT) AS head_sum,
        |  CAST(len(CASE WHEN len(qv) < 80
        |    THEN list_concat(qv, list_transform(range(80 - len(qv)), x -> CAST(0 AS BIGINT)))
        |    ELSE qv[1:80] END) AS BIGINT) AS padded_len,
        |  CAST(list_sum(list_transform(qv, x -> x - x * 2)) AS BIGINT) AS resid_sum,
        |  sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS DOUBLE)) AS l2
        |FROM q ORDER BY vec_id""".stripMargin)),


    // A12 — cluster-size floor (speaker_rematch.py:117): integer-domain
    // max(2, n/25) per key.
    Q("a12_cluster_floor",
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .withColumn("min_cluster", greatest(lit(2L), expr("n div 25")))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, COUNT(*) AS n,
        |  greatest(2, COUNT(*) // 25) AS min_cluster
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),


    // O3 — sortedness data-quality check (utils.py:153): violations of
    // the per-user time ordering must be zero.
    Q("o3_sortedness_check",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
        evPoints(s, dir)
          .withColumn("next_tus", lead(col("tus"), 1).over(w))
          .agg(
            sum(when(col("next_tus") < col("tus"), 1L).otherwise(0L)).as("violations"),
            count(lit(1)).as("n_rows"))
      },
      Some(s"""WITH $evPointsSqlCte,
        |l AS (SELECT tus, lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS next_tus FROM e)
        |SELECT CAST(SUM(CASE WHEN next_tus < tus THEN 1 ELSE 0 END) AS BIGINT) AS violations,
        |  COUNT(*) AS n_rows FROM l""".stripMargin)),


    // J8 active sets — sweep line emitting the sorted active label set
    // per elementary interval (diarization.py:24-64). Oracle: per
    // boundary pair, a speaker is active iff its +1/-1 boundary deltas at
    // times ≤ the interval start sum positive (ends sort before starts at
    // ties automatically — both are counted at t ≤ s).
    Q("j8_active_sets",
      (s, dir) => {
        import s.implicits._
        val segs = Tables.eventIntervals(s, dir).select(
          col("user_id").cast("string").as("file"),
          (col("s_us").cast("double") / 1e6d).as("start"),
          (col("e_us").cast("double") / 1e6d).as("end"),
          col("event_type").as("speaker"))
          .as[graft.model.SpeakerSegment]
        SegmentAlgebra.sweepLineActiveSets(segs)
          .toDF()
          .select(col("file"), col("start"), col("end"),
            array_join(col("speakers"), ",").as("speakers"))
          .orderBy(col("file"), col("start"))
      },
      Some("""WITH i AS (SELECT CAST(user_id AS VARCHAR) AS file,
        |  CAST(epoch_us(ts) AS DOUBLE)/1000000.0 AS s,
        |  CAST(epoch_us(ts) + CAST(round(value*1.0E6) AS BIGINT) AS DOUBLE)/1000000.0 AS e,
        |  event_type AS speaker FROM events),
        |ev AS (SELECT file, s AS t, CAST(1 AS BIGINT) AS d, speaker FROM i
        |       UNION ALL SELECT file, e AS t, CAST(-1 AS BIGINT) AS d, speaker FROM i),
        |bounds AS (SELECT DISTINCT file, t FROM ev),
        |b2 AS (SELECT file, t AS s, lead(t) OVER (PARTITION BY file ORDER BY t) AS e FROM bounds),
        |act AS (SELECT b.file AS file, b.s AS s, b.e AS e, ev.speaker AS speaker
        |  FROM b2 b JOIN ev ON ev.file = b.file AND ev.t <= b.s
        |  WHERE b.e IS NOT NULL
        |  GROUP BY b.file, b.s, b.e, ev.speaker
        |  HAVING SUM(ev.d) > 0)
        |SELECT file, s AS start, e AS "end",
        |  array_to_string(list_sort(list(speaker)), ',') AS speakers
        |FROM act GROUP BY file, s, e ORDER BY file, start""".stripMargin)),


    // W1 typed voice-gate — the reference's most quirk-laden branch
    // (utils.py:82-99): capped merge accumulating the member `types`
    // array, then the must_include_voice gate dropping sessions with no
    // voice member. Both gate settings emitted under a tag; the oracle
    // folds the same recursive merge carrying the types string.
    Q("w1_typed_gate",
      (s, dir) => {
        import s.implicits._
        val segs = Tables.eventIntervals(s, dir).select(
          col("user_id").cast("string").as("file"),
          (col("s_us").cast("double") / 1e6d).as("start"),
          (col("e_us").cast("double") / 1e6d).as("end"),
          when(col("event_type").isin("click", "view"), "voice")
            .otherwise(col("event_type")).as("segType"))
          .as[graft.model.TypedSegment]
        def run(gate: Boolean, tag: String) =
          SegmentAlgebra.sessionizeTyped(segs, gap = 3600d, maxDuration = 7200d,
              mustIncludeVoice = gate)
            .toDF()
            .select(lit(tag).as("tag"), col("file"), col("start"), col("end"),
              col("n"), array_join(col("types"), ",").as("types"))
        run(gate = false, "all").unionAll(run(gate = true, "gated"))
          .orderBy(col("tag"), col("file"), col("start"))
      },
      Some("""WITH RECURSIVE i0 AS (SELECT CAST(user_id AS VARCHAR) AS file,
        |  CAST(epoch_us(ts) AS DOUBLE)/1000000.0 AS s,
        |  CAST(epoch_us(ts) + CAST(round(value*1.0E6) AS BIGINT) AS DOUBLE)/1000000.0 AS e,
        |  CASE WHEN event_type IN ('click','view') THEN 'voice' ELSE event_type END AS typ
        |  FROM events),
        |i AS (SELECT file, s, e, typ,
        |  row_number() OVER (PARTITION BY file ORDER BY s, e, typ) AS rn FROM i0),
        |rec AS (
        |  SELECT file, rn, s AS cur_s, e AS cur_e, 1 AS n, 1 AS sess, typ AS typs
        |  FROM i WHERE rn = 1
        |  UNION ALL
        |  SELECT i.file, i.rn,
        |    CASE WHEN i.s - r.cur_e <= 3600.0 AND greatest(r.cur_e, i.e) - r.cur_s <= 7200.0
        |         THEN r.cur_s ELSE i.s END,
        |    CASE WHEN i.s - r.cur_e <= 3600.0 AND greatest(r.cur_e, i.e) - r.cur_s <= 7200.0
        |         THEN greatest(r.cur_e, i.e) ELSE i.e END,
        |    CASE WHEN i.s - r.cur_e <= 3600.0 AND greatest(r.cur_e, i.e) - r.cur_s <= 7200.0
        |         THEN r.n + 1 ELSE 1 END,
        |    CASE WHEN i.s - r.cur_e <= 3600.0 AND greatest(r.cur_e, i.e) - r.cur_s <= 7200.0
        |         THEN r.sess ELSE r.sess + 1 END,
        |    CASE WHEN i.s - r.cur_e <= 3600.0 AND greatest(r.cur_e, i.e) - r.cur_s <= 7200.0
        |         THEN r.typs || ',' || i.typ ELSE i.typ END
        |  FROM rec r JOIN i ON i.file = r.file AND i.rn = r.rn + 1),
        |f AS (SELECT file, sess, cur_s, cur_e, n, typs,
        |    row_number() OVER (PARTITION BY file, sess ORDER BY rn DESC) AS rr FROM rec),
        |sessions AS (SELECT file, cur_s AS start, cur_e AS "end", CAST(n AS INTEGER) AS n,
        |  typs AS types FROM f WHERE rr = 1)
        |SELECT * FROM (
        |  SELECT 'all' AS tag, file, start, "end", n, types FROM sessions
        |  UNION ALL
        |  SELECT 'gated' AS tag, file, start, "end", n, types FROM sessions
        |  WHERE list_contains(string_split(types, ','), 'voice')
        |) t ORDER BY tag, file, start""".stripMargin)),


    // L32 — BLOOM-FILTER SEMI-JOIN PRUNING: build a 1024-bit filter over
    // the BUILDING customers' keys (BloomFilterAgg — bounded state,
    // word-wise-OR partial merge, map-side-combined like a built-in sum),
    // broadcast the one-row bitset, and probe every order with a pure
    // bit-arithmetic test BEFORE any join. At 100 TB this prunes the big
    // side's shuffle down to (matches + false positives); the query
    // reports n_bloom vs n_exact per priority, making the FP overhead
    // measurable. Exactly oracle-checkable because positions are public
    // md5 slices: "bit p set" ≡ "p ∈ build-side position set", so the
    // oracle mirrors the test as a set join — no bitset needed.
    Q("j_bloom_prune",
      (s, dir) => {
        import graft.expr.{BloomFilter, BloomFilterAgg}
        val k = 2; val m = 1024
        val bloomAgg = udaf(new BloomFilterAgg(m))
        val cust = Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val bits = cust
          .select(BloomFilter.positions(col("c_custkey"), k, m).as("ps"))
          .agg(bloomAgg(col("ps")).as("bits"))
        Tables.orders(s, dir)
          .crossJoin(broadcast(bits))
          .withColumn("bloom_pass", BloomFilter.mightContain(col("bits"),
            BloomFilter.positions(col("o_custkey"), k, m)))
          .join(broadcast(cust.withColumn("__hit", lit(1L))),
            col("o_custkey") === col("c_custkey"), "left")
          .groupBy(col("o_orderpriority"))
          .agg(sum(when(col("bloom_pass"), 1L).otherwise(0L)).as("n_bloom"),
            sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_exact"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""WITH bk AS (SELECT c_custkey AS k FROM customer
        |  WHERE c_mktsegment = 'BUILDING'),
        |bp AS (SELECT DISTINCT
        |    ('0x' || substr(md5(CAST(k AS VARCHAR)), 1 + i.i*8, 8))::BIGINT % 1024 AS p
        |  FROM bk, range(2) i(i)),
        |op AS (SELECT o_orderkey, o_orderpriority, o_custkey,
        |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1 + i.i*8, 8))::BIGINT % 1024 AS p
        |  FROM orders, range(2) i(i)),
        |p0 AS (SELECT o_orderkey, o_orderpriority, o_custkey,
        |    BOOL_AND(p IN (SELECT p FROM bp)) AS bloom_pass
        |  FROM op GROUP BY 1, 2, 3)
        |SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
        |  CAST(SUM(CASE WHEN o_custkey IN (SELECT k FROM bk) THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
        |FROM p0 GROUP BY 1 ORDER BY 1""".stripMargin)),


    // L41 / O-series — per-group top-k as a BOUNDED-STATE partial-merge
    // aggregate (TopKAgg): at most k (value, id) pairs per group per map
    // partition reach the shuffle, vs the window formulation shipping
    // and sorting EVERY row of every group. Per-group analog of Spark's
    // global TakeOrderedAndProject, which has no built-in. The window
    // formulation is the oracle — identical output by construction.
    Q("o_topk_agg",
      (s, dir) => {
        val topk = udaf(new graft.expr.TopKAgg(5))
        Tables.eventIntervals(s, dir)
          .groupBy(col("event_type"))
          .agg(topk(col("cents"), col("event_id")).as("tk"))
          .select(col("event_type"), posexplode(col("tk")))
          .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
            col("col.id").as("event_id"), col("col.value").as("cents"))
          .orderBy(col("event_type"), col("rank"))
      },
      Some(s"""WITH $evPointsSqlCte,
        |r AS (SELECT event_type, event_id, cents,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY cents DESC, event_id) AS BIGINT) AS rank
        |  FROM e)
        |SELECT event_type, rank, event_id, cents
        |FROM r WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin)),


    // L75 — CUBE / GROUPING SETS: event counts and cent totals at every
    // (event_type × week) granularity in one pass, grouping_id
    // disambiguating the rollup level (2·g(type) + g(week) — both
    // engines put the first cube column in the high bit).
    Q("a_cube",
      (s, dir) => Tables.eventIntervals(s, dir)
        .select(col("event_type"), expr("s_us div 604800000000L").as("w"),
          col("cents"))
        .cube(col("event_type"), col("w"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(col("cents")).as("cents_sum"))
        .orderBy(col("gid"), coalesce(col("event_type"), lit("")),
          coalesce(col("w"), lit(-1L))),
      Some(s"""WITH $evPointsSqlCte,
        |b AS (SELECT event_type, tus // 604800000000 AS w, cents FROM e)
        |SELECT event_type, w,
        |  CAST(2 * GROUPING(event_type) + GROUPING(w) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS cents_sum
        |FROM b GROUP BY CUBE(event_type, w)
        |ORDER BY gid, COALESCE(event_type, ''), COALESCE(w, -1)""".stripMargin)),

    // L292 — CRAWL LINK-GRAPH PAGERANK (the t_anchor_text → graph
    // composite): host-level edges minted by the L276 link formulas
    // (external links become site→ext edges, multiplicity kept — a
    // host linked from many pages weighs more), then 2 exact integer
    // PageRank rounds over the edge TABLE — the authority signal a
    // crawl frontier feeds back into fetch prioritization. The oracle
    // unrolls both rounds (the g_pagerank CTE shape) over the same
    // formula-built edges.
    Q("g_crawl_pagerank",
      (s, dir) => {
        val edges = Tables.documents(s, dir).filter(col("doc_id") < 400)
          .select(col("doc_id"))
          .withColumn("j", explode(sequence(lit(0L), col("doc_id") % 4)))
          .filter((col("doc_id") + col("j")) % 6 === 0)
          .select((col("doc_id") % 7).as("src"), (lit(7L) + col("j")).as("dst"))
        GraphOps.pageRank(edges, "src", "dst", iters = 2)
          .orderBy(col("node"))
      },
      Some("""WITH l AS (SELECT doc_id,
        |    unnest(range(0, 1 + doc_id % 4)) AS j
        |  FROM documents WHERE doc_id < 400),
        |ed AS (SELECT doc_id % 7 AS src, 7 + j AS dst FROM l
        |  WHERE (doc_id + j) % 6 = 0),
        |nd AS (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
        |od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg FROM ed
        |  GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nd),
        |c1 AS (SELECT ed.dst AS node, SUM(r.pr // od.odeg) AS s
        |  FROM ed JOIN od USING (src) JOIN r0 r ON r.node = ed.src
        |  GROUP BY 1),
        |r1 AS (SELECT nd.node,
        |    CAST(150000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS pr
        |  FROM nd LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT ed.dst AS node, SUM(r.pr // od.odeg) AS s
        |  FROM ed JOIN od USING (src) JOIN r1 r ON r.node = ed.src
        |  GROUP BY 1),
        |r2 AS (SELECT nd.node,
        |    CAST(150000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS pr
        |  FROM nd LEFT JOIN c2 USING (node))
        |SELECT node, pr FROM r2 ORDER BY node""".stripMargin)),

    // L314 — RESOURCE-ALLOCATION LINK PREDICTION on the event graph:
    // the 1/deg-weighted common-neighbor index (Zhou/Lü/Zhang 2009)
    // next to g_neighbor_jaccard — a RARE shared neighbor is strong
    // evidence, a hub nearly none. Same L230 hub prune (cap 16), true
    // degrees as weights, exact e6 terms (10⁶ div deg), top-50 with a
    // total tie-break.
    Q("g_resource_alloc",
      (s, dir) => {
        // the session-staged event link graph (chain + hub edges) —
        // twelve g_* queries share this exact derivation (QuerySupport)
        val edges = sessionEventEdges(s, dir)
        GraphOps.resourceAllocation(edges,
          "src", "dst", degCap = 16, topK = 50)
      },
      Some(s"""WITH $eventGraphSqlCte,
        |und AS (SELECT DISTINCT node, nbr FROM (
        |    SELECT src AS node, dst AS nbr FROM ed
        |    UNION ALL SELECT dst, src FROM ed) u WHERE node <> nbr),
        |dgj AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM und GROUP BY 1),
        |pr AS (SELECT und.node, und.nbr,
        |    CAST(1000000 // dgj.deg AS BIGINT) AS term
        |  FROM und JOIN dgj ON dgj.node = und.nbr WHERE dgj.deg <= 16),
        |cm AS (SELECT a.node AS u, b.node AS v,
        |    CAST(COUNT(*) AS BIGINT) AS common,
        |    CAST(SUM(a.term) AS BIGINT) AS ra_e6
        |  FROM pr a JOIN pr b ON a.nbr = b.nbr AND a.node < b.node
        |  GROUP BY 1, 2)
        |SELECT u, v, common, ra_e6 FROM cm
        |ORDER BY ra_e6 DESC, common DESC, u, v LIMIT 50""".stripMargin)),

    // L326 — EXACT HARMONIC CENTRALITY (radius 2) over the user-chain
    // graph (chains only — the exact-diagnostic tier next to
    // HyperBall's sketch tier; hub edges would blow the |V|·|ball|
    // frontier contract and belong to L201): per-node Σ 10⁶ div d,
    // top-30 with a total tie-break. Oracle unrolls both BFS rounds.
    Q("g_harmonic",
      (s, dir) => {
        val ev = evPoints(s, dir).filter(col("event_id") < 3000L)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tus"), col("event_id"))
        val chain = ev.withColumn("nxt", lead(col("event_id"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .select(col("event_id").as("src"), col("nxt").as("dst"))
        GraphOps.harmonicCentrality(chain, "src", "dst", rounds = 2,
          topK = 30)
      },
      Some("""WITH e AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_id < 3000),
        |ch AS (SELECT event_id AS src,
        |    lead(event_id) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS dst FROM e),
        |ed AS (SELECT src, dst FROM ch WHERE dst IS NOT NULL),
        |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed) u
        |  WHERE src <> dst),
        |f0 AS (SELECT DISTINCT src AS root, src AS node,
        |    CAST(0 AS BIGINT) AS dist FROM und),
        |f1 AS MATERIALIZED (SELECT root, node, MIN(dist) AS dist FROM (
        |    SELECT root, node, dist FROM f0
        |    UNION ALL
        |    SELECT f0.root, und.dst AS node, f0.dist + 1
        |    FROM f0 JOIN und ON und.src = f0.node) u GROUP BY root, node),
        |f2 AS MATERIALIZED (SELECT root, node, MIN(dist) AS dist FROM (
        |    SELECT root, node, dist FROM f1
        |    UNION ALL
        |    SELECT f1.root, und.dst AS node, f1.dist + 1
        |    FROM f1 JOIN und ON und.src = f1.node) u GROUP BY root, node),
        |h AS (SELECT root AS node, CAST(COUNT(*) AS BIGINT) AS n_ball,
        |    CAST(SUM(1000000 // dist) AS BIGINT) AS h_e6
        |  FROM f2 WHERE dist > 0 GROUP BY root)
        |SELECT node, n_ball, h_e6 FROM h
        |ORDER BY h_e6 DESC, node LIMIT 30""".stripMargin))
  )
}
