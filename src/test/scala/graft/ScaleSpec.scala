package graft

import org.apache.spark.sql.functions._

import graft.ops.SegmentOps

import scala.util.Random

/** Scale-path equivalence + extension registration. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("bucketedContainmentJoin is equivalent to the plain theta join") {
    val rnd = new Random(7)
    val chunks = (1 to 3).flatMap { k =>
      var t = 0L
      (1 to 40).map { i =>
        val s = t + rnd.nextInt(50); val e = s + 10 + rnd.nextInt(200)
        t = e + 1
        (s"k$k", i.toLong, s, e)
      }
    }.toDF("key", "chunk_id", "cs", "ce")
    val segs = (1 to 3).flatMap { k =>
      (1 to 300).map { i =>
        val s = rnd.nextInt(8000).toLong; val e = s + rnd.nextInt(40)
        (s"k$k", i.toLong, s, e)
      }
    }.toDF("key", "seg_id", "ss", "se")

    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("s.key"), col("seg_id"), col("chunk_id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    val plain = norm(SegmentOps.containmentJoin(segs, chunks, "key", "ss", "se", "cs", "ce"))
    val bucketed = norm(SegmentOps.bucketedContainmentJoin(
      segs, chunks, "key", "ss", "se", "cs", "ce", bucketWidth = 256L))
    assert(plain.nonEmpty && bucketed == plain)
  }

  test("sortedContainmentJoin (custom SparkPlan) matches the theta join") {
    val rnd = new Random(11)
    // disjoint sorted chunks per key (the operator's documented contract)
    val chunks = (1 to 4).flatMap { k =>
      var t = 0L
      (1 to 50).map { i =>
        val s = t + 1 + rnd.nextInt(30); val e = s + 10 + rnd.nextInt(150)
        t = e
        (k.toLong, k * 1000L + i, s, e)
      }
    }.toDF("key", "chunk_id", "cs", "ce")
    val segs = (1 to 4).flatMap { k =>
      (1 to 400).map { i =>
        val s = rnd.nextInt(9000).toLong; val e = s + rnd.nextInt(60)
        (k.toLong, k * 10000L + i, s, e)
      }
    }.toDF("key", "seg_id", "ss", "se")

    val plain = SegmentOps.containmentJoin(segs, chunks, "key", "ss", "se", "cs", "ce")
      .select(col("seg_id"), col("chunk_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val custom = graft.plans.ContainmentJoin.sortedContainmentJoin(
      segs, chunks, "key", "ss", "se", "cs", "ce")
    assert(custom.queryExecution.executedPlan.toString.contains("ContainmentJoin"),
      "custom operator not planned")
    val got = custom.select(col("seg_id"), col("chunk_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.nonEmpty && got == plain)
  }

  test("RangeJoinRule rewrites containment joins to bucketed equi joins") {
    try {
      // Rows 501+ are INVERTED intervals (ss > se): they can satisfy the
      // raw containment condition (ss >= cs && se <= ce) while their
      // start bucket lies outside the chunk's bucket range — the rewrite
      // must route them through the catch-all bucket, not drop them.
      val segs = ((1 to 500).map(i => (i % 5L, i.toLong, (i * 13L) % 3000L))
        .map { case (k, id, s) => (k, id, s, s + 20L) } ++
        (501 to 520).map(i => (i % 5L, i.toLong, 2000L + i, 50L)) :+
        ((1L, 600L, 3100L, 5L))) // matches only the inverted chunk below
        .toDF("k", "seg_id", "ss", "se")
      // Chunk 40 is inverted (cs > ce): only inverted segs can match it,
      // and a naive bucket Sequence over it would throw.
      val chunks = ((0 until 40).map(i => (i % 5L, i.toLong, i * 80L, i * 80L + 200L)) :+
        ((1L, 40L, 3000L, 10L)))
        .toDF("k", "chunk_id", "cs", "ce")
      def run(): Set[(Long, Long)] = segs.alias("s").join(chunks.alias("c"),
          col("s.k") === col("c.k") && col("ss") >= col("cs") && col("se") <= col("ce"))
        .select(col("seg_id"), col("chunk_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      val baseline = run() // rule disabled (default width 0)
      assert(baseline.nonEmpty)
      spark.conf.set(graft.plans.RangeJoinRule.CONF_KEY, "256")
      val rewritten = segs.alias("s").join(chunks.alias("c"),
        col("s.k") === col("c.k") && col("ss") >= col("cs") && col("se") <= col("ce"))
      val planStr = rewritten.queryExecution.optimizedPlan.toString
      assert(planStr.contains("__gb_probe") && planStr.contains("__gb_build"),
        s"rule did not fire:\n$planStr")
      val got = rewritten.select(col("seg_id"), col("chunk_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == baseline)
    } finally spark.conf.set(graft.plans.RangeJoinRule.CONF_KEY, "0")
  }

  test("RangeJoinRule bucket arithmetic is exact above 2^53 (near-Long.MaxValue intervals)") {
    try {
      // Above 2^53 a double cannot represent every Long: the retired
      // double-divide bucket could round a probe start into a bucket the
      // build side never emitted, silently dropping the pair. Integer
      // `div` is exact; rewrite must equal the theta join here.
      val top = Long.MaxValue - 10000L
      val segs = (0 until 200).map { i =>
        val s = top + (i * 37L) % 9000L
        (i % 3L, i.toLong, s, s + 40L)
      }.toDF("k", "seg_id", "ss", "se")
      val chunks = (0 until 30).map { i =>
        val s = top + i * 300L
        (i % 3L, i.toLong, s, s + 700L)
      }.toDF("k", "chunk_id", "cs", "ce")
      def join() = segs.alias("s").join(chunks.alias("c"),
        col("s.k") === col("c.k") && col("ss") >= col("cs") && col("se") <= col("ce"))
        .select(col("seg_id"), col("chunk_id"))
      val baseline = join().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(baseline.nonEmpty)
      spark.conf.set(graft.plans.RangeJoinRule.CONF_KEY, "256")
      val rewritten = join()
      val planStr = rewritten.queryExecution.optimizedPlan.toString
      assert(planStr.contains("__gb_probe"), s"rule did not fire:\n$planStr")
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == baseline)
    } finally spark.conf.set(graft.plans.RangeJoinRule.CONF_KEY, "0")
  }

  test("bucketed tables co-locate repeated joins: zero exchanges in the plan") {
    // The 100 TB co-location pattern: both fact tables bucketed by the
    // join key with the same bucket count — every subsequent join reads
    // matching buckets directly, no shuffle of either side, ever.
    import spark.implicits._
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1 to 1000).map(i => (i.toLong % 50, i.toLong)).toDF("k", "va")
      val b = (1 to 1000).map(i => (i.toLong % 50, i.toLong * 2)).toDF("k", "vb")
      spark.sql("DROP TABLE IF EXISTS g_buck_a")
      spark.sql("DROP TABLE IF EXISTS g_buck_b")
      graft.sources.Bucketed.writeBucketed(a, "g_buck_a", "k", 8)
      graft.sources.Bucketed.writeBucketed(b, "g_buck_b", "k", 8)
      val j = graft.sources.Bucketed.readBucketed(spark, "g_buck_a")
        .join(graft.sources.Bucketed.readBucketed(spark, "g_buck_b"), "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(j.count() == 50L * 20L * 20L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS g_buck_a")
      spark.sql("DROP TABLE IF EXISTS g_buck_b")
    }
  }

  test("GraftExtensions registers native functions for plain SQL use") {
    // every row of the function table is callable by name from SQL in the
    // shared session, which GraftSession builds with the extensions
    val cases = Map( // name -> (arguments, result as a string)
      "graft_dot" -> ("array(1L, 2L, 3L), array(4L, 5L, 6L)", "32"),
      // bit 0: 1 + 2 > 0, bit 1: 1 - 2 <= 0
      "graft_srp_sig" -> ("array(1L, -2L), array(1L, -1L, 1L, 1L), 2", "1"),
      "graft_quant_e4" -> ("array(0.25D, -1.5D)", "[2500, -15000]"),
      "graft_hilbert_key" -> ("2L, 3L, 2", "9"),
      "graft_nfc" -> ("'e\u0301'", "\u00e9"),
      "graft_cdc" -> ("'Hello, world'", "[helloworld]"),
      "graft_dhash" -> ("sequence(0, 71)", "[0, 0, 0, 0]"),
      // lut[0 * 16 + 1] + lut[1 * 16 + 2]
      "graft_packed_adc" -> ("array(33L), sequence(0L, 31L)", "19"),
      // three 8-grams, fewer than one window: the least md5
      "graft_winnow_8_4" -> ("'abcdefghij'", "[08e5341eabb343d93d07ffa096ea649b]"),
      "graft_polyval_mos" -> ("0.0", "0.06"))
    assert(graft.expr.GraftFunctions.table.map(_.name).toSet == cases.keySet)
    graft.expr.GraftFunctions.table.foreach { row =>
      val (args, want) = cases(row.name)
      assert(spark.sql(s"SELECT CAST(${row.name}($args) AS STRING)").head.getString(0) == want,
        row.name)
    }
  }
}
