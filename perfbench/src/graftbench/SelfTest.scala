package graftbench

import java.nio.file.Files

import org.apache.spark.GraftBenchAccess

/** JVM-side self-tests of the benchmark (driven by `perfbench/test_bench.py`):
  *  - the speech corpus is byte-identical for one seed, different for another;
  *  - a throwing operation lands in the failures, with its class and message,
  *    and contributes no time;
  *  - per-job-group listener totals sum to the session totals.
  * Prints one `selftest <name> ok|FAIL` line per test; exits 1 on any failure.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    var failures = 0
    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      println(s"selftest $name ${if (ok) "ok" else s"FAIL $detail"}")
      if (!ok) failures += 1
    }

    def bytes(seed: Long) = SpeechCorpus.generate(seed, 1, 2, 1).map(i => i.name -> i.bytes.toSeq)
    check("speech_corpus_same_seed_identical", bytes(7) == bytes(7))
    check("speech_corpus_other_seed_differs", bytes(7) != bytes(8))

    val work = Files.createTempDirectory(java.nio.file.Paths.get(args(0)), "selftest")
    val spark = Main.session(2, work)
    val ctx = new Main.Ctx(spark, new Main.Opts(Map("workload" -> "selftest")), work, false)
    spark.sparkContext.addSparkListener(ctx.sparkWork)
    import spark.implicits._
    ctx.op(0, "ok_a")(o => o.copy(execS = ctx.time((1 to 1000).toDS().map(_ * 2).count())._2))
    val bad = ctx.op(0, "throws") { o =>
      spark.range(10).map(i => if (i == 7) throw new IllegalStateException("planted") else i).count()
      o.copy(execS = 99)
    }
    ctx.op(0, "ok_b")(o => o.copy(execS = ctx.time(spark.range(100).repartition(3).count())._2))
    check("failing_op_recorded", !bad.ok && bad.error.contains("planted") &&
      bad.error.contains("Exception"), bad.error)
    check("failing_op_adds_no_time", bad.totalS == 0d, bad.totalS.toString)
    check("failing_op_not_in_ok_ops", ctx.ops.filter(_.ok).map(_.name) == Seq("ok_a", "ok_b"))
    GraftBenchAccess.drainListeners(spark.sparkContext)
    val sum = new Work
    ctx.sparkWork.byGroup.values.foreach(sum.add)
    val (g, s) = (sum.toMap, ctx.sparkWork.session.toMap)
    check("listener_groups_sum_to_session", g == s && s("tasks") > 0, s"groups=$g session=$s")
    check("listener_keys_ops_by_group", Seq("ok_a#0", "throws#0", "ok_b#0")
      .forall(k => ctx.sparkWork.byGroup.get(k).exists(_.jobs > 0)), ctx.sparkWork.byGroup.keys.mkString(","))
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
