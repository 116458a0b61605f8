package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench's timed pass and its two output lines. */
class BenchSpec extends SparkSpec {
  import spark.implicits._

  private val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(10).toDF()

  test("a throwing query lands in errors, counts in n_failed and stays out of total") {
    val throwsInTask: (SparkSession, String) => DataFrame = (s, _) =>
      s.range(3).as[Long].map(i => if (i == 2) throw new IllegalStateException("planted") else i).toDF()
    val throwsInBuild: (SparkSession, String) => DataFrame = (_, _) =>
      throw new IllegalArgumentException("no such \"table\"")
    for ((boom, cls, msg) <- Seq((throwsInTask, "org.apache.spark.SparkException", "planted"),
                                 (throwsInBuild, "java.lang.IllegalArgumentException", "no such \"table\""))) {
      val results = Bench.timePass(spark, "unused", Seq("ok" -> ok, "boom" -> boom))
      val (stdout, file) = Bench.lines(results, "sf", "out.json")
      val j = new ObjectMapper().readTree(file)
      assert(j.get("n_failed").asInt == 1)
      assert(j.get("queries").get("boom").asDouble == -1d)
      assert(j.get("queries").get("ok").asDouble >= 0d)
      assert(j.get("value").asText == j.get("queries").get("ok").asText, file)
      val errors = j.get("errors")
      assert(errors.size == 1 && errors.has("boom"), file)
      val err = errors.get("boom").asText
      assert(err.startsWith(cls + ": ") && err.contains(msg), err)
      // the stdout line keeps its shape
      val line = new ObjectMapper().readTree(stdout)
      assert(line.get("n_failed").asInt == 1 && !line.has("errors") && line.get("file").asText == "out.json")
    }
  }

  test("a warm-up failure lands in errors as warmup:<query> and leaves the timed pass alone") {
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val flaky: (SparkSession, String) => DataFrame = (s, _) =>
      if (calls.getAndIncrement() == 0) throw new IllegalStateException("cold start")
      else s.range(5).toDF()
    val queries = Seq("ok" -> ok, "flaky" -> flaky)
    val warm = Bench.warmUp(spark, "unused", queries)
    assert(warm == Seq("warmup:flaky" -> "java.lang.IllegalStateException: cold start"))
    val results = Bench.timePass(spark, "unused", queries)
    val (stdout, file) = Bench.lines(results, "sf", "out.json", warm)
    val j = new ObjectMapper().readTree(file)
    assert(j.get("n_failed").asInt == 0, file)
    assert(j.get("queries").get("flaky").asDouble >= 0d, file)
    val total = j.get("queries").get("ok").asDouble + j.get("queries").get("flaky").asDouble
    assert(math.abs(j.get("value").asDouble - total) <= 0.0015, file)
    val errors = j.get("errors")
    assert(errors.size == 1, file)
    assert(errors.get("warmup:flaky").asText == "java.lang.IllegalStateException: cold start", file)
    val line = new ObjectMapper().readTree(stdout)
    assert(line.get("n_failed").asInt == 0 && !line.has("errors"))
  }
}
