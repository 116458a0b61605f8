package graft
import java.nio.file.{Files, Paths}

/** Dev tool: write `.explain("formatted")` of named queries to files —
  * the before/after plan evidence of an optimization round.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> q1,q2,...
  * writes <outDir>/<query>_<suffix>.txt for each named query, built
  * against $SPARK_GRAFT_SF_DIR (default sf0.01) on a small local
  * session (plan shape does not depend on the core count).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, names) = args
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.split(",").filter(_.nonEmpty).foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
        println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
