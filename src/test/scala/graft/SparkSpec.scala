package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM — Test/fork=true). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The number of Spark jobs `body` starts, counted by a listener under
    * a job group of its own; the listener bus is drained before reading.
    */
  def jobsStarted(group: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, group)
    try body
    finally {
      spark.sparkContext.clearJobGroup()
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get()
  }
}
