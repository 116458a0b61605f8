package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: Bench, Verify, PlanDump and the test suites
  * all build their session here, at `local[cpus]` with as many shuffle
  * partitions, with [[GraftExtensions]] installed.
  */
object GraftSession {
  def apply(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // decouple Tungsten page size from heap size — see build.sbt
      .config("spark.buffer.pageSize", "4m")
      .config("spark.ui.enabled", "false")
      // the four confs Tables.tune also sets on sessions built elsewhere
      // (its comment says why each is needed)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      // local[*] heartbeats are in-process, so the default 10 s heartbeat
      // and 120 s network timeout can only kill the context when the
      // host stalls the whole JVM for minutes (seen: 60 missed heartbeats
      // ending an otherwise green test run). Generous values cost nothing
      // in-process.
      .config("spark.network.timeout", "3600s")
      .config("spark.executor.heartbeatInterval", "300s")
      .config("spark.rpc.askTimeout", "3600s")
      .config("spark.rpc.lookupTimeout", "3600s")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
}
