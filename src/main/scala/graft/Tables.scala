package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Table loaders for the driver-generated TPC-H-ish star schema plus the
  * `events`/`documents`/`embeddings` tables (see TESTDATA.md).
  *
  * The `events.ts` column's physical parquet type has varied across
  * driver-generated datasets: INT64 TIMESTAMP(NANOS) (read as a plain
  * epoch-nanos long via `nanosAsLong`) or INT64 TIMESTAMP(MICROS) with
  * isAdjustedToUTC=false (read as TIMESTAMP_NTZ). [[tsUs]] normalizes
  * either to exact integer epoch-microseconds — precisely DuckDB's
  * `epoch_us(ts)` on the same file (DuckDB truncates nanos to micros on
  * read and treats naive timestamps as UTC wall time) — so every time
  * computation downstream stays in the exact integer domain and is
  * bit-reproducible against the oracle.
  */
object Tables {

  /** Session settings every entry point needs regardless of who built the
    * SparkSession (the driver builds its own for Verify/Bench). UTC makes
    * the NTZ↔epoch conversions in [[tsUs]] match DuckDB's naive-as-UTC
    * reading; `nanosAsLong` keeps TIMESTAMP(NANOS) files readable.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Streaming checkpoint I/O: the default FileContext-based manager
    // fork/execs (readlink) per checkpoint rename — from a large JVM
    // every fork copies page tables, and a micro-batch does many
    // renames. The FileSystem-based manager uses File.renameTo. The
    // checksum sidecar files double the I/O for nothing on local disk,
    // and their manager deadlocked local[4] stateful queries on close.
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    spark
  }

  /** `ts` as exact epoch-microseconds, whatever physical type the writer
    * used. Works on batch and streaming frames (dispatch is on the
    * resolved schema, the expression is a plain column transform).
    */
  def tsUs(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType         => expr("ts div 1000") // epoch nanos via nanosAsLong
    case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
    case TimestampType    => unix_micros(col("ts"))
    case other => throw new IllegalArgumentException(s"unsupported ts type $other")
  }

  /** Epoch-microseconds back into the raw `ts` domain of a file whose ts
    * field has `dt` — for synthesizing sentinel rows that must sort after
    * real data in the file's own type.
    */
  def usToTs(us: Column, dt: DataType): Column = dt match {
    case LongType => us * lit(1000L)
    case _        => timestamp_micros(us).cast(dt)
  }

  /** Scale-adaptive fan-out for CPU-heavy per-row work (optimization
    * guide §2.5, "input skew: repartition immediately after the read"):
    * the driver's test files are single-row-group parquet, so a scan is
    * ONE task and every tokenize/codec/hash pass before the first
    * exchange runs single-threaded regardless of the core count. When
    * the plan's current partitioning is narrower than the session's
    * parallelism, hash-spread the (small, pre-work) rows across the
    * cores; when the input already carries >= cores splits — the real
    * corpus-scale case — this is the identity, so no full-data shuffle
    * is ever introduced at scale. Call it on scan-adjacent frames only
    * (scan + filter + project): `.rdd.getNumPartitions` finalizes the
    * physical plan, which is free for a scan but would EXECUTE upstream
    * query stages on a frame with exchanges under AQE.
    */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) {
      if (keys.isEmpty) df.repartition(p) else df.repartition(p, keys: _*)
    } else df
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    tune(spark).read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** `events` rows as timestamped intervals — the engine's segment relation
    * (SURVEY §1.1): `user_id` plays the reference's per-file partition key,
    * `[s_us, e_us]` an interval whose duration is the `value` column in
    * seconds, all in exact integer microseconds.
    */
  def eventIntervals(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val t = tsUs(ev)
    ev.select(
      col("user_id"),
      col("event_id"),
      col("event_type"),
      t.as("s_us"),
      (t + round(col("value") * 1e6d).cast("long")).as("e_us"),
      round(col("value") * 100d).cast("long").as("cents"))
  }
}
