package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.{BatchModel, ModelCache}

/** One timed region: name, wall-clock bounds (ns, System.nanoTime), the
  * enclosing span's id (−1 at the root) and the run it belongs to.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, run: String)

/** In-memory span recorder. Spans nest per thread; nothing is written
  * until the run ends ([[Json.writeSpans]]). Disabled, it only runs the body.
  */
final class Spans(val enabled: Boolean, run: String) {
  /** Set during warm-up: its spans are not part of the measurement. */
  @volatile var paused = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  def recording: Boolean = enabled && !paused

  def apply[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { done += Span(id, name, t0, t1, parent, run) }
      }
    }

  def all: Seq[Span] = synchronized(done.toSeq.sortBy(_.start))

  /** Self time per span name: each span minus the union of its children. */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Spans.unionLength(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }
}

object Spans {
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }
}

/** Spark work of one job group (or of the whole session). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExec = 0L
  var gcMs = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    peakExec = math.max(peakExec, o.peakExec); gcMs += o.gcMs
  }

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_cpu_s" -> cpuNs / 1e9, "shuffle_read_mb" -> shuffleRead / 1048576d,
    "shuffle_write_mb" -> shuffleWrite / 1048576d, "spill_mb" -> spill / 1048576d,
    "peak_exec_mb" -> peakExec / 1048576d, "gc_s" -> gcMs / 1e3)
}

/** The benchmark's own SparkListener: task metrics keyed by the job
  * group the benchmark sets per operation (`gb:<op>#<pass>`). Jobs started
  * outside a benchmark group (engine thread pools) go to the operation
  * current when the event is delivered — the benchmark drains the bus at
  * every operation boundary, so that is the operation that ran them.
  */
final class SparkWork extends SparkListener {
  @volatile var current: String = "setup"
  val session = new Work
  private val groups = mutable.LinkedHashMap.empty[String, Work]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  def byGroup: Map[String, Work] = synchronized(groups.toMap)

  private def work(g: String): Work = groups.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("gb:")).map(_.stripPrefix("gb:")).getOrElse(current)
    e.stageIds.foreach(s => stageGroup(s) = g)
    work(g).jobs += 1
    session.jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    work(stageGroup.getOrElse(e.stageInfo.stageId, current)).stages += 1
    session.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageGroup.getOrElse(e.stageId, current))
    Seq(w, session).foreach { a =>
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
        a.gcMs += m.jvmGCTime
      }
    }
  }
}

/** Plan-level facts read from every successful action's executed plan:
  * staged-relation writes by directory, parquet scan time/rows by table, and
  * for the operation's final result write the join nodes' output rows
  * against the rows written.
  */
final class PlanFacts(resultRoot: String) extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile var current: String = "setup"
  // staged writes by temp-dir name (`graft_rel_<tag><random>` or
  // `graft_stream_<tag><random>`); run.py maps them to tags
  val stagedS = mutable.LinkedHashMap.empty[String, Double]
  // scan nodes by their row metric's id: a cached plan's scan shows up in
  // every action that reads the cache, but its metrics belong to one run
  private val scans = mutable.LinkedHashMap.empty[Long, (String, Long, Long)]
  val joinRows = mutable.LinkedHashMap.empty[String, Long]
  val resultRows = mutable.LinkedHashMap.empty[String, Long]

  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (current.contains('#')) record(qe, durationNs) // timed operations only

  private def record(qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val plan = qe.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }
    val out = nodes.collectFirst { case w: DataWritingCommandExec => w }.flatMap { w =>
      w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => Some((i.outputPath.toString, w))
        case _ => None
      }
    }
    out.foreach { case (path, w) =>
      path.split('/').find(d => d.startsWith("graft_rel_") || d.startsWith("graft_stream_")) match {
        case Some(dir) =>
          stagedS(dir) = stagedS.getOrElse(dir, 0d) + durationNs / 1e9
        case None if path.contains(resultRoot) =>
          joinRows(current) = joinRows.getOrElse(current, 0L) +
            nodes.collect { case j: BaseJoinExec => metric(j, "numOutputRows") }.sum
          resultRows(current) = resultRows.getOrElse(current, 0L) + metric(w, "numOutputRows")
        case None =>
      }
    }
    val cached = nodes.collect { case m: InMemoryTableScanExec => m.relation.cachedPlan }
    (nodes ++ cached.flatMap(p => collectWithSubqueries(p) { case n => n })).foreach {
      case s: FileSourceScanExec if s.metrics.contains("numOutputRows") =>
        val table = s.relation.location.rootPaths.headOption
          .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
        scans(s.metrics("numOutputRows").id) =
          (table, metric(s, "scanTime"), metric(s, "numOutputRows"))
      case _ =>
    }
  }

  /** Table → (scan seconds, rows) over every distinct scan node seen. */
  def scanTotals: Map[String, (Double, Long)] = synchronized {
    scans.values.groupBy(_._1).map { case (t, xs) =>
      t -> (xs.map(_._2).sum / 1e3, xs.map(_._3).sum)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Micro-batch progress of every streaming query, keyed by the
  * operation that ran it.
  */
final class StreamFacts extends StreamingQueryListener {
  @volatile var current: String = "setup"
  final class Q { var batches = 0L; var addBatchMs = 0L; var walCommitMs = 0L
    var commitOffsetsMs = 0L; var stateRows = 0L }
  val byOp = mutable.LinkedHashMap.empty[String, Q]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    if (current.contains('#')) record(e.progress)
  }

  private def record(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val q = byOp.getOrElseUpdate(current, new Q)
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0 || d("addBatch") > 0) q.batches += 1
    q.addBatchMs += d("addBatch")
    q.walCommitMs += d("walCommit")
    q.commitOffsetsMs += d("commitOffsets")
    q.stateRows = math.max(q.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
  }
}

/** Counts the items a batch model is asked for, and the items of calls
  * that throw. A traced run installs one under each mock model's name in
  * the engine's per-JVM `ModelCache` before any stage runs, so every
  * `InferenceOp` call goes through it (at `local[N]` the executors are
  * the driver's JVM).
  */
final class CountedModel[I, O](inner: BatchModel[I, O]) extends BatchModel[I, O] {
  def name: String = inner.name
  def predictBatch(xs: Seq[I]): Seq[O] = {
    val (items, failed) = CountedModel.counters(name)
    items.addAndGet(xs.size)
    try inner.predictBatch(xs)
    catch { case e: Throwable => failed.addAndGet(xs.size); throw e }
  }
}

object CountedModel {
  private val all = new ConcurrentHashMap[String, (AtomicLong, AtomicLong)]()

  def counters(name: String): (AtomicLong, AtomicLong) =
    all.computeIfAbsent(name, _ => (new AtomicLong, new AtomicLong))

  /** Put a counting wrapper in the model cache; false if the engine had
    * already loaded a model under that name.
    */
  def install[I, O](model: BatchModel[I, O]): Boolean =
    ModelCache.getOrCreate(model.name)(new CountedModel(model)).isInstanceOf[CountedModel[_, _]]

  /** Model name → (items, failed items) so far. */
  def snapshot: Map[String, (Long, Long)] =
    all.asScala.map { case (k, (i, f)) => k -> (i.get, f.get) }.toMap
}
