package graftbench

import java.nio.file.Path

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The raw record `run.py` reads: every operation with its Spark work,
  * every check, and (traced) the layer facts. Written with the Jackson
  * that ships with Spark.
  */
object Json {
  import Main.Ctx

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: Path, ctx: Ctx, readyMs: Long, loopS: Double): Unit = {
    val groups = ctx.sparkWork.byGroup
    val ops = ctx.ops.map { o =>
      Map("pass" -> o.pass, "name" -> o.name, "error" -> o.error, "build_s" -> o.buildS,
        "plan_s" -> o.planS, "exec_s" -> o.execS, "storage_mb" -> o.storageMb, "extra" -> o.extra,
        "work" -> groups.get(s"${o.name}#${o.pass}").map(_.toMap).getOrElse(Map.empty))
    }
    val streams = ctx.streams.byOp.map { case (op, q) =>
      op -> Map("batches" -> q.batches, "addBatch_ms" -> q.addBatchMs,
        "walCommit_ms" -> q.walCommitMs, "commitOffsets_ms" -> q.commitOffsetsMs,
        "state_rows" -> q.stateRows)
    }
    val groupSum = new Work
    groups.values.foreach(groupSum.add)
    val scans = ctx.plans.scanTotals
    val body = Map(
      "workload" -> ctx.opts("workload"),
      "ready_ms" -> readyMs,
      "loop_s" -> loopS,
      "warmup_s" -> ctx.warmupS,
      "gen_s" -> ctx.genS,
      "cal_s" -> ctx.calS,
      "pass_wall_s" -> ctx.passWall,
      "notes" -> ctx.notes,
      "ops" -> ops,
      "checks" -> ctx.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "layer" -> ctx.layer,
      "self_s" -> ctx.spans.selfSeconds,
      "staged_s" -> ctx.plans.stagedS,
      "scan_s" -> scans.map { case (k, v) => k -> v._1 },
      "scan_rows" -> scans.map { case (k, v) => k -> v._2 },
      "join_rows" -> ctx.plans.joinRows,
      "result_rows" -> ctx.plans.resultRows,
      "streams" -> streams,
      "session_work" -> ctx.sparkWork.session.toMap,
      "group_work_sum" -> groupSum.toMap) ++ ctx.extra
    mapper.writeValue(path.toFile, body)
  }

  /** One span per line. */
  def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(mapper.writeValueAsString(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "run" -> s.run)))
      w.newLine()
    } finally w.close()
  }
}
