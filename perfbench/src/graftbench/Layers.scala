package graftbench

import org.apache.spark.sql.functions._

import graft.expr._
import graft.pipeline.WavAudio

/** Traced-run layer probes that are not a by-product of the workload's
  * own operations: codec decode throughput over the workload's payloads,
  * and per-row throughput of the `expr/` kernels over generated columns.
  */
object Layers {
  import Main.Ctx

  /** Decode MB/s per codec, driver thread, each codec's payloads in turn. */
  def codecs(ctx: Ctx, corpus: Seq[SpeechCorpus.Item]): Unit =
    corpus.filterNot(_.corrupt).groupBy(_.codec).foreach { case (codec, items) =>
      val bytes = items.map(_.bytes.length.toLong).sum
      val t0 = System.nanoTime()
      var reps = 0
      while (reps == 0 || System.nanoTime() - t0 < 300000000L) {
        items.foreach(i => WavAudio.decode(i.bytes))
        reps += 1
      }
      ctx.layer(s"pipeline.decode_mb_per_s.$codec") =
        bytes * reps / 1048576d / ((System.nanoTime() - t0) / 1e9)
    }

  /** The kernels, each as one projection over a cached generated input. */
  private def kernels(ctx: Ctx): Seq[(String, String)] = {
    val s = ctx.spark
    val winnow = WinnowFingerprint.register(s, 8, 4)
    val poly = Polyval.register(s, "bench", Seq(0.99, -2.5, 1.7, 0.06))
    Seq(SrpSignature.register(s), QuantizeE4.register(s), HilbertKey.register(s),
      LongArrayDot.register(s), CdcChunks.register(s), NfcNormalize.register(s),
      DHashBands.register(s), PackedAdcSum.register(s))
    Seq(
      ("graft_srp_sig", "graft_srp_sig(qv, mat, 60)"),
      ("QuantizeE4", "graft_quant_e4(emb)"),
      ("graft_hilbert_key", "graft_hilbert_key(b0, b1, 16)"),
      ("graft_dot", "graft_dot(qv, qv)"),
      ("winnow", s"size($winnow(text))"),
      ("cdc", "size(graft_cdc(text))"),
      ("nfc", "graft_nfc(text)"),
      ("dhash_bands", "graft_dhash(grid)"),
      ("polyval", s"$poly(b0 / 1000.0)"),
      ("packed_adc", "graft_packed_adc(packed, lut)"))
  }

  def exprKernels(ctx: Ctx, rows: Long = 10000, reps: Int = 5): Unit = {
    val s = ctx.spark
    val base = s.range(rows).selectExpr(
      "id",
      "transform(sequence(0, 63), i -> cast(((id * 7919 + i * 104729) % 2001 - 1000) / 1000.0 as float)) AS emb",
      "transform(sequence(0, 63), i -> (id * 31 + i * 17) % 20001 - 10000) AS qv",
      "id % 65536 AS b0", "(id * 40503) % 65536 AS b1",
      "concat_ws(' ', transform(sequence(0, 40), i -> concat('w', cast((id * 13 + i * 7) % 97 as string), 'é'))) AS text",
      "transform(sequence(0, 71), i -> cast((id * 5 + i * 11) % 256 as int)) AS grid",
      "transform(sequence(0, 3), i -> id * 2654435761 + i * 40503) AS packed").cache()
    base.count()
    kernels(ctx).foreach { case (name, e) =>
      ctx.current(s"expr.$name")
      // every cached row `reps` times, so the kernel and not the job
      // overhead sets the time; a new Dataset per execution, because
      // re-running one reuses its materialized stages and skips the kernel
      def q = base.crossJoin(broadcast(s.range(reps).toDF("rep")))
        .withColumn("mat", typedLit(Array.tabulate(60 * 64)(i => (i * 7L + 3) % 201 - 100)))
        .withColumn("lut", typedLit(Array.tabulate(1024)(i => (i % 97).toLong)))
        .select(bit_xor(xxhash64(expr(e))))
      try {
        q.collect() // warm
        val secs = (1 to 3).map(_ => ctx.time(q.collect())._2).sorted
        ctx.layer(s"expr.$name.rows_per_s") = rows * reps / secs(1) // median of three
        System.err.println(f"[kernel] $name%s ${secs.mkString(" ")}%s s for ${rows * reps}%d rows")
      } catch {
        case err: Throwable => ctx.checks += Main.Check(s"expr.$name", ok = false,
          s"${err.getClass.getName}: ${String.valueOf(err.getMessage).take(300)}")
      }
    }
    base.unpersist()
  }
}
