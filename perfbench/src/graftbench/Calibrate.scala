package graftbench

import java.util.concurrent.{Callable, Executors}

/** The machine-speed yardstick: a fixed CPU-and-memory job (fill, sort
  * and hash 2^21 longs), one copy per core at once, timed. The machine
  * this benchmark runs on is shared; on the reference box its speed
  * drifted by up to 2.7x within minutes, and task CPU time moved with it.
  * The tracked metrics are therefore also reported scaled to a fixed
  * yardstick time (see `run.py`), next to the raw seconds.
  *
  * It runs in a JVM of its own that the workload's JVM starts and asks
  * for samples between passes (`Main.Ctx.calibrate`), so no heap the
  * engine holds is shared with it: `graftbench.Calibrate --threads <n>`
  * runs one untimed JIT warm-up, then for each stdin line `k` prints `k`
  * lines `yardstick_s <seconds>`; it exits at the end of its input.
  */
object Calibrate {
  private def job(seed: Long): Long = {
    val rng = new java.util.SplittableRandom(seed)
    val a = Array.fill(1 << 21)(rng.nextLong())
    java.util.Arrays.sort(a)
    var h = 0L
    var i = 0
    while (i < a.length) { h = h * 31 + a(i); i += 1 }
    h
  }

  /** Seconds for `threads` parallel copies of the job. */
  def seconds(threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val t0 = System.nanoTime()
      val jobs = (0 until threads).map(t => pool.submit(new Callable[Long] { def call(): Long = job(t) }))
      jobs.foreach(_.get())
      (System.nanoTime() - t0) / 1e9
    } finally pool.shutdown()
  }

  def main(args: Array[String]): Unit = {
    val opts = new Main.Opts(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val threads = opts("threads").toInt
    seconds(threads)
    scala.io.Source.stdin.getLines().foreach { k =>
      (1 to k.trim.toInt).foreach(_ => println(s"yardstick_s ${seconds(threads)}"))
      Console.out.flush()
    }
  }
}
