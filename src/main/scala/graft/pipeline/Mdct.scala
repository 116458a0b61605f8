package graft.pipeline

/** The MDCT filterbank kernel shared by the AAC and Vorbis codecs, in
  * O(n log n). Both codecs use the same phase, n0 = n/4 + ½:
  *
  *   IMDCT  y[j] = Σ_k X[k]·cos(2π/n·(j + ½ + n/4)(k + ½)),  j < n, k < n/2
  *   MDCT   X[k] = (4/n)·Σ_j x[j]·w[j]·cos(2π/n·(j + ½ + n/4)(k + ½))
  *
  * With N = n/2 both are one DCT-IV of size N, C[m] = Σ_k X[k]·cos(π/N·
  * (m + ½)(k + ½)), read or folded through its odd extension
  * (c(2N−1−m) = −c(m), c(m+2N) = −c(m)) at m = j + N/2. The DCT-IV runs
  * as an N/2-point radix-2 complex FFT between a pre- and a post-twiddle
  * by e^(−iπ(p + ⅛)/N), with the even inputs as real parts and the
  * reversed odd inputs as imaginary parts. The 4/n forward scale makes
  * the MDCT → IMDCT cascade unity under overlap-add with a
  * Princen-Bradley window (the TDAC identity pinned in VorbisSpec).
  *
  * Twiddle tables are O(n) and memoized per size; a decoder resolves
  * them once per stream through [[Inverse]]. Sizes must be powers of
  * two ≥ 8: AAC uses 256 and 2048, Vorbis 64..8192.
  */
object Mdct {

  /** Modified Bessel I0 (power series, converges fast for |x| ≤ 30):
    * the Kaiser kernel of AAC's KBD window and of MP3's polyphase
    * prototype.
    */
  def besselI0(x: Double): Double = {
    var sum = 1.0
    var term = 1.0
    var k = 1
    while (k < 64 && term > 1e-18 * sum) {
      term *= (x / (2.0 * k)) * (x / (2.0 * k))
      sum += term
      k += 1
    }
    sum
  }

  private final class Plan(n: Int) {
    val half: Int = n / 2
    val fftSize: Int = n / 4
    /** cos/sin of π(p + ⅛)/N, p < N/2: the pre- and post-twiddle. */
    val twCos: Array[Double] = Array.tabulate(fftSize)(p => math.cos(math.Pi * (p + 0.125) / half))
    val twSin: Array[Double] = Array.tabulate(fftSize)(p => math.sin(math.Pi * (p + 0.125) / half))
    /** cos/sin of 2πk/(N/2), k < N/4: the FFT roots. */
    val rootCos: Array[Double] = Array.tabulate(fftSize / 2)(k => math.cos(2 * math.Pi * k / fftSize))
    val rootSin: Array[Double] = Array.tabulate(fftSize / 2)(k => math.sin(2 * math.Pi * k / fftSize))
    val bitRev: Array[Int] = {
      val bits = Integer.numberOfTrailingZeros(fftSize)
      Array.tabulate(fftSize)(i => Integer.reverse(i) >>> (32 - bits))
    }
  }

  private val plans = new java.util.concurrent.ConcurrentHashMap[Integer, Plan]()

  private def plan(n: Int): Plan = {
    require(n >= 8 && Integer.bitCount(n) == 1,
      s"Mdct: transform size n=$n must be a power of two >= 8")
    plans.computeIfAbsent(n, _ => new Plan(n))
  }

  /** DCT-IV of the first N values of `x` into `out`: C[m] = Σ_k x[k]·
    * cos(π/N·(m + ½)(k + ½)). `re`/`im` are N/2-long work buffers; every
    * slot of them and of `out` is written before it is read.
    */
  private def dct4(x: Array[Double], p: Plan, re: Array[Double], im: Array[Double],
                   out: Array[Double]): Unit = {
    val nn = p.half
    val m = p.fftSize
    var q = 0
    while (q < m) {
      // (x[2q] + i·x[N−1−2q])·e^(−iθ), stored bit-reversed for the FFT
      val a = x(2 * q); val b = x(nn - 1 - 2 * q)
      val c = p.twCos(q); val s = p.twSin(q)
      val r = p.bitRev(q)
      re(r) = a * c + b * s
      im(r) = b * c - a * s
      q += 1
    }
    // iterative radix-2 decimation-in-time FFT, kernel e^(−2πi·jk/m)
    var size = 2
    while (size <= m) {
      val h = size / 2
      val stride = m / size
      var start = 0
      while (start < m) {
        var k = 0
        while (k < h) {
          val wr = p.rootCos(k * stride); val wi = -p.rootSin(k * stride)
          val j = start + k; val l = j + h
          val tr = re(l) * wr - im(l) * wi
          val ti = re(l) * wi + im(l) * wr
          re(l) = re(j) - tr; im(l) = im(j) - ti
          re(j) += tr; im(j) += ti
          k += 1
        }
        start += size
      }
      size *= 2
    }
    q = 0
    while (q < m) {
      val c = p.twCos(q); val s = p.twSin(q)
      out(2 * q) = re(q) * c + im(q) * s
      out(nn - 1 - 2 * q) = re(q) * s - im(q) * c
      q += 1
    }
  }

  /** The IMDCT of one size n with its plan resolved and its buffers
    * allocated once, so a decoder pays neither per block: it keeps one
    * per block size for a whole stream. [[apply]] returns its n-sample
    * output buffer, which the next call overwrites. Not thread-safe.
    */
  final class Inverse(n: Int) {
    private val p = plan(n)
    private val re = new Array[Double](p.fftSize)
    private val im = new Array[Double](p.fftSize)
    private val c = new Array[Double](p.half)
    private val out = new Array[Double](n)

    /** n output samples from the n/2 lines of `spec`. */
    def apply(spec: Array[Double]): Array[Double] = {
      dct4(spec, p, re, im, c)
      val q = p.half / 2
      // y[j] = c(j + N/2): direct for j < N/2, mirrored for j < 3N/2,
      // then periodic
      var j = 0
      while (j < q) { out(j) = c(j + q); j += 1 }
      while (j < 3 * q) { out(j) = -c(3 * q - 1 - j); j += 1 }
      while (j < n) { out(j) = -c(j - 3 * q); j += 1 }
      out
    }
  }

  /** IMDCT: n output samples from the n/2 lines of `spec`, in a fresh array. */
  def inverse(spec: Array[Double], n: Int): Array[Double] = new Inverse(n)(spec)

  /** MDCT of the windowed block x·w: n/2 lines from n = x.length
    * samples. The exact transpose of [[inverse]], scaled by 4/n.
    */
  def forward(x: Array[Double], win: Array[Double]): Array[Double] = {
    val n = x.length
    val p = plan(n)
    val nn = p.half
    val q = nn / 2
    // fold the n windowed inputs onto N through the same odd extension
    val u = new Array[Double](nn)
    var i = 0
    while (i < q) {
      val a = 3 * q - 1 - i; val b = 3 * q + i
      u(i) = -x(a) * win(a) - x(b) * win(b)
      i += 1
    }
    while (i < nn) {
      val a = i - q; val b = 3 * q - 1 - i
      u(i) = x(a) * win(a) - x(b) * win(b)
      i += 1
    }
    val c = new Array[Double](nn)
    dct4(u, p, new Array[Double](p.fftSize), new Array[Double](p.fftSize), c)
    i = 0
    while (i < nn) { c(i) = c(i) * 4.0 / n; i += 1 }
    c
  }
}
