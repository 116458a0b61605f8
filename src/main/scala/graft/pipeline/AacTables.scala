package graft.pipeline

/** Static data for the pure-JVM AAC-LC decoder/encoder ([[AacAudio]] /
  * [[AacEncoder]]) — the last reference input format without waveform
  * decode (reference decode call sites: `modules/separation_filter
  * .py:101` via librosa/pydub; glob list `modules/models/utils
  * .py:11-16` includes `.aac` and `.m4a`).
  *
  * Data provenance (offline build, same posture as [[Mp3Tables]]):
  *
  *  - ADTS sampling-frequency index table, header layout, syntactic
  *    element grammar (SCE/CPE/END), ics_info window sequences,
  *    section/scalefactor/spectral data structure, the x^(4/3)
  *    dequantizer, M/S matrixing, TNS all-pole synthesis and the
  *    2048/256 window-switching filterbank: spec-exact per the
  *    public ISO/IEC 13818-7 / 14496-3 descriptions.
  *  - Scalefactor-band partitions and ALL entropy codebooks
  *    (scalefactor + spectral 1-11): the exact ISO tables are large
  *    per-sample-rate data listings that cannot be verified in this
  *    container; this engine substitutes deterministic ENGINE-LOCAL
  *    tables with the spec's exact domain semantics (band counts
  *    monotone to 1024/128; codebook dims/LAV/signedness/escape per
  *    spec), built by the canonical-Huffman construction MP3's
  *    engine-local tables share ([[Bitstream.canonicalCode]]) over a
  *    documented frequency model and machine-validated by
  *    [[validate]] as complete prefix codes (Kraft sum exactly 1).
  *    [[AacEncoder]] and [[AacAudio]] share them, so engine-minted
  *    streams round-trip; a FOREIGN stream decoded against these
  *    tables desynchronizes and fails [[AacAudio]]'s strict
  *    frame-length bit accounting loudly (S10 failed-status), never
  *    emitting silently-corrupt audio.
  */
object AacTables {

  // ----------------------------------------------------------- header
  /** ADTS sampling_frequency_index → rate (spec-exact; index 13-14
    * reserved, 15 escape).
    */
  val SampleRates = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350)

  // -------------------------------------- scalefactor band partitions
  /** Engine-local long-window scalefactor band widths (32 bands,
    * geometric-ish growth, Σ = 1024). Spec rate-dependent tables are
    * replaced by ONE fixed partition (see object scaladoc).
    */
  val SwbLong: Array[Int] = {
    val widths = Array.fill(16)(16) ++ Array.fill(8)(32) ++ Array.fill(8)(64)
    val off = widths.scanLeft(0)(_ + _)
    require(off.last == 1024, s"long swb must end at 1024, got ${off.last}")
    off
  }

  /** Engine-local short-window band widths (8 bands, Σ = 128). */
  val SwbShort: Array[Int] = {
    val widths = Array.fill(4)(8) ++ Array.fill(2)(16) ++ Array.fill(2)(32)
    val off = widths.scanLeft(0)(_ + _)
    require(off.last == 128, s"short swb must end at 128, got ${off.last}")
    off
  }

  def numSwb(short: Boolean): Int =
    (if (short) SwbShort.length else SwbLong.length) - 1

  def swbOffset(short: Boolean): Array[Int] = if (short) SwbShort else SwbLong

  // ------------------------------------------------- codebook algebra
  /** One spectral codebook: `dim`-tuples of values with largest
    * absolute value `lav`; `signedVals` = the tuple values carry their
    * sign inside the codeword (cb 1/2/5/6), else magnitudes + trailing
    * sign bits (cb 3/4/7-11); cb 11 adds the escape sequence at
    * magnitude 16. `hlen`/`hcod` indexed by the mixed-radix tuple
    * index over (2·lav+1) or (lav+1) symbols per dimension.
    */
  final case class SpecBook(id: Int, dim: Int, lav: Int, signedVals: Boolean,
                            hlen: Array[Int], hcod: Array[Long]) {
    val radix: Int = if (signedVals) 2 * lav + 1 else lav + 1
    def size: Int = hlen.length
    /** Tuple → index: Σ digit_i · radix^(dim-1-i); signed digits are
      * biased by +lav.
      */
    def index(vals: Array[Int]): Int = {
      var idx = 0
      var i = 0
      while (i < dim) {
        val d = if (signedVals) vals(i) + lav else vals(i)
        require(d >= 0 && d < radix, s"cb $id: value ${vals(i)} out of range")
        idx = idx * radix + d
        i += 1
      }
      idx
    }
    /** Index → tuple (inverse of [[index]]). */
    def tuple(idx0: Int): Array[Int] = {
      val out = new Array[Int](dim)
      var idx = idx0
      var i = dim - 1
      while (i >= 0) {
        val d = idx % radix
        out(i) = if (signedVals) d - lav else d
        idx /= radix
        i -= 1
      }
      out
    }
  }

  private def specBook(id: Int, dim: Int, lav: Int,
                       signedVals: Boolean): SpecBook = {
    val radix = if (signedVals) 2 * lav + 1 else lav + 1
    val n = math.pow(radix, dim).toInt
    // frequency model: small magnitudes vastly more common; the
    // escape magnitude (cb 11's lav) no rarer than its neighbors so
    // escape-heavy engine streams stay compact
    val freq = Array.tabulate(n) { idx0 =>
      var idx = idx0
      var w = 1.0
      var i = 0
      while (i < dim) {
        val d = idx % radix
        val mag = if (signedVals) math.abs(d - lav) else d
        w /= (mag + 1.3) * (mag + 1.3)
        idx /= radix
        i += 1
      }
      w
    }
    val (hlen, hcod) = Bitstream.canonicalCode(freq)
    SpecBook(id, dim, lav, signedVals, hlen, hcod)
  }

  /** Spectral codebooks 1-11 with the spec's exact domain shape:
    * (dim, lav, signed) = 1/2: (4,1,T), 3/4: (4,2,F), 5/6: (2,4,T),
    * 7/8: (2,7,F), 9/10: (2,12,F), 11: (2,16,F) + escape at 16.
    */
  lazy val SpecBooks: Map[Int, SpecBook] = Map(
    1 -> specBook(1, 4, 1, signedVals = true),
    2 -> specBook(2, 4, 1, signedVals = true),
    3 -> specBook(3, 4, 2, signedVals = false),
    4 -> specBook(4, 4, 2, signedVals = false),
    5 -> specBook(5, 2, 4, signedVals = true),
    6 -> specBook(6, 2, 4, signedVals = true),
    7 -> specBook(7, 2, 7, signedVals = false),
    8 -> specBook(8, 2, 7, signedVals = false),
    9 -> specBook(9, 2, 12, signedVals = false),
    10 -> specBook(10, 2, 12, signedVals = false),
    11 -> specBook(11, 2, 16, signedVals = false))

  val EscapeBook = 11
  val EscapeMag = 16

  /** Scalefactor codebook: dpcm alphabet −60..+60 (121 symbols,
    * index = dpcm + 60), engine-local canonical codes from a
    * |dpcm|-decay model (dpcm 0 — flat scalefactors — shortest).
    */
  lazy val SfBook: (Array[Int], Array[Long]) = {
    val freq = Array.tabulate(121) { i =>
      val d = math.abs(i - 60)
      1.0 / ((d + 1.2) * (d + 1.2))
    }
    Bitstream.canonicalCode(freq)
  }

  // -------------------------------------------------- Huffman decode
  /** Decode tries per book; building them is the collision check
    * [[validate]] forces.
    */
  lazy val SpecTries: Map[Int, Bitstream.Trie] =
    SpecBooks.map { case (id, b) => id -> new Bitstream.Trie(b.hlen, b.hcod) }
  lazy val SfTrie: Bitstream.Trie = new Bitstream.Trie(SfBook._1, SfBook._2)

  // ----------------------------------------------------------- windows
  /** Kaiser-Bessel-derived window (spec formula): w[n] =
    * sqrt(Σ_{0..n} v / Σ_{0..N/2} v) over the Kaiser kernel with the
    * spec's α (4.0 long, 6.0 short); right half mirrored. Satisfies
    * the Princen-Bradley condition by construction.
    */
  private def kbdWindow(n: Int): Array[Double] = {
    val alpha = if (n >= 2048) 4.0 else 6.0
    val half = n / 2
    val kernel = Array.tabulate(half + 1) { k =>
      val t = 2.0 * k / half - 1.0
      Mdct.besselI0(math.Pi * alpha * math.sqrt(math.max(0.0, 1.0 - t * t)))
    }
    val cum = kernel.scanLeft(0.0)(_ + _).drop(1)
    val total = cum(half)
    val w = new Array[Double](n)
    var i = 0
    while (i < half) {
      w(i) = math.sqrt(cum(i) / total)
      w(n - 1 - i) = w(i)
      i += 1
    }
    w
  }

  private def sineWindow(n: Int): Array[Double] =
    Array.tabulate(n)(i => math.sin(math.Pi / n * (i + 0.5)))

  private val winCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  /** Full symmetric window of size `n`: shape 0 = sine, 1 = KBD. */
  def window(shape: Int, n: Int): Array[Double] =
    winCache.computeIfAbsent((shape, n),
      _ => if (shape == 1) kbdWindow(n) else sineWindow(n))

  // --------------------------------------------------------- validator
  /** Machine validation (mirrors Mp3Tables.validate): every codebook
    * is a COMPLETE prefix code — Kraft sum exactly 1, no collisions
    * (trie construction already rejects collisions).
    */
  def validate(): Unit = {
    def check(name: String, hlen: Array[Int]): Unit = {
      val kraft = hlen.filter(_ > 0).map(l => BigDecimal(1) / BigDecimal(2).pow(l)).sum
      require(kraft == BigDecimal(1), s"$name: Kraft sum $kraft != 1")
    }
    SpecBooks.foreach { case (id, b) => check(s"spec cb $id", b.hlen) }
    check("scalefactor", SfBook._1)
    SpecTries; SfTrie // force trie construction (collision check)
    require(SwbLong.sliding(2).forall { case Array(a, b) => a < b },
      "long swb offsets must be strictly increasing")
    require(SwbShort.sliding(2).forall { case Array(a, b) => a < b },
      "short swb offsets must be strictly increasing")
  }
}
