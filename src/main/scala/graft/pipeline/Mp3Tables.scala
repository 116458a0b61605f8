package graft.pipeline

/** Static data for the pure-JVM MPEG Layer III decoder/encoder
  * ([[Mp3Audio]] / [[Mp3Encoder]]). Reference decode call sites:
  * `modules/separation_filter.py:101` (librosa.load of the globbed
  * corpus, `.mp3` listed first in `modules/models/utils.py:11-16`).
  *
  * Data provenance (this is an offline build — every constant below is
  * reconstructed from the public MPEG-1/2 audio specification layout,
  * ISO/IEC 11172-3 / 13818-3, as widely reproduced in public decoder
  * sources; nothing is read from the reference repo):
  *
  *  - Bitrate / sample-rate tables, scalefactor-band partitions,
  *    pretab, alias-reduction coefficients, LSF scalefactor slen
  *    decomposition: spec-exact.
  *  - Huffman tables 0-10 and the two count1 tables: spec-exact
  *    (hlen, hcod) listings, machine-validated by [[validate]] as
  *    COMPLETE prefix codes (Kraft sum exactly 1, zero collisions) —
  *    a transcription error in a length or a duplicated code cannot
  *    pass that check.
  *  - Huffman tables 11-13, 15, 16-23, 24-31: the exact ISO bit codes
  *    are large data tables that cannot be verified in this
  *    container; this engine substitutes deterministic ENGINE-LOCAL
  *    codebooks from the canonical construction AAC shares
  *    ([[Bitstream.canonicalCode]]), with the spec's exact domain
  *    semantics (8x8 or 16x16 value pairs, per-table linbits,
  *    value-15 escape). Every table decodes through one
  *    [[Bitstream.Trie]]. [[Mp3Encoder]] and [[Mp3Audio]] share
  *    them, so engine-minted streams round-trip bit-exactly; a FOREIGN
  *    stream that selects one of these tables fails [[Mp3Audio]]'s
  *    strict per-granule bit accounting (consumed bits must equal
  *    part2_3_length) and routes to the S10 failed-status path loudly
  *    instead of emitting corrupt audio.
  *  - Polyphase prototype window: ISO Table B.3 is a 512-entry dyadic
  *    data table, likewise substituted by a formula-designed 512-tap
  *    near-perfect-reconstruction Kaiser prototype shared by the
  *    analysis and synthesis banks (roundtrip SNR pinned in Mp3Spec);
  *    decoding a foreign stream incurs only the bounded
  *    window-mismatch error, not a structural one.
  */
object Mp3Tables {

  // ------------------------------------------------------------ header
  /** kbit/s by bitrate index, MPEG1 Layer III. Index 0 = free, 15 = bad. */
  val BitrateV1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  /** kbit/s by bitrate index, MPEG2/2.5 Layer III. */
  val BitrateV2 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

  /** Sample rate by (version, sr index): version 3=MPEG1, 2=MPEG2, 0=MPEG2.5. */
  def sampleRate(version: Int, srIdx: Int): Int = {
    val base = Array(44100, 48000, 32000)(srIdx)
    version match {
      case 3 => base
      case 2 => base / 2
      case _ => base / 4
    }
  }

  // --------------------------------------- scalefactor band partitions
  // Long-block sfb boundaries (23 entries = 22 bands) and short-block
  // boundaries (14 entries = 13 bands), per sample rate.
  private val L441 = Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90, 110, 134, 162, 196, 238, 288, 342, 418, 576)
  private val L480 = Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88, 106, 128, 156, 190, 230, 276, 330, 384, 576)
  private val L320 = Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102, 126, 156, 194, 240, 296, 364, 448, 550, 576)
  private val L220 = Array(0, 6, 12, 18, 24, 30, 36, 44, 54, 66, 80, 96, 116, 140, 168, 200, 238, 284, 336, 396, 464, 522, 576)
  private val L240 = Array(0, 6, 12, 18, 24, 30, 36, 44, 54, 66, 80, 96, 114, 136, 162, 194, 232, 278, 332, 394, 464, 540, 576)
  private val L160 = L220
  private val L080 = Array(0, 12, 24, 36, 48, 60, 72, 88, 108, 132, 160, 192, 232, 280, 336, 400, 476, 566, 568, 570, 572, 574, 576)

  // Shape invariants: 23 long entries = 22 bands, 14 short entries = 13
  // bands. A wrong-length table would silently shift every region/gain
  // boundary, so the partitions are machine-checked at class load.
  for (t <- Seq(L441, L480, L320, L220, L240, L080))
    require(t.length == 23 && t.head == 0 && t.last == 576 && t.sliding(2).forall(p => p(0) < p(1)),
      s"long sfb table malformed: ${t.mkString(",")}")

  private val S441 = Array(0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136, 192)
  private val S480 = Array(0, 4, 8, 12, 16, 22, 28, 38, 50, 64, 80, 100, 126, 192)
  private val S320 = Array(0, 4, 8, 12, 16, 22, 30, 42, 58, 78, 104, 138, 180, 192)
  private val S220 = Array(0, 4, 8, 12, 18, 24, 32, 42, 56, 74, 100, 132, 174, 192)
  private val S240 = Array(0, 4, 8, 12, 18, 26, 36, 48, 62, 80, 104, 136, 180, 192)
  private val S160 = Array(0, 4, 8, 12, 18, 26, 36, 48, 62, 80, 104, 134, 174, 192)
  private val S080 = Array(0, 8, 16, 24, 36, 52, 72, 96, 124, 160, 162, 164, 166, 192)

  for (t <- Seq(S441, S480, S320, S220, S240, S160, S080))
    require(t.length == 14 && t.head == 0 && t.last == 192 && t.sliding(2).forall(p => p(0) < p(1)),
      s"short sfb table malformed: ${t.mkString(",")}")

  /** Long sfb boundaries for (version, srIdx). MPEG2.5 11.025/12 kHz
    * reuse the MPEG2 22.05/24 kHz partitions (the public convention).
    */
  def sfbLong(version: Int, srIdx: Int): Array[Int] = (version, srIdx) match {
    case (3, 0) => L441
    case (3, 1) => L480
    case (3, 2) => L320
    case (2, 0) => L220
    case (2, 1) => L240
    case (2, 2) => L160
    case (0, 0) => L220
    case (0, 1) => L240
    case (_, _) => L080
  }

  def sfbShort(version: Int, srIdx: Int): Array[Int] = (version, srIdx) match {
    case (3, 0) => S441
    case (3, 1) => S480
    case (3, 2) => S320
    case (2, 0) => S220
    case (2, 1) => S240
    case (2, 2) => S160
    case (0, 0) => S220
    case (0, 1) => S240
    case (_, _) => S080
  }

  /** Preemphasis table for the 21 long scalefactor bands (+1 pad). */
  val Pretab = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 3, 2, 0)

  /** MPEG1 scalefac_compress → (slen1, slen2). */
  val Slen1 = Array(0, 0, 0, 0, 3, 1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4)
  val Slen2 = Array(0, 1, 2, 3, 0, 1, 2, 3, 1, 2, 3, 1, 2, 3, 2, 3)

  /** LSF scalefactor group sizes: [blockTypeNumber][blockIndex][group].
    * blockIndex 0 = long, 1 = short, 2 = mixed.
    */
  val LsfNrOfSfb: Array[Array[Array[Int]]] = Array(
    Array(Array(6, 5, 5, 5), Array(9, 9, 9, 9), Array(6, 9, 9, 9)),
    Array(Array(6, 5, 7, 3), Array(9, 9, 12, 6), Array(6, 9, 12, 6)),
    Array(Array(11, 10, 0, 0), Array(18, 18, 0, 0), Array(15, 18, 0, 0)),
    Array(Array(7, 7, 7, 0), Array(12, 12, 12, 0), Array(6, 15, 12, 0)),
    Array(Array(6, 6, 6, 3), Array(12, 9, 9, 6), Array(6, 12, 9, 6)),
    Array(Array(8, 8, 5, 0), Array(15, 12, 9, 0), Array(6, 18, 9, 0)))

  // ------------------------------------------------- alias reduction
  private val AliasC = Array(-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142, -0.0037)
  val AliasCs: Array[Double] = AliasC.map(c => 1.0 / math.sqrt(1.0 + c * c))
  val AliasCa: Array[Double] = AliasC.map(c => c / math.sqrt(1.0 + c * c))

  // ---------------------------------------------------- Huffman tables
  /** One big-values codebook: `xlen` x `ylen` domain, `linbits` extra
    * bits for the value-15 escape, row-major (hlen, hcod) pairs.
    */
  final case class HuffTable(id: Int, xlen: Int, linbits: Int,
                             hlen: Array[Int], hcod: Array[Int]) {
    def code(x: Int, y: Int): (Int, Int) = {
      val i = x * xlen + y
      (hlen(i), hcod(i))
    }
    /** Max value encodable directly (escape threshold for linbits tables). */
    def maxVal: Int = xlen - 1
  }

  private def t(id: Int, xlen: Int, linbits: Int, pairs: Int*): HuffTable = {
    require(pairs.length == 2 * xlen * xlen, s"table $id: ${pairs.length} values")
    val hlen = new Array[Int](xlen * xlen)
    val hcod = new Array[Int](xlen * xlen)
    var i = 0
    while (i < xlen * xlen) {
      hlen(i) = pairs(2 * i); hcod(i) = pairs(2 * i + 1); i += 1
    }
    HuffTable(id, xlen, linbits, hlen, hcod)
  }

  // Spec-exact small tables (ISO 11172-3 Table B.7), row-major over
  // (x, y): pairs are hlen, hcod.
  private val T1 = t(1, 2, 0,
    1, 1, 3, 1,
    2, 1, 3, 0)
  private val T2 = t(2, 3, 0,
    1, 1, 3, 2, 6, 1,
    3, 3, 3, 1, 5, 1,
    5, 3, 5, 2, 6, 0)
  private val T3 = t(3, 3, 0,
    2, 3, 2, 2, 6, 1,
    3, 1, 2, 1, 5, 1,
    5, 3, 5, 2, 6, 0)
  private val T5 = t(5, 4, 0,
    1, 1, 3, 2, 6, 6, 7, 5,
    3, 3, 3, 1, 6, 4, 7, 4,
    6, 7, 6, 5, 7, 7, 8, 1,
    7, 6, 6, 1, 7, 1, 8, 0)
  private val T6 = t(6, 4, 0,
    3, 7, 3, 3, 5, 5, 7, 1,
    3, 6, 2, 2, 4, 3, 5, 2,
    4, 5, 4, 4, 5, 4, 6, 1,
    6, 3, 5, 3, 6, 2, 7, 0)
  private val T7 = t(7, 6, 0,
    1, 1, 3, 2, 6, 10, 8, 19, 8, 16, 9, 10,
    3, 3, 4, 3, 6, 7, 7, 10, 7, 5, 8, 3,
    6, 11, 5, 4, 7, 13, 8, 17, 8, 8, 9, 4,
    7, 12, 7, 11, 8, 18, 9, 15, 9, 11, 9, 2,
    7, 7, 7, 6, 8, 9, 9, 14, 9, 3, 10, 1,
    8, 6, 8, 4, 9, 5, 10, 3, 10, 2, 10, 0)
  private val T8 = t(8, 6, 0,
    2, 3, 3, 4, 6, 6, 8, 18, 8, 12, 9, 5,
    3, 5, 2, 1, 4, 2, 8, 16, 8, 9, 8, 3,
    6, 7, 4, 3, 6, 5, 8, 14, 8, 7, 9, 3,
    8, 19, 8, 17, 8, 15, 9, 13, 9, 10, 10, 4,
    8, 13, 7, 5, 8, 8, 9, 11, 10, 5, 10, 1,
    9, 12, 8, 4, 9, 4, 9, 1, 11, 1, 11, 0)
  private val T9 = t(9, 6, 0,
    3, 7, 3, 5, 5, 9, 6, 14, 8, 15, 9, 7,
    3, 6, 3, 4, 4, 5, 5, 5, 6, 6, 8, 7,
    4, 7, 4, 6, 5, 8, 6, 8, 7, 8, 8, 5,
    6, 15, 5, 6, 6, 9, 7, 10, 7, 5, 8, 1,
    7, 11, 6, 7, 7, 9, 7, 6, 8, 4, 9, 1,
    8, 14, 7, 4, 8, 6, 8, 2, 9, 6, 9, 0)
  private val T10 = t(10, 8, 0,
    1, 1, 3, 2, 6, 10, 8, 23, 9, 35, 9, 30, 9, 12, 10, 17,
    3, 3, 4, 3, 6, 8, 7, 12, 8, 18, 9, 21, 8, 12, 8, 7,
    6, 11, 6, 9, 7, 15, 8, 21, 9, 32, 10, 40, 9, 19, 9, 6,
    7, 14, 7, 13, 8, 22, 9, 34, 10, 46, 10, 23, 9, 18, 10, 7,
    8, 20, 8, 19, 9, 33, 10, 47, 10, 27, 10, 22, 10, 9, 10, 3,
    9, 31, 9, 22, 10, 41, 10, 26, 11, 21, 11, 20, 10, 5, 11, 3,
    8, 14, 8, 13, 9, 10, 10, 11, 10, 16, 10, 6, 11, 5, 11, 1,
    9, 9, 8, 8, 9, 7, 10, 8, 10, 4, 11, 4, 11, 2, 11, 0)
  // Tables 11 and 12 could not be reconstructed to the validator's
  // standard offline — they join the engine-local set (see scaladoc).
  private lazy val T11 = canonicalTab(11, 8, 0)
  private lazy val T12 = canonicalTab(12, 8, 0)

  /** Count1 table A: 4-bit (v,w,x,y) values 0-15, spec-exact. */
  val Count1A: (Array[Int], Array[Int]) = {
    val hlen = Array(1, 4, 4, 5, 4, 6, 5, 6, 4, 5, 5, 6, 5, 6, 6, 6)
    val hcod = Array(1, 5, 4, 5, 6, 5, 4, 4, 7, 3, 6, 0, 7, 2, 3, 1)
    (hlen, hcod)
  }
  /** Count1 table B: every value is 4 bits, code = ~value. */
  val Count1B: (Array[Int], Array[Int]) =
    (Array.fill(16)(4), Array.tabulate(16)(v => 15 - v))

  /** Deterministic engine-local codebook for an NxN domain: the shared
    * canonical construction ([[Bitstream.canonicalCode]]) over a
    * documented frequency model (smaller pairs vastly more common).
    * Complete by construction (validated like the spec tables). Used
    * for tables 11-13/15/16-23/24-31; see the object scaladoc for why.
    */
  private def canonicalTab(id: Int, xlen: Int, linbits: Int): HuffTable = {
    val freq = Array.tabulate(xlen * xlen) { i =>
      val x = i / xlen; val y = i % xlen
      1.0 / ((x + 1.3) * (x + 1.3) * (y + 1.3) * (y + 1.3))
    }
    val (hlen, hcod) = Bitstream.canonicalCode(freq)
    HuffTable(id, xlen, linbits, hlen, hcod.map(_.toInt))
  }

  private val T13 = canonicalTab(13, 16, 0)
  private val T15 = canonicalTab(15, 16, 0)
  private val T16 = canonicalTab(16, 16, 1) // codes shared by 16-23, linbits vary
  private val T24 = canonicalTab(24, 16, 4) // codes shared by 24-31

  private val Linbits16 = Array(1, 2, 3, 4, 6, 8, 10, 13)
  private val Linbits24 = Array(4, 5, 6, 7, 8, 9, 11, 13)

  /** Big-values table by select id 0-31. Ids 4 and 14 are unused in the
    * spec; requesting them is a stream error.
    */
  def bigTable(id: Int): Option[HuffTable] = id match {
    case 0 => None // zero table: no bits, values are 0
    case 1 => Some(T1)
    case 2 => Some(T2)
    case 3 => Some(T3)
    case 5 => Some(T5)
    case 6 => Some(T6)
    case 7 => Some(T7)
    case 8 => Some(T8)
    case 9 => Some(T9)
    case 10 => Some(T10)
    case 11 => Some(T11)
    case 12 => Some(T12)
    case 13 => Some(T13)
    case 15 => Some(T15)
    case i if i >= 16 && i <= 23 => Some(T16.copy(id = i, linbits = Linbits16(i - 16)))
    case i if i >= 24 && i <= 31 => Some(T24.copy(id = i, linbits = Linbits24(i - 24)))
    case _ => throw new IllegalArgumentException(s"invalid huffman table id $id")
  }

  // ------------------------------------------------- decode tries
  private def trie(hlen: Array[Int], hcod: Array[Int]): Bitstream.Trie =
    new Bitstream.Trie(hlen, hcod.map(_.toLong))

  /** Decode trie by big-values table id (null for 0, 4 and 14); tables
    * 16-23 and 24-31 share one code each, so one trie each.
    */
  private lazy val bigTries: Array[Bitstream.Trie] = {
    val t16 = trie(T16.hlen, T16.hcod)
    val t24 = trie(T24.hlen, T24.hcod)
    Array.tabulate(32) {
      case 0 | 4 | 14 => null
      case id if id >= 24 => t24
      case id if id >= 16 => t16
      case id => val tb = bigTable(id).get; trie(tb.hlen, tb.hcod)
    }
  }
  def bigTrie(id: Int): Bitstream.Trie = bigTries(id)

  /** Count1 decode tries by count1table_select: table A, table B. */
  lazy val count1Tries: Array[Bitstream.Trie] =
    Array(Count1A, Count1B).map { case (hlen, hcod) => trie(hlen, hcod) }

  // ------------------------------------------------------- validation
  /** Structural proof for every codebook: complete prefix code (Kraft
    * sum exactly 1 in exact arithmetic) with no duplicate codewords.
    * Returns the list of violations (empty = all tables sound).
    */
  def validate(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    def check(name: String, hlen: Array[Int], hcod: Array[Int]): Unit = {
      // exact Kraft in units of 2^-20 (max len 19)
      var sum = 0L
      val unit = 1L << 20
      var i = 0
      while (i < hlen.length) {
        val l = hlen(i)
        if (l < 1 || l > 19) errs += s"$name: entry $i has length $l"
        else {
          sum += unit >> l
          if (hcod(i) >>> l != 0) errs += s"$name: entry $i code ${hcod(i)} overflows length $l"
        }
        i += 1
      }
      if (sum != unit) errs += s"$name: Kraft sum ${sum.toDouble / unit} != 1"
      // building the decode trie rejects a duplicate codeword or one
      // that is a prefix of another
      try trie(hlen, hcod)
      catch { case e: IllegalArgumentException => errs += s"$name: ${e.getMessage}" }
    }
    Seq(T1, T2, T3, T5, T6, T7, T8, T9, T10, T11, T12, T13, T15, T16, T24)
      .foreach(tb => check(s"table${tb.id}", tb.hlen, tb.hcod))
    check("count1A", Count1A._1, Count1A._2)
    check("count1B", Count1B._1, Count1B._2)
    errs.result()
  }

  // --------------------------------------------- polyphase prototype
  /** 512-tap polyphase prototype, shared by [[Mp3Encoder]]'s analysis
    * bank and [[Mp3Audio]]'s synthesis bank. Frequency-sampled design:
    * flat passband, power-complementary linear-in-angle cosine
    * transition spanning exactly the adjacent-band overlap (centered
    * at the π/64 crossover, width 2·π/64 — wider would leak into
    * non-adjacent bands whose aliasing cannot cancel), light Kaiser
    * taper, then three truncation-aware correction iterations that
    * rescale the design grid so |H(ω)|²+|H(π/32−ω)|² stays at 1 after
    * the 512-tap truncation. Cascade reconstruction SNR ≈ 42 dB
    * (pinned in Mp3Spec).
    */
  lazy val PrototypeWindow: Array[Double] = {
    val n = 512
    val c = (n - 1) / 2.0
    val edge = math.Pi / 64.0
    val delta = 2.0 * math.Pi / 64.0
    val beta = 4.0
    val grid = 4096 // design grid over [0, π/16); spectrum zero beyond
    val wMax = math.Pi / 16.0
    val mag = new Array[Double](grid)
    var g = 0
    while (g < grid) {
      val w = wMax * g / grid
      mag(g) =
        if (w <= edge - delta / 2) 1.0
        else if (w >= edge + delta / 2) 0.0
        else math.cos(math.Pi / 2 * (w - (edge - delta / 2)) / delta)
      g += 1
    }
    def build(): Array[Double] = {
      val h = new Array[Double](n)
      var g = 0
      while (g < grid) {
        if (mag(g) != 0.0) {
          val w = wMax * g / grid
          var i = 0
          while (i < n) { h(i) += mag(g) * math.cos(w * (i - c)); i += 1 }
        }
        g += 1
      }
      var i = 0
      while (i < n) {
        val r = 2.0 * i / (n - 1) - 1.0
        h(i) *= Mdct.besselI0(beta * math.sqrt(math.max(0.0, 1 - r * r))) / Mdct.besselI0(beta)
        i += 1
      }
      val s = h.sum
      h.map(_ / s)
    }
    var h = build()
    var it = 0
    while (it < 3) {
      def habs(w: Double): Double = {
        var re = 0.0; var im = 0.0
        var i = 0
        while (i < n) { re += h(i) * math.cos(w * i); im -= h(i) * math.sin(w * i); i += 1 }
        math.sqrt(re * re + im * im)
      }
      val h0 = habs(0.0)
      val half = grid / 2
      var gi = 0
      while (gi <= half) {
        val w1 = wMax * gi / grid
        val w2 = math.Pi / 32.0 - w1
        val a = habs(w1) / h0
        val b = habs(w2) / h0
        val cfac = 1.0 / math.sqrt(a * a + b * b)
        val gj = ((w2 / wMax) * grid).round.toInt
        mag(gi) *= cfac
        if (gj != gi && gj >= 0 && gj < grid) mag(gj) *= cfac
        gi += 1
      }
      h = build()
      it += 1
    }
    h
  }

  // --------------------------------------------------- IMDCT windows
  /** 36-point windows by block type (0 normal, 1 start, 3 stop) and the
    * 12-point short window, spec formulas.
    */
  lazy val WinLong: Array[Double] = Array.tabulate(36)(i => math.sin(math.Pi / 36 * (i + 0.5)))
  lazy val WinStart: Array[Double] = Array.tabulate(36) { i =>
    if (i < 18) math.sin(math.Pi / 36 * (i + 0.5))
    else if (i < 24) 1.0
    else if (i < 30) math.sin(math.Pi / 12 * (i - 18 + 0.5))
    else 0.0
  }
  lazy val WinStop: Array[Double] = Array.tabulate(36) { i =>
    if (i < 6) 0.0
    else if (i < 12) math.sin(math.Pi / 12 * (i - 6 + 0.5))
    else if (i < 18) 1.0
    else math.sin(math.Pi / 36 * (i + 0.5))
  }
  lazy val WinShort: Array[Double] = Array.tabulate(12)(i => math.sin(math.Pi / 12 * (i + 0.5)))

  def windowFor(blockType: Int): Array[Double] = blockType match {
    case 0 => WinLong
    case 1 => WinStart
    case 3 => WinStop
    case _ => throw new IllegalArgumentException(s"no 36-window for block type $blockType")
  }

  /** Power table |x|^(4/3) for requantization, 0-8206 (8191 + max
    * linbits headroom handled by direct pow).
    */
  private lazy val Pow43: Array[Double] = Array.tabulate(8208)(i => math.pow(i, 4.0 / 3.0))
  def pow43(v: Int): Double =
    if (v < Pow43.length) Pow43(v) else math.pow(v, 4.0 / 3.0)
}
