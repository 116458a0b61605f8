package graft.pipeline

import AacTables._

/** S2 — pure-JVM AAC-LC waveform decode, the last reference input
  * format without decode (reference: librosa/pydub load of the globbed
  * corpus, `modules/separation_filter.py:101`; `.aac`/`.m4a` in the
  * glob list `modules/models/utils.py:11-16`). Two container fronts
  * share one raw_data_block core:
  *
  *  - [[decodeAdts]]: ADTS frame walk (the same header grammar
  *    [[AudioProbe]] probes) → per-frame payload decode;
  *  - [[decodeM4a]]: ISO-BMFF demux (stsd/mp4a/esds →
  *    AudioSpecificConfig, stsz/stco sample table) → per-sample decode.
  *
  * The core implements the AAC-LC syntactic grammar per the public
  * ISO/IEC 13818-7 / 14496-3 descriptions: SCE/CPE/END elements,
  * ics_info with all four window sequences and both window shapes
  * (sine/KBD), section + scalefactor + spectral data, the x^(4/3)
  * dequantizer, M/S matrixing, TNS all-pole synthesis, and the
  * 2048/256 window-switching IMDCT filterbank (the IMDCT phase is the
  * same n0 = N/4 + 1/2 convention as Vorbis, so both codecs share the
  * [[Mdct]] kernel — its TDAC property is already pinned).
  *
  * Entropy codebooks and band partitions are ENGINE-LOCAL (see
  * [[AacTables]]): engine-minted streams ([[AacEncoder]]) round-trip;
  * a foreign stream desynchronizes against them and fails the strict
  * per-frame bit accounting below (decoded bits must land inside the
  * frame, every grammar bound checked) — routing to the S10
  * failed-status path loudly, never emitting corrupt audio. PNS,
  * intensity stereo, pulse data, gain control, LTP, and CCE/LFE/DSE/
  * PCE/FIL elements are rejected with typed errors (the encoder never
  * mints them).
  *
  * First-frame priming: the encoder's MDCT look-back makes frame 0
  * reconstruct the pre-roll [−1024, 0); the decoder drops those 1024
  * samples (the same encoder-delay drop real AAC toolchains apply via
  * edit lists), so output length = (frames − 1) · 1024 exactly.
  */
object AacAudio {

  import Bitstream.BitReader // MSB-first, bounds-checked
  import Bytes.{be32, isCode}

  private val SeqOnlyLong = 0
  private val SeqLongStart = 1
  private val SeqEightShort = 2
  private val SeqLongStop = 3

  // ------------------------------------------------------ ics decode
  private final case class IcsInfo(windowSequence: Int, windowShape: Int,
      maxSfb: Int, groups: Array[Int]) {
    def short: Boolean = windowSequence == SeqEightShort
    def nWindows: Int = if (short) 8 else 1
  }

  private def readIcsInfo(br: BitReader): IcsInfo = {
    require(br.bit() == 0, "aac: ics_reserved_bit set")
    val seq = br.bits(2)
    val shape = br.bit()
    if (seq == SeqEightShort) {
      val maxSfb = br.bits(4)
      require(maxSfb <= numSwb(short = true),
        s"aac: short max_sfb $maxSfb > ${numSwb(short = true)}")
      val grouping = br.bits(7)
      // bit i set (MSB first) = window i+1 grouped with window i
      val groups = scala.collection.mutable.ArrayBuffer(1)
      var i = 0
      while (i < 7) {
        if (((grouping >> (6 - i)) & 1) == 1) groups(groups.length - 1) += 1
        else groups += 1
        i += 1
      }
      IcsInfo(seq, shape, maxSfb, groups.toArray)
    } else {
      val maxSfb = br.bits(6)
      require(maxSfb <= numSwb(short = false),
        s"aac: long max_sfb $maxSfb > ${numSwb(short = false)}")
      require(br.bit() == 0, "aac: predictor_data_present unsupported")
      IcsInfo(seq, shape, maxSfb, Array(1))
    }
  }

  /** Per-group section list: (startSfb, endSfb, codebook). */
  private def readSections(br: BitReader, info: IcsInfo)
      : Array[Array[(Int, Int, Int)]] = {
    val lenBits = if (info.short) 3 else 5
    val esc = (1 << lenBits) - 1
    info.groups.map { _ =>
      val secs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      var k = 0
      while (k < info.maxSfb) {
        val cb = br.bits(4)
        require(cb == 0 || SpecBooks.contains(cb),
          s"aac: codebook $cb unsupported (intensity/PNS rejected)")
        var len = 0
        var l = br.bits(lenBits)
        while (l == esc) { len += esc; l = br.bits(lenBits) }
        len += l
        require(len >= 1 && k + len <= info.maxSfb,
          s"aac: section [$k, ${k + len}) outside max_sfb ${info.maxSfb}")
        secs += ((k, k + len, cb))
        k += len
      }
      secs.toArray
    }
  }

  /** Per-group per-sfb scalefactors (dpcm from global_gain). */
  private def readScaleFactors(br: BitReader, info: IcsInfo,
      sections: Array[Array[(Int, Int, Int)]], globalGain: Int)
      : Array[Array[Int]] = {
    var sf = globalGain
    info.groups.indices.map { g =>
      val out = new Array[Int](info.maxSfb)
      sections(g).foreach { case (s0, s1, cb) =>
        var sfb = s0
        while (sfb < s1) {
          if (cb != 0) {
            sf += SfTrie.decode(() => br.bit()) - 60
            require(sf >= 0 && sf <= 255, s"aac: scalefactor $sf out of range")
            out(sfb) = sf
          }
          sfb += 1
        }
      }
      out
    }.toArray
  }

  private final case class TnsFilter(window: Int, startBand: Int,
      endBand: Int, direction: Int, lpc: Array[Double])

  /** TNS parse + quantized-coef → LPC conversion (spec recursion on
    * the inverse-sin mapped coefficients). Self-inverse with
    * [[AacEncoder]]'s forward FIR — pinned in AacSpec.
    */
  private def readTns(br: BitReader, info: IcsInfo): Array[TnsFilter] = {
    val filters = scala.collection.mutable.ArrayBuffer.empty[TnsFilter]
    var w = 0
    while (w < info.nWindows) {
      val nFilt = br.bits(if (info.short) 1 else 2)
      if (nFilt > 0) {
        val coefRes = br.bit()
        var topBand = info.maxSfb
        var f = 0
        while (f < nFilt) {
          val length = br.bits(if (info.short) 4 else 6)
          val order = br.bits(if (info.short) 3 else 5)
          val start = math.max(0, topBand - length)
          if (order > 0) {
            val direction = br.bit()
            val compress = br.bit()
            val coefBits = coefRes + 3 - compress
            val coefs = Array.fill(order) {
              val raw = br.bits(coefBits)
              // sign-extend from coefBits
              if ((raw & (1 << (coefBits - 1))) != 0) raw - (1 << coefBits)
              else raw
            }
            filters += TnsFilter(w, start, topBand, direction,
              tnsLpc(coefs, coefRes))
          }
          topBand = start
          f += 1
        }
      }
      w += 1
    }
    filters.toArray
  }

  /** Quantized TNS coefficients → direct-form LPC (a[1..order]). */
  def tnsLpc(coefs: Array[Int], coefRes: Int): Array[Double] = {
    val iqfac = ((1 << (coefRes + 2)) - 0.5) / (math.Pi / 2.0)
    val iqfacM = ((1 << (coefRes + 2)) + 0.5) / (math.Pi / 2.0)
    val refl = coefs.map(c => math.sin(c / (if (c >= 0) iqfac else iqfacM)))
    val order = refl.length
    val a = new Array[Double](order + 1)
    val b = new Array[Double](order + 1)
    a(0) = 1.0
    var m = 1
    while (m <= order) {
      var i = 1
      while (i < m) { b(i) = a(i) + refl(m - 1) * a(m - i); i += 1 }
      i = 1
      while (i < m) { a(i) = b(i); i += 1 }
      a(m) = refl(m - 1)
      m += 1
    }
    a.drop(1)
  }

  /** Decode one group-ordered spectral buffer; layout per group g:
    * for sfb, for window-in-group, the band's bins (transmission
    * order). Returns per-WINDOW deinterleaved spectra (1024 for long,
    * 8×128 for short).
    */
  private def readSpectral(br: BitReader, info: IcsInfo,
      sections: Array[Array[(Int, Int, Int)]]): Array[Array[Int]] = {
    val swb = swbOffset(info.short)
    val spec = Array.fill(info.nWindows)(
      new Array[Int](if (info.short) 128 else 1024))
    var winBase = 0
    info.groups.indices.foreach { g =>
      val nWin = info.groups(g)
      sections(g).foreach { case (s0, s1, cb) =>
        if (cb != 0) {
          val book = SpecBooks(cb)
          val trie = SpecTries(cb)
          var sfb = s0
          while (sfb < s1) {
            val lo = swb(sfb); val hi = swb(sfb + 1)
            var w = 0
            while (w < nWin) {
              var k = lo
              while (k < hi) {
                val idx = trie.decode(() => br.bit())
                val vals = book.tuple(idx)
                var d = 0
                while (d < book.dim) {
                  var v = vals(d)
                  if (!book.signedVals && v != 0) {
                    // magnitude-coded: escape first, then sign bit
                    if (cb == EscapeBook && v == EscapeMag) {
                      var n = 0
                      while (br.bit() == 1) n += 1
                      require(n <= 8, "aac: escape prefix too long")
                      v = (1 << (n + 4)) + br.bits(n + 4)
                    }
                    if (br.bit() == 1) v = -v
                  }
                  spec(winBase + w)(k) = v
                  k += 1
                  d += 1
                }
              }
              w += 1
            }
            sfb += 1
          }
        }
      }
      winBase += nWin
    }
    spec
  }

  /** One channel's parsed ICS, dequantized to per-window spectra. */
  private final case class ChannelSpec(info: IcsInfo,
      spec: Array[Array[Double]], sf: Array[Array[Int]])

  private def readIcs(br: BitReader, shared: Option[IcsInfo]): ChannelSpec = {
    val globalGain = br.bits(8)
    val info = shared.getOrElse(readIcsInfo(br))
    val sections = readSections(br, info)
    val sf = readScaleFactors(br, info, sections, globalGain)
    require(br.bit() == 0, "aac: pulse_data unsupported")
    val tns = if (br.bit() == 1) readTns(br, info) else Array.empty[TnsFilter]
    require(br.bit() == 0, "aac: gain_control_data unsupported")
    val q = readSpectral(br, info, sections)
    // dequantize: sign·|q|^(4/3)·2^(0.25·(sf−100)) per group/sfb
    val swb = swbOffset(info.short)
    val out = Array.fill(info.nWindows)(
      new Array[Double](if (info.short) 128 else 1024))
    var winBase = 0
    info.groups.indices.foreach { g =>
      var w = 0
      while (w < info.groups(g)) {
        var sfb = 0
        while (sfb < info.maxSfb) {
          val gain = math.pow(2.0, 0.25 * (sf(g)(sfb) - 100))
          var k = swb(sfb)
          while (k < swb(sfb + 1)) {
            val v = q(winBase + w)(k)
            out(winBase + w)(k) =
              math.signum(v.toDouble) * math.pow(math.abs(v), 4.0 / 3.0) * gain
            k += 1
          }
          sfb += 1
        }
        w += 1
      }
      winBase += info.groups(g)
    }
    // TNS synthesis (all-pole along the spectrum)
    tns.foreach { f =>
      val s = out(f.window)
      val lo = swb(f.startBand); val hi = swb(math.min(f.endBand, info.maxSfb))
      if (f.direction == 0) {
        var i = lo
        while (i < hi) {
          var j = 1
          while (j <= f.lpc.length && i - j >= lo) {
            s(i) -= f.lpc(j - 1) * s(i - j); j += 1
          }
          i += 1
        }
      } else {
        var i = hi - 1
        while (i >= lo) {
          var j = 1
          while (j <= f.lpc.length && i + j < hi) {
            s(i) -= f.lpc(j - 1) * s(i + j); j += 1
          }
          i -= 1
        }
      }
    }
    ChannelSpec(info, out, sf)
  }

  // ------------------------------------------------------- filterbank
  /** Per-channel synthesis state: 1024-sample overlap + the previous
    * frame's window shape (the left half of every window uses it), and
    * the IMDCTs and frame buffers it reuses for the whole stream.
    */
  final class ChannelState {
    val overlap = new Array[Double](1024)
    var prevShape = 0
    private[AacAudio] val imdctLong = new Mdct.Inverse(2048)
    private[AacAudio] val imdctShort = new Mdct.Inverse(256)
    private[AacAudio] val frame = new Array[Double](2048)
    private[AacAudio] val out = new Array[Double](1024)
  }

  /** Composite 2048-sample window for the long sequences; for
    * EIGHT_SHORT the 8 short blocks are windowed individually.
    */
  private[pipeline] def longWindowHalves(seq: Int, prevShape: Int, curShape: Int)
      : (Array[Double], Array[Double]) = {
    val left = new Array[Double](1024)
    val right = new Array[Double](1024)
    seq match {
      case SeqOnlyLong | SeqLongStart =>
        val wl = window(prevShape, 2048)
        var i = 0
        while (i < 1024) { left(i) = wl(i); i += 1 }
      case SeqLongStop =>
        val ws = window(prevShape, 256)
        var i = 0
        while (i < 1024) {
          left(i) =
            if (i < 448) 0.0
            else if (i < 576) ws(i - 448)
            else 1.0
          i += 1
        }
      case other => throw new IllegalArgumentException(
        s"aac: window sequence $other has no long composite")
    }
    seq match {
      case SeqOnlyLong | SeqLongStop =>
        val wr = window(curShape, 2048)
        var i = 0
        while (i < 1024) { right(i) = wr(1024 + i); i += 1 }
      case SeqLongStart =>
        val ws = window(curShape, 256)
        var i = 0
        while (i < 1024) {
          right(i) =
            if (i < 448) 1.0
            else if (i < 576) ws(128 + (i - 448))
            else 0.0
          i += 1
        }
      case _ => ()
    }
    (left, right)
  }

  /** Synthesize one frame (1024 output samples) from a channel's
    * dequantized spectra, updating `state`. The result is `state.out`,
    * which the channel's next frame overwrites.
    */
  def synthesize(ch: ChannelSpec, state: ChannelState): Array[Double] = {
    val frame = state.frame
    if (ch.info.short) {
      java.util.Arrays.fill(frame, 0.0)
      var w = 0
      while (w < 8) {
        val t = state.imdctShort(ch.spec(w))
        val wl = window(if (w == 0) state.prevShape else ch.info.windowShape, 256)
        val wr = window(ch.info.windowShape, 256)
        val base = 448 + 128 * w
        var j = 0
        while (j < 256) {
          frame(base + j) += t(j) * (if (j < 128) wl(j) else wr(j))
          j += 1
        }
        w += 1
      }
    } else {
      val t = state.imdctLong(ch.spec(0))
      val (wl, wr) = longWindowHalves(ch.info.windowSequence,
        state.prevShape, ch.info.windowShape)
      var i = 0
      while (i < 1024) {
        frame(i) = t(i) * wl(i)
        frame(1024 + i) = t(1024 + i) * wr(i)
        i += 1
      }
    }
    val out = state.out
    var i = 0
    while (i < 1024) {
      out(i) = state.overlap(i) + frame(i)
      state.overlap(i) = frame(1024 + i)
      i += 1
    }
    state.prevShape = ch.info.windowShape
    out
  }

  // -------------------------------------------------- raw data block
  /** Decode one raw_data_block; returns per-output-channel frame
    * samples. `states` sized to the channel count (1 or 2).
    */
  def decodeRawBlock(br: BitReader, states: Array[ChannelState])
      : Array[Array[Double]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var done = false
    while (!done) {
      br.bits(3) match {
        case 0 => // SCE
          br.bits(4) // element_instance_tag
          require(out.size < states.length, "aac: more channels than declared")
          out += synthesize(readIcs(br, None), states(out.size))
        case 1 => // CPE
          br.bits(4)
          require(out.size + 2 <= states.length,
            "aac: CPE exceeds declared channels")
          val commonWindow = br.bit() == 1
          if (commonWindow) {
            val info = readIcsInfo(br)
            val msMask = br.bits(2)
            require(msMask != 3, "aac: reserved ms_mask_present")
            val msUsed: Array[Array[Boolean]] =
              if (msMask == 1)
                info.groups.map(_ => Array.fill(info.maxSfb)(br.bit() == 1))
              else
                info.groups.map(_ => Array.fill(info.maxSfb)(msMask == 2))
            val l = readIcs(br, Some(info))
            val r = readIcs(br, Some(info))
            // M/S: mid/side → left/right on the dequantized spectra
            val swb = swbOffset(info.short)
            var winBase = 0
            info.groups.indices.foreach { g =>
              var w = 0
              while (w < info.groups(g)) {
                var sfb = 0
                while (sfb < info.maxSfb) {
                  if (msUsed(g)(sfb)) {
                    var k = swb(sfb)
                    while (k < swb(sfb + 1)) {
                      val m = l.spec(winBase + w)(k)
                      val s = r.spec(winBase + w)(k)
                      l.spec(winBase + w)(k) = m + s
                      r.spec(winBase + w)(k) = m - s
                      k += 1
                    }
                  }
                  sfb += 1
                }
                w += 1
              }
              winBase += info.groups(g)
            }
            out += synthesize(l, states(out.size))
            out += synthesize(r, states(out.size))
          } else {
            out += synthesize(readIcs(br, None), states(out.size))
            out += synthesize(readIcs(br, None), states(out.size))
          }
        case 7 => done = true // END
        case other => throw new IllegalArgumentException(
          s"aac: syntactic element $other unsupported")
      }
    }
    out.toArray
  }

  // -------------------------------------------------------- ADTS front
  final case class AdtsHeader(srIdx: Int, sampleRate: Int, channels: Int,
      frameLen: Int, headerLen: Int)

  /** ADTS sync at `off` with the 7 header bytes present: 0xFFF, then
    * layer bits 00 (Layer III streams carry 01 there, so the two never
    * collide).
    */
  private[graft] def isAdtsSync(bytes: Array[Byte], off: Int): Boolean =
    bytes.length >= off + 7 && (bytes(off) & 0xff) == 0xff &&
      (bytes(off + 1) & 0xf6) == 0xf0

  /** The fields of the ADTS header at `off` (ISO/IEC 13818-7 §6.2), as
    * written, or None where [[isAdtsSync]] fails. [[parseAdtsHeader]]
    * holds them to what the decoder supports; the S3 probe reads any.
    */
  private[graft] final case class AdtsFields(protectionAbsent: Boolean,
      profile: Int, srIdx: Int, chanCfg: Int, frameLen: Int, blocks: Int)

  private[graft] def adtsFields(bytes: Array[Byte], off: Int): Option[AdtsFields] =
    if (!isAdtsSync(bytes, off)) None
    else {
      def u(i: Int): Int = bytes(off + i) & 0xff
      Some(AdtsFields(protectionAbsent = (u(1) & 1) == 1,
        profile = (u(2) >> 6) & 0x3,
        srIdx = (u(2) >> 2) & 0xf,
        chanCfg = ((u(2) & 1) << 2) | ((u(3) >> 6) & 0x3),
        frameLen = ((u(3) & 0x3) << 11) | (u(4) << 3) | ((u(5) >> 5) & 0x7),
        blocks = (u(6) & 0x3) + 1))
    }

  def parseAdtsHeader(bytes: Array[Byte], off: Int): AdtsHeader = {
    require(off + 7 <= bytes.length, "aac: truncated ADTS header")
    val fields = adtsFields(bytes, off)
    require(fields.isDefined, "aac: bad ADTS sync")
    val f = fields.get
    require(f.profile == 1, s"aac: only AAC-LC (profile 1), got ${f.profile}")
    require(f.srIdx < SampleRates.length, s"aac: reserved sr index ${f.srIdx}")
    require(f.chanCfg == 1 || f.chanCfg == 2,
      s"aac: channel configuration ${f.chanCfg} unsupported")
    require(f.blocks == 1, "aac: multi-block ADTS frames unsupported")
    val headerLen = if (f.protectionAbsent) 7 else 9
    require(f.frameLen >= headerLen, s"aac: frame length ${f.frameLen} too small")
    AdtsHeader(f.srIdx, SampleRates(f.srIdx), f.chanCfg, f.frameLen, headerLen)
  }

  /** Decode an ADTS stream to (sampleRate, mono waveform). Strict: the
    * whole stream must parse (loud S10 posture); per-frame bit
    * accounting requires every frame's payload to decode inside its
    * declared length.
    */
  def decodeAdts(bytes: Array[Byte]): (Int, Array[Float]) = {
    var off = 0
    var sr = -1
    var channels = -1
    var mono: MonoOut = null
    var states: Array[ChannelState] = null
    while (off + 7 <= bytes.length) {
      val h = parseAdtsHeader(bytes, off)
      if (sr < 0) { sr = h.sampleRate; channels = h.channels }
      else require(sr == h.sampleRate && channels == h.channels,
        "aac: mid-stream parameter change")
      if (states == null) {
        states = Array.fill(channels)(new ChannelState)
        mono = new MonoOut(channels)
      }
      require(h.frameLen <= bytes.length - off,
        s"aac: truncated ADTS frame at byte $off: length ${h.frameLen}, ${bytes.length - off} bytes left")
      val br = new BitReader(bytes, (off + h.headerLen) * 8, (off + h.frameLen) * 8)
      val chans = decodeRawBlock(br, states)
      require(chans.length == channels,
        s"aac: frame decoded ${chans.length} channels, header says $channels")
      require(br.remaining < 8, // strict bit accounting: only byte pad left
        s"aac: ${br.remaining} unconsumed payload bits")
      mono.add(chans)
      off += h.frameLen
    }
    require(off == bytes.length, "aac: trailing bytes after last ADTS frame")
    require(mono != null, "aac: no ADTS frames")
    (sr, mono.result)
  }

  /** Frames → mono float stream (the channel mean), dropping the first
    * frame's 1024-sample priming.
    */
  private final class MonoOut(channels: Int) {
    private val pcm = new PcmBuffer
    private var primed = false

    def add(frame: Array[Array[Double]]): Unit =
      if (!primed) primed = true
      else {
        var i = 0
        while (i < 1024) {
          var acc = 0.0
          var c = 0
          while (c < channels) { acc += frame(c)(i); c += 1 }
          pcm += (acc / channels).toFloat
          i += 1
        }
      }

    def result: Array[Float] = pcm.result
  }

  // --------------------------------------------------------- M4A front
  private final class M4aTable {
    var srIdx: Int = -1
    var chanCfg: Int = -1
    var sizes: Array[Int] = null
    var chunkOffset: Long = -1
  }

  /** Minimal ISO-BMFF demux for the engine's own mux shape ([[
    * AacEncoder.encodeM4a]]): one audio trak, one chunk; loud on
    * anything else. Walks moov → trak → mdia → minf → stbl; reads the
    * AudioSpecificConfig out of stsd/mp4a/esds, sample sizes from
    * stsz, the single chunk offset from stco.
    */
  private def demuxM4a(bytes: Array[Byte]): M4aTable = {
    val t = new M4aTable
    def walk(from: Int, to: Int): Unit = {
      var off = from
      while (off + 8 <= to) {
        val box = Mp4Probe.boxAt(bytes, off, to)
        require(box.isDefined, "aac: bad m4a box size")
        val (body, end) = box.get
        val ty = off + 4
        if (isCode(bytes, ty, "moov") || isCode(bytes, ty, "trak") ||
            isCode(bytes, ty, "mdia") || isCode(bytes, ty, "minf") ||
            isCode(bytes, ty, "stbl"))
          walk(body, end)
        else if (isCode(bytes, ty, "stsd")) {
          // fullbox(4) + entry_count(4) + one mp4a sample entry
          val entry = body + 8
          require(isCode(bytes, entry + 4, "mp4a"), "aac: stsd entry not mp4a")
          // mp4a: 8 box hdr + 28 audio sample entry fields, then esds
          val esds = entry + 8 + 28
          require(isCode(bytes, esds + 4, "esds"), "aac: mp4a without esds")
          readEsds(bytes, esds + 8 + 4, esds + be32(bytes, esds).toInt)
        } else if (isCode(bytes, ty, "stsz")) {
          val n = be32(bytes, body + 8).toInt
          require(be32(bytes, body + 4) == 0, "aac: fixed stsz unsupported")
          t.sizes = Array.tabulate(n)(i => be32(bytes, body + 12 + 4 * i).toInt)
        } else if (isCode(bytes, ty, "stco")) {
          require(be32(bytes, body + 4) == 1,
            "aac: multi-chunk m4a unsupported")
          t.chunkOffset = be32(bytes, body + 8)
        }
        off = end
      }
    }
    def readEsds(b: Array[Byte], from: Int, to: Int): Unit = {
      // descriptor walk: tag(1) + varlen(0x80-continued) + payload
      var off = from
      def varlen(): Int = {
        var v = 0
        var more = true
        while (more) {
          val x = b(off) & 0xff; off += 1
          v = (v << 7) | (x & 0x7f)
          more = (x & 0x80) != 0
        }
        v
      }
      while (off < to) {
        val tag = b(off) & 0xff; off += 1
        val len = varlen()
        tag match {
          case 0x03 => off += 3 // ES_ID(2) + flags(1), then sub-descriptors
          case 0x04 => off += 13 // DecoderConfig header, then sub-descriptors
          case 0x05 => // DecoderSpecificInfo = AudioSpecificConfig
            val br = new BitReader(b, off * 8, (off + len) * 8)
            val aot = br.bits(5)
            require(aot == 2, s"aac: audio object type $aot, want LC (2)")
            t.srIdx = br.bits(4)
            require(t.srIdx < SampleRates.length, "aac: bad ASC sr index")
            t.chanCfg = br.bits(4)
            require(br.bit() == 0, "aac: 960 frame length unsupported")
            require(br.bit() == 0, "aac: core coder unsupported")
            require(br.bit() == 0, "aac: ASC extension unsupported")
            return
          case _ => off += len // skip unknown descriptors
        }
      }
      throw new IllegalArgumentException("aac: esds without DecoderSpecificInfo")
    }
    walk(0, bytes.length)
    require(t.srIdx >= 0 && (t.chanCfg == 1 || t.chanCfg == 2),
      "aac: m4a missing AudioSpecificConfig")
    require(t.sizes != null && t.sizes.nonEmpty && t.chunkOffset >= 0,
      "aac: m4a missing sample table")
    t
  }

  /** Decode an M4A (MP4 audio) file to (sampleRate, mono waveform). */
  def decodeM4a(bytes: Array[Byte]): (Int, Array[Float]) = {
    val t = demuxM4a(bytes)
    val channels = t.chanCfg
    val states = Array.fill(channels)(new ChannelState)
    val mono = new MonoOut(channels)
    var off = t.chunkOffset
    t.sizes.foreach { sz =>
      require(off + sz <= bytes.length, "aac: sample outside file")
      val br = new BitReader(bytes, off.toInt * 8, (off + sz).toInt * 8)
      val chans = decodeRawBlock(br, states)
      require(chans.length == channels, "aac: channel count mismatch")
      require(br.remaining < 8,
        s"aac: ${br.remaining} unconsumed sample bits")
      mono.add(chans)
      off += sz
    }
    (SampleRates(t.srIdx), mono.result)
  }

  /** Container sniff used by [[WavAudio.decode]]. */
  def looksLikeAdts(bytes: Array[Byte]): Boolean =
    bytes != null && isAdtsSync(bytes, 0)
  def looksLikeM4a(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 12 && isCode(bytes, 4, "ftyp")
}
