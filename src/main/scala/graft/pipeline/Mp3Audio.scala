package graft.pipeline

import Bitstream.{BitReader, Trie}
import Mp3Tables._

/** S2 — pure-JVM MPEG Layer III waveform decode (MPEG-1, MPEG-2 LSF
  * and MPEG-2.5 headers; mono and stereo incl. MS and intensity
  * stereo; long/short/mixed blocks; bit reservoir). Reference decode
  * call sites: `modules/separation_filter.py:101` (librosa.load),
  * `modules/models/utils.py:11-16` (`.mp3` first in the glob list),
  * `vad_multi.py:28`.
  *
  * Fidelity posture (see [[Mp3Tables]] scaladoc for provenance):
  * spec-exact Huffman for tables 0-10 + count1; engine-local codebooks
  * for 11-31; formula-designed polyphase prototype. Every granule is
  * decoded under STRICT BIT ACCOUNTING — scalefactor + Huffman bits
  * must land exactly on part2_3_length (after the spec's count1
  * overshoot-rewind rule) or the frame is rejected — so a foreign
  * stream that exercises an engine-local table desyncs loudly and the
  * frame routes to the S10 failed path instead of emitting corrupt
  * audio. Codewords decode through the shared [[Bitstream.Trie]], one
  * bit at a time against the granule's part2_3_length bound. Frames
  * are decoded with per-frame fault isolation ([[decodeWithStats]]);
  * [[decode]] requires a majority of frames to decode cleanly.
  */
object Mp3Audio {

  // ----------------------------------------------------------- header
  final case class Header(offset: Int, version: Int, srIdx: Int, sampleRate: Int,
                          bitrateKbps: Int, padding: Int, mode: Int, modeExt: Int,
                          hasCrc: Boolean, frameBytes: Int) {
    def channels: Int = if (mode == 3) 1 else 2
    def lsf: Boolean = version != 3
    def granules: Int = if (lsf) 1 else 2
    def samplesPerFrame: Int = if (lsf) 576 else 1152
    def sideInfoBytes: Int =
      if (lsf) { if (channels == 1) 9 else 17 }
      else { if (channels == 1) 17 else 32 }
  }

  /** MPEG audio frame sync at `off` with the 4 header bytes present:
    * 11 set bits.
    */
  private[graft] def isSync(bytes: Array[Byte], off: Int): Boolean =
    bytes.length >= off + 4 && (bytes(off) & 0xff) == 0xff &&
      (bytes(off + 1) & 0xe0) == 0xe0

  /** The Layer III frame header at `off`, or None unless the sync and
    * every field (version, layer, bitrate, sample rate) are legal: the
    * one frame-header reader of the decoder and the S3 probe.
    */
  def parseHeader(bytes: Array[Byte], off: Int): Option[Header] = {
    if (!isSync(bytes, off)) return None
    val h1 = bytes(off + 1) & 0xff
    val h2 = bytes(off + 2) & 0xff
    val h3 = bytes(off + 3) & 0xff
    val version = (h1 >> 3) & 0x3
    val layer = (h1 >> 1) & 0x3
    if (version == 1 || layer != 1) return None // reserved version / not Layer III
    val brIdx = (h2 >> 4) & 0xf
    val srIdx = (h2 >> 2) & 0x3
    if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
    val kbps = if (version == 3) BitrateV1(brIdx) else BitrateV2(brIdx)
    val sr = Mp3Tables.sampleRate(version, srIdx)
    val padding = (h2 >> 1) & 1
    val mode = (h3 >> 6) & 3
    val modeExt = (h3 >> 4) & 3
    val hasCrc = (h1 & 1) == 0
    val spf = if (version == 3) 1152 else 576
    val frameBytes = spf / 8 * kbps * 1000 / sr + padding
    Some(Header(off, version, srIdx, sr, kbps, padding, mode, modeExt, hasCrc, frameBytes))
  }

  // -------------------------------------------------------- side info
  final case class GranuleInfo(part23Length: Int, bigValues: Int, globalGain: Int,
                               scalefacCompress: Int, windowSwitching: Boolean,
                               blockType: Int, mixedBlock: Boolean,
                               tableSelect: Array[Int], subblockGain: Array[Int],
                               region0Count: Int, region1Count: Int,
                               preflag: Int, scalefacScale: Int, count1Table: Int)

  final case class SideInfo(mainDataBegin: Int, scfsi: Array[Array[Int]],
                            granules: Array[Array[GranuleInfo]]) // [gr][ch]

  def parseSideInfo(h: Header, bytes: Array[Byte]): SideInfo = {
    val start = h.offset + 4 + (if (h.hasCrc) 2 else 0)
    val br = new BitReader(bytes, start * 8, (start + h.sideInfoBytes) * 8)
    val nch = h.channels
    val mdb = br.bits(if (h.lsf) 8 else 9)
    br.bits(if (h.lsf) { if (nch == 1) 1 else 2 } else { if (nch == 1) 5 else 3 }) // private
    val scfsi = Array.ofDim[Int](nch, 4)
    if (!h.lsf) {
      var ch = 0
      while (ch < nch) {
        var g = 0
        while (g < 4) { scfsi(ch)(g) = br.bit(); g += 1 }
        ch += 1
      }
    }
    val grs = Array.ofDim[GranuleInfo](h.granules, nch)
    var gr = 0
    while (gr < h.granules) {
      var ch = 0
      while (ch < nch) {
        val p23 = br.bits(12)
        val bv = br.bits(9)
        val gg = br.bits(8)
        val sc = br.bits(if (h.lsf) 9 else 4)
        val wsf = br.bit() == 1
        var blockType = 0
        var mixed = false
        val tsel = new Array[Int](3)
        val sbg = new Array[Int](3)
        var r0 = 0
        var r1 = 0
        if (wsf) {
          blockType = br.bits(2)
          mixed = br.bit() == 1
          tsel(0) = br.bits(5); tsel(1) = br.bits(5)
          sbg(0) = br.bits(3); sbg(1) = br.bits(3); sbg(2) = br.bits(3)
          // implied regions when window switching (spec defaults)
          r0 = if (blockType == 2 && !mixed) 8 else 7
          r1 = 20 - r0 // region1 runs to the end; region2 empty
          if (blockType == 0)
            throw new IllegalStateException("window_switching with block_type 0")
        } else {
          tsel(0) = br.bits(5); tsel(1) = br.bits(5); tsel(2) = br.bits(5)
          r0 = br.bits(4); r1 = br.bits(3)
        }
        val pre = if (h.lsf) 0 else br.bit()
        val sfs = br.bit()
        val c1t = br.bit()
        grs(gr)(ch) = GranuleInfo(p23, bv, gg, sc, wsf, blockType, mixed,
          tsel, sbg, r0, r1, pre, sfs, c1t)
        ch += 1
      }
      gr += 1
    }
    SideInfo(mdb, scfsi, grs)
  }

  // ----------------------------------------------------- scalefactors
  /** Decoded scalefactors: 23 long (padded) + 13x3 short, plus the LSF
    * preflag override.
    */
  final class Scalefacs {
    val l = new Array[Int](23)
    val s = Array.ofDim[Int](13, 3)
    var lsfPreflag = 0
  }

  /** MPEG1 scalefactor read; `prev` is granule 0's (for scfsi reuse). */
  def readScalefacsV1(br: BitReader, g: GranuleInfo, scfsi: Array[Int],
                      gr: Int, prev: Scalefacs): Scalefacs = {
    val sf = new Scalefacs
    val s1 = Slen1(g.scalefacCompress)
    val s2 = Slen2(g.scalefacCompress)
    if (g.windowSwitching && g.blockType == 2) {
      if (g.mixedBlock) {
        var b = 0
        while (b < 8) { sf.l(b) = br.bits(s1); b += 1 }
        b = 3
        while (b < 6) { var w = 0; while (w < 3) { sf.s(b)(w) = br.bits(s1); w += 1 }; b += 1 }
        while (b < 12) { var w = 0; while (w < 3) { sf.s(b)(w) = br.bits(s2); w += 1 }; b += 1 }
      } else {
        var b = 0
        while (b < 6) { var w = 0; while (w < 3) { sf.s(b)(w) = br.bits(s1); w += 1 }; b += 1 }
        while (b < 12) { var w = 0; while (w < 3) { sf.s(b)(w) = br.bits(s2); w += 1 }; b += 1 }
      }
    } else {
      // four scfsi groups over the 21 long bands
      val bounds = Array((0, 6, s1), (6, 11, s1), (11, 16, s2), (16, 21, s2))
      var gi = 0
      while (gi < 4) {
        val (from, until, slen) = bounds(gi)
        if (gr == 1 && scfsi(gi) == 1) {
          var b = from
          while (b < until) { sf.l(b) = prev.l(b); b += 1 }
        } else {
          var b = from
          while (b < until) { sf.l(b) = br.bits(slen); b += 1 }
        }
        gi += 1
      }
    }
    sf
  }

  /** MPEG2/2.5 (LSF) scalefactor read. `intensityCh` marks the right
    * channel of an intensity-stereo pair (different decomposition).
    */
  def readScalefacsLsf(br: BitReader, g: GranuleInfo, intensityCh: Boolean): Scalefacs = {
    val sf = new Scalefacs
    val slen = new Array[Int](4)
    var blockNum = 0
    val sc = g.scalefacCompress
    if (!intensityCh) {
      if (sc < 400) {
        slen(0) = (sc >> 4) / 5; slen(1) = (sc >> 4) % 5
        slen(2) = (sc & 15) >> 2; slen(3) = sc & 3
        blockNum = 0
      } else if (sc < 500) {
        val j = sc - 400
        slen(0) = (j >> 2) / 5; slen(1) = (j >> 2) % 5
        slen(2) = j & 3; slen(3) = 0
        blockNum = 1
      } else {
        val j = sc - 500
        slen(0) = j / 3; slen(1) = j % 3; slen(2) = 0; slen(3) = 0
        blockNum = 2
        sf.lsfPreflag = 1
      }
    } else {
      val isc = sc >> 1
      if (isc < 180) {
        slen(0) = isc / 36; slen(1) = (isc % 36) / 6; slen(2) = isc % 6; slen(3) = 0
        blockNum = 3
      } else if (isc < 244) {
        val j = isc - 180
        slen(0) = (j >> 4) & 3; slen(1) = (j >> 2) & 3; slen(2) = j & 3; slen(3) = 0
        blockNum = 4
      } else {
        val j = isc - 244
        slen(0) = j / 3; slen(1) = j % 3; slen(2) = 0; slen(3) = 0
        blockNum = 5
      }
    }
    val blockIndex =
      if (g.windowSwitching && g.blockType == 2) { if (g.mixedBlock) 2 else 1 } else 0
    val counts = LsfNrOfSfb(blockNum)(blockIndex)
    // fill in bitstream order: long bands first (for long/mixed), then
    // short bands window-inner
    var longBands = if (blockIndex == 0) 21 else if (blockIndex == 2) 6 else 0
    var li = 0
    var si = if (blockIndex == 2) 3 else 0 // mixed short starts at band 3
    var sw = 0
    var gi = 0
    while (gi < 4) {
      var k = 0
      while (k < counts(gi)) {
        val v = if (slen(gi) == 0) 0 else br.bits(slen(gi))
        if (li < longBands) { sf.l(li) = v; li += 1 }
        else {
          sf.s(si)(sw) = v
          sw += 1
          if (sw == 3) { sw = 0; si += 1 }
        }
        k += 1
      }
      gi += 1
    }
    sf
  }

  // -------------------------------------------------- Huffman decode
  /** Huffman-decode one granule's 576 integer spectral values, under
    * strict bit accounting: no codeword bit is read at or past `limit`
    * (granule start + part2_3_length). Returns (is values, count of
    * values read).
    */
  def readSpectrum(br: BitReader, g: GranuleInfo, h: Header, limit: Long): (Array[Int], Int) = {
    val is = new Array[Int](576)
    val sfbL = sfbLong(h.version, h.srIdx)
    val (region1Start, region2Start) =
      if (g.windowSwitching) {
        val r1 = if (g.blockType == 2) 36 else sfbL(8)
        (r1, 576)
      } else {
        val r0c = math.min(g.region0Count + 1, sfbL.length - 1)
        val r1c = math.min(g.region0Count + g.region1Count + 2, sfbL.length - 1)
        (sfbL(r0c), sfbL(r1c))
      }
    val nextBit = () => {
      if (br.pos >= limit) throw new IllegalStateException("huffman ran past part2_3_length")
      br.bit()
    }
    val nBig = math.min(g.bigValues * 2, 576)
    var region = -1
    var tab: HuffTable = null
    var trie: Trie = null
    var i = 0
    while (i < nBig) {
      val r = if (i < region1Start) 0 else if (i < region2Start) 1 else 2
      if (r != region) { // a region's table resolves at its first pair
        region = r
        tab = bigTable(g.tableSelect(r)).orNull
        trie = if (tab == null) null else bigTrie(tab.id)
      }
      if (tab == null) {
        is(i) = 0; is(i + 1) = 0
      } else {
        val v = trie.decode(nextBit)
        var x = v / tab.xlen
        var y = v % tab.xlen
        if (x == 15 && tab.linbits > 0) x += br.bits(tab.linbits)
        if (x != 0 && br.bit() == 1) x = -x
        if (y == 15 && tab.linbits > 0) y += br.bits(tab.linbits)
        if (y != 0 && br.bit() == 1) y = -y
        is(i) = x; is(i + 1) = y
      }
      i += 2
    }
    // count1 region: quads until the bit budget is consumed
    val qtrie = count1Tries(g.count1Table)
    while (br.pos < limit && i <= 576 - 4) {
      var ok = true
      var quad = 0
      try quad = qtrie.decode(nextBit)
      catch { case _: IllegalStateException => ok = false }
      if (!ok) {
        br.pos = limit // spec overshoot rule: discard the partial quad
      } else {
        // quad bits: v w x y (MSB..), each nonzero gets a sign bit
        var j = 0
        var fail = false
        val vals = new Array[Int](4)
        while (j < 4 && !fail) {
          val bitv = (quad >> (3 - j)) & 1
          if (bitv == 1) {
            if (br.pos >= limit) fail = true
            else vals(j) = if (br.bit() == 1) -1 else 1
          }
          j += 1
        }
        if (fail) {
          br.pos = limit
        } else {
          is(i) = vals(0); is(i + 1) = vals(1); is(i + 2) = vals(2); is(i + 3) = vals(3)
          i += 4
        }
      }
    }
    if (br.pos > limit)
      throw new IllegalStateException(s"granule overran part2_3_length (${br.pos - limit} bits)")
    br.pos = limit // skip stuffing (spec allows padding inside part2_3)
    (is, i)
  }

  // ----------------------------------------------------- requantize
  def requantize(is: Array[Int], g: GranuleInfo, sf: Scalefacs, h: Header): Array[Double] = {
    val xr = new Array[Double](576)
    val sfbL = sfbLong(h.version, h.srIdx)
    val sfbS = sfbShort(h.version, h.srIdx)
    val mult = if (g.scalefacScale == 1) 1.0 else 0.5
    val pre = if (g.preflag == 1 || sf.lsfPreflag == 1) 1 else 0
    val gainBase = math.pow(2.0, 0.25 * (g.globalGain - 210))
    def longFactor(sfb: Int): Double =
      gainBase * math.pow(2.0, -mult * (sf.l(sfb) + pre * Pretab(math.min(sfb, 21))))
    if (g.windowSwitching && g.blockType == 2) {
      val longEnd = if (g.mixedBlock) 36 else 0
      var i = 0
      var sfb = 0
      while (i < longEnd) {
        if (i >= sfbL(sfb + 1)) sfb += 1
        val v = is(i)
        xr(i) = math.signum(v.toDouble) * pow43(math.abs(v)) * longFactor(sfb)
        i += 1
      }
      // short region: values arrive band-major, 3 windows of width w each
      var b = if (g.mixedBlock) 3 else 0
      while (b < 13 && sfbS(b) * 3 < 576) {
        val start = sfbS(b)
        val width = sfbS(b + 1) - sfbS(b)
        var w = 0
        while (w < 3) {
          val gain = math.pow(2.0, 0.25 * (g.globalGain - 210 - 8 * g.subblockGain(w))) *
            math.pow(2.0, -mult * sf.s(b)(w))
          var k = 0
          while (k < width) {
            val idx = start * 3 + w * width + k
            if (idx < 576) {
              val v = is(idx)
              xr(idx) = math.signum(v.toDouble) * pow43(math.abs(v)) * gain
            }
            k += 1
          }
          w += 1
        }
        b += 1
      }
    } else {
      var i = 0
      var sfb = 0
      while (i < 576) {
        if (sfb < 21 && i >= sfbL(sfb + 1)) sfb += 1
        val v = is(i)
        if (v != 0)
          xr(i) = math.signum(v.toDouble) * pow43(math.abs(v)) * longFactor(math.min(sfb, 21))
        i += 1
      }
    }
    xr
  }

  /** Short-block reorder: band-window-major → line-interleaved, so
    * subband s holds lines [18s, 18s+18) as [l0w0, l0w1, l0w2, l1w0, …].
    */
  def reorderShort(xr: Array[Double], g: GranuleInfo, h: Header): Array[Double] = {
    if (!(g.windowSwitching && g.blockType == 2)) return xr
    val out = xr.clone()
    val sfbS = sfbShort(h.version, h.srIdx)
    var b = if (g.mixedBlock) 3 else 0
    while (b < 13) {
      val start = sfbS(b)
      val width = sfbS(b + 1) - sfbS(b)
      var w = 0
      while (w < 3) {
        var k = 0
        while (k < width) {
          val src = start * 3 + w * width + k
          val dst = start * 3 + k * 3 + w
          if (src < 576 && dst < 576) out(dst) = xr(src)
          k += 1
        }
        w += 1
      }
      b += 1
    }
    out
  }

  // ---------------------------------------------------------- stereo
  /** MS and intensity stereo, in place. `xr(0)` = left/mid, `xr(1)` =
    * right/side. Intensity applies above the right channel's zero
    * bound using the right channel's scalefacs as positions.
    */
  def stereo(xr: Array[Array[Double]], gs: Array[GranuleInfo], sfs: Array[Scalefacs],
             h: Header): Unit = {
    if (h.channels != 2 || h.mode != 1) return
    val ms = (h.modeExt & 2) != 0
    val intensity = (h.modeExt & 1) != 0
    val invSqrt2 = 1.0 / math.sqrt(2.0)
    // right channel zero bound (for intensity)
    var rzero = 576
    if (intensity) {
      while (rzero > 0 && xr(1)(rzero - 1) == 0.0) rzero -= 1
    }
    if (ms) {
      var i = 0
      val bound = if (intensity) rzero else 576
      while (i < bound) {
        val m = xr(0)(i); val s = xr(1)(i)
        xr(0)(i) = (m + s) * invSqrt2
        xr(1)(i) = (m - s) * invSqrt2
        i += 1
      }
    }
    if (intensity) {
      val g = gs(1)
      val sfR = sfs(1)
      val sfbL = sfbLong(h.version, h.srIdx)
      val shortBlock = g.windowSwitching && g.blockType == 2
      if (!shortBlock) {
        var sfb = 0
        while (sfb < 21) {
          val start = sfbL(sfb)
          val end = sfbL(sfb + 1)
          if (start >= rzero) {
            applyIntensityLong(xr, start, end, sfR.l(sfb), h)
          }
          sfb += 1
        }
      }
      // short-block intensity omitted beyond the long path: rare in
      // practice; bands keep their MS/LR values (bounded error, never
      // a desync)
    }
  }

  private def applyIntensityLong(xr: Array[Array[Double]], start: Int, end: Int,
                                 isPos: Int, h: Header): Unit = {
    if (h.lsf) {
      // LSF intensity: ratio 2^(-(isPos+1)/2 * intensity_scale)
      if (isPos == 0) return
      val io = if ((isPos & 1) == 1) math.pow(2.0, -(isPos + 1) / 2 * 0.5)
      else math.pow(2.0, -(isPos / 2) * 1.0)
      var i = start
      while (i < end) {
        val v = xr(0)(i)
        if ((isPos & 1) == 1) { xr(0)(i) = v * io; xr(1)(i) = v }
        else { xr(0)(i) = v; xr(1)(i) = v * io }
        i += 1
      }
    } else {
      if (isPos == 7) return // illegal position: leave as is
      val ratio = math.tan(isPos * math.Pi / 12.0)
      var i = start
      while (i < end) {
        val v = xr(0)(i)
        xr(0)(i) = v * (ratio / (1.0 + ratio))
        xr(1)(i) = v * (1.0 / (1.0 + ratio))
        i += 1
      }
    }
  }

  // -------------------------------------------------- alias reduction
  def aliasReduce(xr: Array[Double], g: GranuleInfo): Unit = {
    val shortBlock = g.windowSwitching && g.blockType == 2
    val nb = if (shortBlock && !g.mixedBlock) 0 else if (shortBlock) 1 else 31
    var sb = 1
    while (sb <= nb) {
      var i = 0
      while (i < 8) {
        val a = xr(18 * sb - 1 - i)
        val b = xr(18 * sb + i)
        xr(18 * sb - 1 - i) = a * AliasCs(i) - b * AliasCa(i)
        xr(18 * sb + i) = b * AliasCs(i) + a * AliasCa(i)
        i += 1
      }
      sb += 1
    }
  }

  // ------------------------------------------------------------ IMDCT
  /** cos(π/72·(2i + 1 + 18)(2k + 1)) at [18i + k], i < 36, k < 18. */
  private val imdctLongCos: Array[Double] = Array.tabulate(36 * 18)(ik =>
    math.cos(math.Pi / 72.0 * (2 * (ik / 18) + 1 + 18) * (2 * (ik % 18) + 1)))
  /** cos(π/24·(2i + 1 + 6)(2k + 1)) at [6i + k], i < 12, k < 6. */
  private val imdctShortCos: Array[Double] = Array.tabulate(12 * 6)(ik =>
    math.cos(math.Pi / 24.0 * (2 * (ik / 6) + 1 + 6) * (2 * (ik % 6) + 1)))

  /** 36-sample IMDCT+window output for one subband's 18 lines. */
  def imdctBlock(lines: Array[Double], off: Int, blockType: Int, isShort: Boolean): Array[Double] = {
    val out = new Array[Double](36)
    imdctInto(lines, off, blockType, isShort, out)
    out
  }

  /** [[imdctBlock]] into the 36 slots of `out`. A subband whose 18 lines
    * are all zero skips the transform: every sum would be +0.0 and
    * every window is non-negative, so its output is +0.0 throughout.
    */
  private def imdctInto(lines: Array[Double], off: Int, blockType: Int, isShort: Boolean,
                        out: Array[Double]): Unit = {
    val win = if (isShort) WinShort else windowFor(blockType)
    var nz = 0
    while (nz < 18 && lines(off + nz) == 0.0) nz += 1
    if (nz == 18 || isShort) java.util.Arrays.fill(out, 0.0)
    if (nz == 18) return
    if (isShort) {
      var w = 0
      while (w < 3) {
        var i = 0
        while (i < 12) {
          var sum = 0.0
          var k = 0
          while (k < 6) {
            sum += lines(off + 3 * k + w) * imdctShortCos(6 * i + k)
            k += 1
          }
          out(6 + 6 * w + i) += sum * win(i)
          i += 1
        }
        w += 1
      }
    } else {
      var i = 0
      while (i < 36) {
        var sum = 0.0
        var k = 0
        while (k < 18) {
          sum += lines(off + k) * imdctLongCos(18 * i + k)
          k += 1
        }
        out(i) = sum * win(i)
        i += 1
      }
    }
  }

  /** Hybrid synthesis for one granule: 576 lines → 32 subbands × 18
    * time samples into `out`, with overlap-add state `store(sb)(0..17)`,
    * frequency inversion and a 36-sample work buffer `x`.
    */
  def hybridSynthesis(xr: Array[Double], g: GranuleInfo, store: Array[Array[Double]],
                      out: Array[Array[Double]], x: Array[Double]): Unit = {
    val shortBlock = g.windowSwitching && g.blockType == 2
    var sb = 0
    while (sb < 32) {
      val isShort = shortBlock && (!g.mixedBlock || sb >= 2)
      val bt = if (isShort) 2 else if (shortBlock && g.mixedBlock) 0 else g.blockType
      imdctInto(xr, 18 * sb, if (isShort) 2 else bt, isShort, x)
      val o = out(sb)
      val st = store(sb)
      var i = 0
      while (i < 18) {
        o(i) = x(i) + st(i)
        st(i) = x(18 + i)
        i += 1
      }
      // frequency inversion: odd time samples of odd subbands
      if ((sb & 1) == 1) {
        i = 1
        while (i < 18) { o(i) = -o(i); i += 2 }
      }
      sb += 1
    }
  }

  // ------------------------------------------- polyphase synthesis
  /** Modulated synthesis filters G(k)(n) = γ·h(n)·cos(π/32·(k+½)(n+16))
    * — the (n−16)/(n+16) phase split between analysis and synthesis is
    * what makes the cosine-modulated pair alias-cancelling (pinned by
    * Mp3Spec's reconstruction-SNR test). γ normalizes the cascade to
    * unity gain (measured at design time for the fixed prototype).
    * Direct-form synthesis: each subband time step contributes its
    * filter into a sliding 512-tap accumulator.
    */
  lazy val SynthG: Array[Array[Double]] = {
    val h = PrototypeWindow
    val gamma = 32.0 * 3.9835548921
    Array.tabulate(32, 512)((k, n) =>
      gamma * h(n) * math.cos(math.Pi / 32.0 * (k + 0.5) * (n + 16)))
  }

  final class Synth {
    private val acc = new Array[Double](512)
    /** One time step: 32 subband samples in → 32 PCM samples out. */
    def step(s: Array[Array[Double]], t: Int): Array[Double] = {
      val out = new Array[Double](32)
      step(s, t, out, 0)
      out
    }

    /** [[step]] into `out[off, off + 32)`. */
    def step(s: Array[Array[Double]], t: Int, out: Array[Double], off: Int): Unit = {
      var k = 0
      while (k < 32) {
        val v = s(k)(t)
        if (v != 0.0) {
          val g = SynthG(k)
          var n = 0
          while (n < 512) { acc(n) += v * g(n); n += 1 }
        }
        k += 1
      }
      System.arraycopy(acc, 0, out, off, 32)
      System.arraycopy(acc, 32, acc, 0, 480)
      java.util.Arrays.fill(acc, 480, 512, 0.0)
    }
  }

  // -------------------------------------------------- frame pipeline
  final case class FrameStat(offset: Int, ok: Boolean, err: String, tables: Set[Int])

  /** One channel's decode state: overlap-add store, synthesis filter,
    * granule-0 scalefactors, and the granule work buffers it reuses.
    */
  final class ChannelState {
    val store = Array.ofDim[Double](32, 18)
    val synth = new Synth
    var prevScalefacs: Scalefacs = new Scalefacs
    val sub = Array.ofDim[Double](32, 18)
    val imdct = new Array[Double](36)
    val pcm = new Array[Double](576)
  }

  /** Bytes scanned past the ID3v2 tag for the first frame header: junk
    * before the first frame is legal, and the bound keeps a scan over
    * foreign bytes from running the whole payload.
    */
  private val SyncScanBytes = 65536

  /** The first valid frame header at most [[SyncScanBytes]] past the
    * ID3v2 tag, if any: where the decoder starts and the S3 probe reads.
    */
  private[graft] def firstFrame(bytes: Array[Byte]): Option[Header] = {
    val from = Id3.tagEnd(bytes)
    val limit = math.min(bytes.length - 4, from + SyncScanBytes)
    var p = from
    while (p <= limit) {
      val h = parseHeader(bytes, p)
      if (h.isDefined) return h
      p += 1
    }
    None
  }

  /** Decode with per-frame fault isolation. Returns (sampleRate,
    * mono waveform, per-frame stats). Waveform only contains frames
    * that decoded cleanly (failed frames contribute silence so
    * durations stay aligned).
    */
  def decodeWithStats(bytes: Array[Byte]): (Int, Array[Float], Seq[FrameStat]) = {
    val (sr, mono, st, _) = decodeFull(bytes)
    (sr, mono, st)
  }

  /** Per-channel decode (stereo tests need L/R separately; the
    * production seam stays mono like the reference's `mono=True`).
    */
  def decodeChannels(bytes: Array[Byte]): (Int, Array[Array[Float]]) = {
    val (sr, _, stats, chans) = decodeFull(bytes)
    val ok = stats.count(_.ok)
    require(stats.nonEmpty && ok * 2 >= stats.size,
      s"only $ok/${stats.size} frames decoded cleanly")
    (sr, chans)
  }

  private def decodeFull(bytes: Array[Byte])
      : (Int, Array[Float], Seq[FrameStat], Array[Array[Float]]) = {
    require(bytes != null && bytes.length >= 4, "empty payload")
    val first = firstFrame(bytes)
    require(first.isDefined, "no MPEG audio frame found")
    var off = first.get.offset
    val end = // ignore ID3v1 trailer
      if (bytes.length >= 128 && bytes(bytes.length - 128) == 'T' &&
        bytes(bytes.length - 127) == 'A' && bytes(bytes.length - 126) == 'G')
        bytes.length - 128
      else bytes.length

    val stats = Seq.newBuilder[FrameStat]
    var pcm: Array[PcmBuffer] = null
    var frameOut: Array[Array[Float]] = null
    var sampleRate = 0
    var channels = 1
    var states: Array[ChannelState] = null

    // bit reservoir: rolling main-data buffer; track byte count so
    // main_data_begin indexes from its end
    var reservoir = new Array[Byte](0)

    while (off + 4 <= end) {
      parseHeader(bytes, off) match {
        case None =>
          off += 1 // resync scan
        case Some(h) =>
          if (sampleRate == 0) {
            sampleRate = h.sampleRate
            channels = h.channels
            states = Array.fill(h.channels)(new ChannelState)
            pcm = Array.fill(h.channels)(new PcmBuffer)
            frameOut = Array.ofDim[Float](h.channels, 1152)
          }
          val frameEnd = math.min(off + h.frameBytes, end)
          val mainStart = off + 4 + (if (h.hasCrc) 2 else 0) + h.sideInfoBytes
          if (h.sampleRate != sampleRate || h.channels != channels || frameEnd <= mainStart) {
            stats += FrameStat(off, ok = false, "stream parameter change or truncated frame", Set.empty)
            off = math.max(frameEnd, off + 1)
          } else {
            val mainBytes = java.util.Arrays.copyOfRange(bytes, mainStart, frameEnd)
            val si =
              try Some(parseSideInfo(h, bytes))
              catch { case e: Exception => stats += FrameStat(off, ok = false,
                s"side info: ${e.getMessage}", Set.empty); None }
            si match {
              case Some(side) =>
                val startInRes = reservoir.length - side.mainDataBegin
                // append current main data to the reservoir
                val combined = new Array[Byte](reservoir.length + mainBytes.length)
                System.arraycopy(reservoir, 0, combined, 0, reservoir.length)
                System.arraycopy(mainBytes, 0, combined, reservoir.length, mainBytes.length)
                if (startInRes < 0) {
                  stats += FrameStat(off, ok = false, "bit reservoir underrun", Set.empty)
                  // frames contribute silence to keep durations aligned
                  pcm.foreach(_.appendZeros(h.samplesPerFrame))
                } else {
                  val tablesUsed = side.granules.flatten
                    .flatMap(g => g.tableSelect.take(if (g.windowSwitching) 2 else 3))
                    .filter(_ > 0).toSet
                  try {
                    decodeFrame(h, side, combined, startInRes, states, frameOut)
                    var c = 0
                    while (c < channels) { pcm(c).appendFrom(frameOut(c), h.samplesPerFrame); c += 1 }
                    stats += FrameStat(off, ok = true, "", tablesUsed)
                  } catch {
                    case e: Exception =>
                      stats += FrameStat(off, ok = false,
                        s"${e.getClass.getSimpleName}: ${e.getMessage}", tablesUsed)
                      pcm.foreach(_.appendZeros(h.samplesPerFrame))
                  }
                }
                // keep at most 511 trailing bytes (max main_data_begin)
                reservoir =
                  if (combined.length > 511) java.util.Arrays.copyOfRange(combined, combined.length - 511, combined.length)
                  else combined
              case None =>
            }
            off = frameEnd
          }
      }
    }
    require(sampleRate > 0, "no decodable MPEG frames")
    val chans = pcm.map(_.result)
    val mono =
      if (channels == 1) chans(0)
      else {
        val m = new Array[Float](chans(0).length)
        var i = 0
        while (i < m.length) { m(i) = (chans(0)(i) + chans(1)(i)) / 2f; i += 1 }
        m
      }
    (sampleRate, mono, stats.result(), chans)
  }

  /** Strict decode for the production seam: at least half the frames
    * must decode cleanly, else the payload is rejected (S10 path).
    */
  def decode(bytes: Array[Byte]): (Int, Array[Float]) = {
    val (sr, wave, stats) = decodeWithStats(bytes)
    val ok = stats.count(_.ok)
    require(stats.nonEmpty && ok * 2 >= stats.size,
      s"only $ok/${stats.size} frames decoded cleanly: " +
        stats.filterNot(_.ok).take(3).map(_.err).mkString("; "))
    (sr, wave)
  }

  /** Decode one frame's granules into `out(ch)[0, samplesPerFrame)`. */
  private def decodeFrame(h: Header, side: SideInfo, main: Array[Byte], startByte: Int,
                          states: Array[ChannelState], out: Array[Array[Float]]): Unit = {
    val br = new BitReader(main, startByte * 8, main.length * 8)
    val nch = h.channels
    var gr = 0
    while (gr < h.granules) {
      val xr = new Array[Array[Double]](nch)
      val sfs = new Array[Scalefacs](nch)
      var ch = 0
      while (ch < nch) {
        val g = side.granules(gr)(ch)
        val granuleStart = br.pos
        val limit = granuleStart + g.part23Length
        if (limit > br.endBit)
          throw new IllegalStateException("part2_3_length exceeds available main data")
        val intensityCh = h.mode == 1 && (h.modeExt & 1) != 0 && ch == 1
        val sf =
          if (h.lsf) readScalefacsLsf(br, g, intensityCh)
          else readScalefacsV1(br, g, side.scfsi(ch), gr, states(ch).prevScalefacs)
        if (gr == 0) states(ch).prevScalefacs = sf
        val (is, _) = readSpectrum(br, g, h, limit)
        val xrc = requantize(is, g, sf, h)
        xr(ch) = reorderShort(xrc, g, h)
        sfs(ch) = sf
        ch += 1
      }
      stereo(xr, side.granules(gr), sfs, h)
      ch = 0
      while (ch < nch) {
        val g = side.granules(gr)(ch)
        val st = states(ch)
        aliasReduce(xr(ch), g)
        hybridSynthesis(xr(ch), g, st.store, st.sub, st.imdct)
        // polyphase: 18 steps of 32 samples
        var t = 0
        while (t < 18) { st.synth.step(st.sub, t, st.pcm, 32 * t); t += 1 }
        ch += 1
      }
      ch = 0
      while (ch < nch) {
        val pcm = states(ch).pcm
        val o = out(ch)
        var i = 0
        while (i < 576) { o(gr * 576 + i) = pcm(i).toFloat; i += 1 }
        ch += 1
      }
      gr += 1
    }
  }

  /** True if the payload looks like an MP3 stream (ID3v2 tag or a
    * valid Layer III frame header at/near the start).
    */
  def looksLikeMp3(bytes: Array[Byte]): Boolean = {
    if (bytes == null || bytes.length < 4) return false
    if (bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') return true
    parseHeader(bytes, 0).isDefined
  }
}
