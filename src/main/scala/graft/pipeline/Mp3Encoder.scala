package graft.pipeline

import Bitstream.BitWriter
import Mp3Tables._

/** Minimal MPEG-1 Layer III mono CBR encoder — the fixture-minting
  * dual of [[Mp3Audio]] (same role FlacAudio's encoder plays for the
  * FLAC path): real analysis filterbank, frequency inversion, MDCT
  * with TDAC windows, inverse alias butterflies, global-gain
  * quantization and Huffman coding over the shared [[Mp3Tables]]
  * codebooks, long blocks only, no bit reservoir (main_data_begin=0,
  * frames padded with ancillary zeros).
  *
  * Supported: sample rates 32000/44100/48000, bitrates whose frame
  * size is integral at the chosen rate (32 kHz keeps every MPEG-1
  * Layer III rate integral — 144000·kbps/32000 is a whole number for
  * all table rates), mono.
  */
object Mp3Encoder {

  // ------------------------------------------------- analysis bank
  /** Modulated analysis filters A(k)(n) = h(n)·cos(π/32·(k+½)(n−16)) —
    * the dual of [[Mp3Audio.SynthG]] (same modulation, window shared).
    */
  lazy val AnalysisA: Array[Array[Double]] = {
    val h = PrototypeWindow
    Array.tabulate(32, 512)((k, n) =>
      h(n) * math.cos(math.Pi / 32.0 * (k + 0.5) * (n - 16)))
  }

  /** Analysis over the whole input: returns subband samples
    * S(k)(t) for t = 0 until n/32 steps (input zero-padded).
    */
  def analyze(x: Array[Float], steps: Int): Array[Array[Double]] = {
    val fifo = new Array[Double](512) // fifo(0) = newest sample
    val out = Array.ofDim[Double](32, steps)
    var t = 0
    while (t < steps) {
      // push 32 new samples (newest first layout: shift right)
      System.arraycopy(fifo, 0, fifo, 32, 480)
      var j = 0
      while (j < 32) {
        val idx = 32 * t + j
        fifo(31 - j) = if (idx < x.length) x(idx) else 0.0
        j += 1
      }
      var k = 0
      while (k < 32) {
        var sum = 0.0
        val a = AnalysisA(k)
        var n = 0
        while (n < 512) { sum += fifo(n) * a(n); n += 1 }
        out(k)(t) = sum
        k += 1
      }
      t += 1
    }
    out
  }

  // ---------------------------------------------------------- MDCT
  private lazy val mdctCos: Array[Array[Double]] = Array.tabulate(18, 36)((k, i) =>
    math.cos(math.Pi / 72.0 * (2 * i + 1 + 18) * (2 * k + 1)))

  /** Forward MDCT of 36 windowed time samples → 18 lines; 1/9 scale is
    * the TDAC inverse of the decoder's IMDCT+overlap-add (pinned by
    * Mp3Spec's identity property).
    */
  def mdct36(x: Array[Double]): Array[Double] = {
    val out = new Array[Double](18)
    var k = 0
    while (k < 18) {
      var sum = 0.0
      var i = 0
      while (i < 36) { sum += x(i) * WinLong(i) * mdctCos(k)(i); i += 1 }
      out(k) = sum / 9.0
      k += 1
    }
    out
  }

  /** Inverse alias butterflies (undone by the decoder's aliasReduce). */
  def aliasEncode(xr: Array[Double]): Unit = {
    var sb = 1
    while (sb < 32) {
      var i = 0
      while (i < 8) {
        val a = xr(18 * sb - 1 - i)
        val b = xr(18 * sb + i)
        xr(18 * sb - 1 - i) = a * AliasCs(i) + b * AliasCa(i)
        xr(18 * sb + i) = b * AliasCs(i) - a * AliasCa(i)
        i += 1
      }
      sb += 1
    }
  }

  // ------------------------------------------------------- Huffman
  /** Write one (x, y) pair with table `tid`. Values must fit the
    * table's domain (|v| ≤ maxVal, or maxVal+linbits escape room).
    */
  def writePair(bw: BitWriter, tid: Int, x: Int, y: Int): Unit = {
    val tab = bigTable(tid).getOrElse(
      throw new IllegalArgumentException("table 0 holds no values"))
    val ax = math.abs(x); val ay = math.abs(y)
    val cx = math.min(ax, tab.maxVal)
    val cy = math.min(ay, tab.maxVal)
    val (len, code) = tab.code(cx, cy)
    bw.write(code, len)
    if (cx == 15 && tab.linbits > 0) bw.write(ax - 15, tab.linbits)
    if (ax != 0) bw.write(if (x < 0) 1 else 0, 1)
    if (cy == 15 && tab.linbits > 0) bw.write(ay - 15, tab.linbits)
    if (ay != 0) bw.write(if (y < 0) 1 else 0, 1)
  }

  /** Smallest table that can carry |values| ≤ m (prefer spec-exact). */
  def tableFor(m: Int): Int =
    if (m == 0) 0
    else if (m <= 1) 1
    else if (m <= 2) 2
    else if (m <= 3) 5
    else if (m <= 5) 7
    else if (m <= 7) 10
    else if (m <= 15) 15
    else {
      val extra = m - 15
      val need = 32 - Integer.numberOfLeadingZeros(extra) // bits for extra
      val i = Linbits16Pub.indexWhere(_ >= need)
      if (i >= 0) 16 + i else 31 // 13 linbits = up to 8206
    }
  private val Linbits16Pub = Array(1, 2, 3, 4, 6, 8, 10, 13)

  // ------------------------------------------------------ granule
  final case class EncGranule(part23Length: Int, bigValues: Int, globalGain: Int,
                              tableId: Int, bits: BitWriter)

  /** Quantize and Huffman-code one granule's 576 lines. Returns None
    * if even the coarsest gain cannot fit the bit budget.
    */
  def encodeGranule(xr: Array[Double], maxBits: Int, forceTable: Option[Int]): EncGranule = {
    // part2_3_length is a 12-bit side-info field: budgets above 4095 bits
    // (reachable at >=256 kbps/32 kHz) would be written mod 4096 and desync
    // the decoder, so a dense granule retries at a coarser gain instead.
    val bitCap = math.min(maxBits, 4095)
    var gg = chooseGain(xr, forceTable)
    var attempt = 0
    while (attempt < 16) {
      val step = math.pow(2.0, 0.25 * (gg - 210))
      val is = new Array[Int](576)
      var i = 0
      var lastNz = -1
      while (i < 576) {
        val q = math.round(math.pow(math.abs(xr(i)) / step, 0.75)).toInt
        is(i) = if (xr(i) < 0) -q else q
        if (q != 0) lastNz = i
        i += 1
      }
      val nBig = if (lastNz < 0) 0 else lastNz + 1 + ((lastNz + 1) & 1) // round up to even
      val bigValues = nBig / 2
      val maxAbs = if (nBig == 0) 0 else is.take(nBig).map(math.abs).max
      val tid = forceTable.getOrElse(tableFor(maxAbs))
      val cap = bigTable(tid) match {
        case Some(tb) => tb.maxVal + (if (tb.linbits > 0) (1 << tb.linbits) - 1 else 0)
        case None => 0
      }
      if (maxAbs > cap) {
        gg += 4 // coarser step until values fit the (forced) table
      } else {
        val bw = new BitWriter
        var j = 0
        while (j < nBig) {
          writePair(bw, if (tid == 0) 1 else tid, is(j), is(j + 1))
          j += 2
        }
        if (bw.bitLength > bitCap) gg += 4
        else return EncGranule(bw.bitLength, bigValues, gg, tid, bw)
      }
      attempt += 1
    }
    sys.error("granule does not fit bit budget")
  }

  private def chooseGain(xr: Array[Double], forceTable: Option[Int]): Int = {
    val maxAbs = xr.map(math.abs).max
    if (maxAbs == 0.0) return 210
    // target max quantized value: small tables aim at their domain cap,
    // linbits tables at a few hundred for precision
    val target = forceTable match {
      case Some(tid) => bigTable(tid).map(_.maxVal.toDouble).getOrElse(1.0)
      case None => 200.0
    }
    // |is| = (maxAbs/step)^(3/4) = target → step = maxAbs / target^(4/3)
    val step = maxAbs / math.pow(target, 4.0 / 3.0)
    val gg = math.round(210 + 4.0 * math.log(step) / math.log(2.0)).toInt
    math.max(0, math.min(255, gg))
  }

  // -------------------------------------------------------- frames
  /** Per-granule 576-line MDCT spectra for one channel: analysis bank,
    * frequency inversion, per-subband MDCT with 18-sample overlap,
    * inverse alias butterflies — everything up to quantization.
    */
  private def channelSpectra(samples: Array[Float], nGranules: Int): Array[Array[Double]] = {
    val steps = nGranules * 18
    val sub = analyze(samples, steps)
    var sb = 1
    while (sb < 32) {
      var t = 1
      while (t < steps) { sub(sb)(t) = -sub(sb)(t); t += 2 }
      sb += 2
    }
    val mdctPrev = Array.ofDim[Double](32, 18)
    Array.tabulate(nGranules) { g =>
      val xr = new Array[Double](576)
      var k = 0
      while (k < 32) {
        val block = new Array[Double](36)
        var i = 0
        while (i < 18) {
          block(i) = mdctPrev(k)(i)
          block(18 + i) = sub(k)(g * 18 + i)
          i += 1
        }
        val lines = mdct36(block)
        System.arraycopy(lines, 0, xr, 18 * k, 18)
        System.arraycopy(block, 18, mdctPrev(k), 0, 18)
        k += 1
      }
      aliasEncode(xr)
      xr
    }
  }

  private def v1Params(sr: Int, bitrateKbps: Int): (Int, Int, Int) = {
    val srIdx = sr match {
      case 44100 => 0
      case 48000 => 1
      case 32000 => 2
      case _ => throw new IllegalArgumentException(s"unsupported MPEG-1 rate $sr")
    }
    val brIdx = BitrateV1.indexOf(bitrateKbps)
    require(brIdx > 0, s"unsupported bitrate $bitrateKbps")
    require(144 * bitrateKbps * 1000 % sr == 0,
      s"bitrate $bitrateKbps not integral at $sr Hz (padding not implemented)")
    (srIdx, brIdx, 144 * bitrateKbps * 1000 / sr)
  }

  /** Encode mono samples as MPEG-1 Layer III CBR. */
  def encode(sr: Int, samples: Array[Float], bitrateKbps: Int = 128,
             forceTable: Option[Int] = None): Array[Byte] = {
    val (srIdx, brIdx, frameBytes) = v1Params(sr, bitrateKbps)
    val nFrames = math.max(1, (samples.length + 1151) / 1152)
    val spectra = channelSpectra(samples, nFrames * 2)
    val mainCap = (frameBytes - 4 - 17) * 8
    val out = new scala.collection.mutable.ArrayBuffer[Byte](nFrames * frameBytes)
    var f = 0
    while (f < nFrames) {
      val granules = Array.tabulate(2, 1)((gr, _) =>
        encodeGranule(spectra(f * 2 + gr), mainCap / 2, forceTable))
      out ++= assembleFrame(version = 3, srIdx, brIdx, frameBytes,
        mode = 3, modeExt = 0, granules)
      f += 1
    }
    out.toArray
  }

  /** Encode a stereo pair as MPEG-1 joint stereo with MID/SIDE coding
    * (mode 1, mode_ext MS): the encoder-side transform m=(l+r)/√2,
    * s=(l−r)/√2 on the MDCT spectra, undone by the decoder's stereo
    * stage — the end-to-end test surface for the MS decode path.
    */
  def encodeStereoMs(sr: Int, left: Array[Float], right: Array[Float],
                     bitrateKbps: Int = 192): Array[Byte] = {
    require(left.length == right.length, "stereo channels must align")
    val (srIdx, brIdx, frameBytes) = v1Params(sr, bitrateKbps)
    val nFrames = math.max(1, (left.length + 1151) / 1152)
    val specL = channelSpectra(left, nFrames * 2)
    val specR = channelSpectra(right, nFrames * 2)
    val inv = 1.0 / math.sqrt(2.0)
    val mainCap = (frameBytes - 4 - 32) * 8
    val out = new scala.collection.mutable.ArrayBuffer[Byte](nFrames * frameBytes)
    var f = 0
    while (f < nFrames) {
      val granules = Array.tabulate(2, 2) { (gr, ch) =>
        val l = specL(f * 2 + gr); val r = specR(f * 2 + gr)
        val xr = Array.tabulate(576)(i =>
          if (ch == 0) (l(i) + r(i)) * inv else (l(i) - r(i)) * inv)
        encodeGranule(xr, mainCap / 4, None)
      }
      out ++= assembleFrame(version = 3, srIdx, brIdx, frameBytes,
        mode = 1, modeExt = 2, granules)
      f += 1
    }
    out.toArray
  }

  /** Encode mono samples as MPEG-2 LSF Layer III CBR (one 576-sample
    * granule per frame, 9-bit scalefac_compress, no preflag field) —
    * the end-to-end test surface for the LSF decode path with real
    * content (the container's LAME LSF sample is digital silence).
    */
  def encodeLsf(sr: Int, samples: Array[Float], bitrateKbps: Int = 64,
                forceTable: Option[Int] = None): Array[Byte] = {
    val srIdx = sr match {
      case 22050 => 0
      case 24000 => 1
      case 16000 => 2
      case _ => throw new IllegalArgumentException(s"unsupported MPEG-2 rate $sr")
    }
    val brIdx = BitrateV2.indexOf(bitrateKbps)
    require(brIdx > 0, s"unsupported bitrate $bitrateKbps")
    require(72 * bitrateKbps * 1000 % sr == 0,
      s"bitrate $bitrateKbps not integral at $sr Hz")
    val frameBytes = 72 * bitrateKbps * 1000 / sr
    val nFrames = math.max(1, (samples.length + 575) / 576)
    val spectra = channelSpectra(samples, nFrames)
    val mainCap = (frameBytes - 4 - 9) * 8
    val out = new scala.collection.mutable.ArrayBuffer[Byte](nFrames * frameBytes)
    var f = 0
    while (f < nFrames) {
      val granules = Array(Array(encodeGranule(spectra(f), mainCap, forceTable)))
      out ++= assembleFrame(version = 2, srIdx, brIdx, frameBytes,
        mode = 3, modeExt = 0, granules)
      f += 1
    }
    out.toArray
  }

  /** Fixture surgery for the Huffman-coverage query: rewrite every
    * frame's six table_select fields (the MPEG-1 mono layout
    * [[encode]] writes: header 32 bits, side 18, then per granule 34
    * bits to the three 5-bit selects, 59 bits/granule) to `tid` —
    * declaring a table the payload was NOT coded with. With a
    * reserved id (4/14) the decoder's table lookup rejects every
    * frame DETERMINISTICALLY, the minted shape of a foreign stream
    * whose codebooks this engine does not carry.
    */
  def declareTables(stream: Array[Byte], frameBytes: Int, tid: Int): Array[Byte] = {
    require(tid >= 0 && tid < 32, s"table id $tid out of field range")
    val out = stream.clone()
    def setBits(bitOff: Int, v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) {
        val b = bitOff + i
        val mask = 1 << (7 - (b & 7))
        val bit = (v >> (n - 1 - i)) & 1
        if (bit == 1) out(b >> 3) = (out(b >> 3) | mask).toByte
        else out(b >> 3) = (out(b >> 3) & ~mask).toByte
        i += 1
      }
    }
    var off = 0
    while (off + frameBytes <= out.length) {
      var gr = 0
      while (gr < 2) {
        var r = 0
        while (r < 3) {
          setBits(off * 8 + 32 + 18 + gr * 59 + 34 + r * 5, tid, 5)
          r += 1
        }
        gr += 1
      }
      off += frameBytes
    }
    out
  }

  /** One frame: header + side info + main data, zero-padded to the CBR
    * size. `granules` is [granule][channel], matching the decoder's
    * side-info and main-data field order for both MPEG-1 and LSF.
    */
  private def assembleFrame(version: Int, srIdx: Int, brIdx: Int, frameBytes: Int,
                            mode: Int, modeExt: Int,
                            granules: Array[Array[EncGranule]]): Array[Byte] = {
    val lsf = version != 3
    val nch = granules(0).length
    val bw = new BitWriter
    // header: sync(11) version(2) layer=01 prot=1
    bw.write(0x7ff, 11); bw.write(version, 2); bw.write(1, 2); bw.write(1, 1)
    bw.write(brIdx, 4); bw.write(srIdx, 2); bw.write(0, 1); bw.write(0, 1)
    bw.write(mode, 2); bw.write(modeExt, 2)
    bw.write(0, 1); bw.write(0, 1); bw.write(0, 2)
    // side info
    bw.write(0, if (lsf) 8 else 9) // main_data_begin: no reservoir
    bw.write(0, if (lsf) { if (nch == 1) 1 else 2 } else { if (nch == 1) 5 else 3 })
    if (!lsf) bw.write(0, 4 * nch) // scfsi: never shared
    granules.foreach(_.foreach { g =>
      bw.write(g.part23Length, 12)
      bw.write(g.bigValues, 9)
      bw.write(g.globalGain, 8)
      bw.write(0, if (lsf) 9 else 4) // scalefac_compress=0 → no scalefactors
      bw.write(0, 1) // no window switching
      // One table for ALL THREE regions makes the region boundaries
      // irrelevant to decode (regions only select the Huffman table), so
      // the 4/3-bit region counts can stay at their legal maxima without
      // any risk of a region decoding with the wrong codebook.
      val t = g.tableId
      bw.write(t, 5); bw.write(t, 5); bw.write(t, 5)
      bw.write(7, 4) // region0_count (legal max for a 4-bit field usage here)
      bw.write(7, 3) // region1_count: 7 fits the 3-bit field (13 would truncate)
      if (!lsf) bw.write(0, 1) // preflag (MPEG-1 only)
      bw.write(0, 1) // scalefac_scale
      bw.write(0, 1) // count1table_select
    })
    // main data in granule-major, channel-minor order
    granules.foreach(_.foreach { g =>
      val src = g.bits.toBytes
      var i = 0
      var left = g.part23Length
      while (left > 0) {
        val take = math.min(8, left)
        bw.write((src(i) & 0xff) >> (8 - take), take)
        i += 1
        left -= take
      }
    })
    bw.padToBytes(frameBytes)
    bw.toBytes
  }
}
