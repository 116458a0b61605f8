package graft.pipeline

import AacTables._

/** Fixture-minting dual of [[AacAudio]] (same role as [[Mp3Encoder]]
  * for MP3 and [[VorbisEncoder]] for Vorbis): forward MDCT analysis
  * with the exact synthesis windows ([[AacAudio.longWindowHalves]] —
  * TDAC holds because analysis and synthesis share the window), a
  * single-scalefactor x^(3/4) quantizer sized off the global spectral
  * peak, escape-codebook entropy coding with the engine-local
  * [[AacTables]] codebooks, and two container muxes: ADTS frames
  * ([[encode]]) and a minimal single-chunk M4A ([[encodeM4a]]) whose
  * moov satisfies [[AudioProbe]]'s m4a duration walk.
  *
  * Window switching: `shortPeriod` > 0 makes every shortPeriod-th
  * block EIGHT_SHORT (grouped 4+4), with LONG_START/LONG_STOP
  * transitions minted around it — the full four-sequence filterbank
  * path. `tns` applies a fixed order-2 forward FIR on long frames
  * that [[AacAudio]]'s all-pole synthesis inverts. First block is
  * priming (MDCT look-back covers [−1024, 0)); the decoder drops it,
  * so decoded length = ceil(n/1024)·1024 exactly.
  */
object AacEncoder {

  import Bitstream.BitWriter
  import Bytes.putBe32
  import Mp4Probe.box

  private val QMax = 320 // peak target: comfortably inside escape range

  /** TNS fixture filter: order 2, coef_res 0 (3-bit coefs), forward,
    * over the top 4 scalefactor bands of long frames.
    */
  private val TnsCoefs = Array(2, -1)
  private val TnsBands = 4

  private final case class Block(seq: Int, spec: Array[Array[Double]])

  private def analyze(samples: Array[Float], shape: Int,
      shortPeriod: Int): Array[Block] = {
    require(shortPeriod == 0 || shortPeriod >= 3,
      s"shortPeriod must be 0 or >= 3, got $shortPeriod")
    val nBlocks = math.max(1, (samples.length + 1023) / 1024) + 1
    def isShort(b: Int): Boolean =
      shortPeriod > 0 && b > 0 && b < nBlocks - 1 && b % shortPeriod == 0
    def x(i: Int): Double =
      if (i < 0 || i >= samples.length) 0.0 else samples(i)
    Array.tabulate(nBlocks) { b =>
      val base = 1024 * (b - 1)
      val seq =
        if (isShort(b)) 2
        else if (isShort(b + 1)) 1 // LONG_START
        else if (isShort(b - 1)) 3 // LONG_STOP
        else 0
      if (seq == 2) {
        val spec = Array.tabulate(8) { w =>
          val wl = window(shape, 256) // prev of window 0 is a short slope too
          val wr = window(shape, 256)
          val buf = Array.tabulate(256)(j => x(base + 448 + 128 * w + j))
          val win = Array.tabulate(256)(j => if (j < 128) wl(j) else wr(j))
          Mdct.forward(buf, win)
        }
        Block(seq, spec)
      } else {
        val (wl, wr) = AacAudio.longWindowHalves(seq, shape, shape)
        val buf = Array.tabulate(2048)(j => x(base + j))
        val win = Array.tabulate(2048)(j => if (j < 1024) wl(j) else wr(j - 1024))
        Block(seq, Array(Mdct.forward(buf, win)))
      }
    }
  }

  /** Forward TNS FIR over the top bands (inverted by the decoder's
    * all-pole synthesis).
    */
  private def applyTnsForward(spec: Array[Double], maxSfb: Int): Unit = {
    val lpc = AacAudio.tnsLpc(TnsCoefs, coefRes = 0)
    val swb = swbOffset(short = false)
    val lo = swb(math.max(0, maxSfb - TnsBands)); val hi = swb(maxSfb)
    // FIR must run on the ORIGINAL values: walk downward so x[i-j]
    // reads pre-filter samples... a copy keeps it simple and exact
    val src = spec.clone()
    var i = lo
    while (i < hi) {
      var j = 1
      while (j <= lpc.length && i - j >= lo) {
        spec(i) += lpc(j - 1) * src(i - j); j += 1
      }
      i += 1
    }
  }

  /** Global scalefactor from the corpus peak: smallest sf whose
    * quantized peak stays ≤ [[QMax]].
    */
  private def chooseSf(blocks: Array[Block]): Int = {
    var peak = 0.0
    blocks.foreach(_.spec.foreach(_.foreach(v => peak = math.max(peak, math.abs(v)))))
    if (peak == 0.0) return 100
    // |q| = (peak · 2^(−0.25(sf−100)))^(3/4) ≤ QMax ⟺
    // sf ≥ 100 + 4·log2(peak / QMax^(4/3))
    val sf = 100 + 4.0 * (math.log(peak / math.pow(QMax, 4.0 / 3.0)) / math.log(2.0))
    math.max(1, math.min(250, math.ceil(sf).toInt))
  }

  private def quantize(v: Double, sf: Int): Int = {
    val q = math.round(math.signum(v) *
      math.pow(math.abs(v) * math.pow(2.0, -0.25 * (sf - 100)), 0.75)).toInt
    math.max(-8190, math.min(8190, q))
  }

  // ------------------------------------------------- entropy encoding
  private def writeCode(bw: BitWriter, hlen: Array[Int], hcod: Array[Long],
      sym: Int): Unit = bw.write(hcod(sym).toInt, hlen(sym))

  /** Write one magnitude pair through codebook 11 (escape handling +
    * per-value sign bits, in the decoder's exact read order).
    */
  private def writePair(bw: BitWriter, a: Int, b: Int): Unit = {
    val book = SpecBooks(EscapeBook)
    val mags = Array(math.min(math.abs(a), EscapeMag),
      math.min(math.abs(b), EscapeMag))
    writeCode(bw, book.hlen, book.hcod, book.index(mags))
    Array(a, b).foreach { v =>
      val mag = math.abs(v)
      if (mag != 0) {
        if (mag >= EscapeMag) {
          var n = 0
          while ((1 << (n + 5)) <= mag) n += 1 // 2^(n+4) ≤ mag < 2^(n+5)
          var i = 0
          while (i < n) { bw.write(1, 1); i += 1 }
          bw.write(0, 1)
          bw.write(mag - (1 << (n + 4)), n + 4)
        }
        bw.write(if (v < 0) 1 else 0, 1)
      }
    }
  }

  /** Groups for a block: long = [1]; short = grouped 4+4
    * (scale_factor_grouping bits 1110111).
    */
  private def groupsOf(seq: Int): Array[Int] =
    if (seq == 2) Array(4, 4) else Array(1)

  private def maxSfbOf(seq: Int): Int =
    if (seq == 2) numSwb(short = true) else numSwb(short = false)

  /** Encode one block as an SCE raw_data_block payload (no container).
    * `specs` = per-window quantized spectra.
    */
  private def writeSce(bw: BitWriter, seq: Int, shape: Int, sf: Int,
      specs: Array[Array[Int]], tns: Boolean): Unit = {
    bw.write(0, 3) // SCE
    bw.write(0, 4) // element_instance_tag
    bw.write(sf, 8) // global_gain
    val short = seq == 2
    val maxSfb = maxSfbOf(seq)
    val groups = groupsOf(seq)
    // ics_info
    bw.write(0, 1)
    bw.write(seq, 2)
    bw.write(shape, 1)
    if (short) { bw.write(maxSfb, 4); bw.write(0x77, 7) } // 1110111 → 4+4
    else { bw.write(maxSfb, 6); bw.write(0, 1) }
    val swb = swbOffset(short)
    // per-group band activity
    val active = Array.ofDim[Boolean](groups.length, maxSfb)
    var winBase = 0
    groups.indices.foreach { g =>
      (0 until maxSfb).foreach { sfb =>
        var any = false
        (0 until groups(g)).foreach { w =>
          var k = swb(sfb)
          while (k < swb(sfb + 1)) {
            if (specs(winBase + w)(k) != 0) any = true
            k += 1
          }
        }
        active(g)(sfb) = any
      }
      winBase += groups(g)
    }
    // section_data: runs of equal codebook (0 or escape book)
    val lenBits = if (short) 3 else 5
    val esc = (1 << lenBits) - 1
    groups.indices.foreach { g =>
      var k = 0
      while (k < maxSfb) {
        var end = k + 1
        while (end < maxSfb && active(g)(end) == active(g)(k)) end += 1
        bw.write(if (active(g)(k)) EscapeBook else 0, 4)
        var len = end - k
        while (len >= esc) { bw.write(esc, lenBits); len -= esc }
        bw.write(len, lenBits)
        k = end
      }
    }
    // scale_factor_data: dpcm 0 for every active band
    val (sfLen, sfCod) = SfBook
    groups.indices.foreach { g =>
      (0 until maxSfb).foreach { sfb =>
        if (active(g)(sfb)) writeCode(bw, sfLen, sfCod, 60) // dpcm 0
      }
    }
    bw.write(0, 1) // pulse_data_present
    // tns_data_present (+ fixture filter on long frames)
    if (tns && !short) {
      bw.write(1, 1)
      bw.write(1, 2) // n_filt = 1
      bw.write(0, 1) // coef_res = 0 → 3-bit coefs
      bw.write(TnsBands, 6) // length in bands
      bw.write(TnsCoefs.length, 5) // order
      bw.write(0, 1) // direction: forward
      bw.write(0, 1) // coef_compress
      TnsCoefs.foreach(c => bw.write(c & 0x7, 3))
    } else bw.write(0, 1)
    bw.write(0, 1) // gain_control_data_present
    // spectral_data in transmission order: group → sfb → window → bin
    winBase = 0
    groups.indices.foreach { g =>
      (0 until maxSfb).foreach { sfb =>
        if (active(g)(sfb)) {
          (0 until groups(g)).foreach { w =>
            var k = swb(sfb)
            while (k < swb(sfb + 1)) {
              writePair(bw, specs(winBase + w)(k), specs(winBase + w)(k + 1))
              k += 2
            }
          }
        }
      }
      winBase += groups(g)
    }
    bw.write(7, 3) // END
  }

  /** Encode to raw AAC-LC access units (one SCE per block). */
  def encodeRawBlocks(samples: Array[Float], shape: Int = 0,
      shortPeriod: Int = 0, tns: Boolean = false): Array[Array[Byte]] = {
    val blocks = analyze(samples, shape, shortPeriod)
    if (tns) blocks.foreach { b =>
      if (b.seq != 2) applyTnsForward(b.spec(0), maxSfbOf(b.seq))
    }
    val sf = chooseSf(blocks)
    blocks.map { b =>
      val q = b.spec.map(_.map(quantize(_, sf)))
      val bw = new BitWriter
      writeSce(bw, b.seq, shape, sf, q, tns)
      bw.toBytes
    }
  }

  // ------------------------------------------------------- ADTS mux
  /** ADTS stream: 7-byte headers (no CRC), AAC-LC, mono. */
  def encode(sr: Int, samples: Array[Float], shape: Int = 0,
      shortPeriod: Int = 0, tns: Boolean = false): Array[Byte] = {
    val srIdx = adtsRateIndex(sr)
    val out = new java.io.ByteArrayOutputStream()
    encodeRawBlocks(samples, shape, shortPeriod, tns).foreach { payload =>
      writeAdtsFrame(out, srIdx, payload)
    }
    out.toByteArray
  }

  private[graft] def adtsRateIndex(sr: Int): Int = {
    val srIdx = SampleRates.indexOf(sr)
    require(srIdx >= 0, s"no ADTS rate index for $sr")
    srIdx
  }

  /** One ADTS frame: the 7-byte header (MPEG-4, no CRC, AAC-LC, mono,
    * one raw data block) that [[AacAudio.adtsFields]] reads, then
    * `payload`.
    */
  private[graft] def writeAdtsFrame(out: java.io.ByteArrayOutputStream,
      srIdx: Int, payload: Array[Byte]): Unit = {
    val frameLen = 7 + payload.length
    require(frameLen < (1 << 13), "aac: frame too long for ADTS")
    out.write(0xff); out.write(0xf1) // MPEG-4, layer 00, no CRC
    out.write((1 << 6) | (srIdx << 2)) // profile LC, sr index
    out.write((1 << 6) | ((frameLen >> 11) & 0x3)) // chan cfg 1 (mono)
    out.write((frameLen >> 3) & 0xff)
    out.write(((frameLen & 0x7) << 5) | 0x1f) // fullness hi
    out.write(0xfc) // fullness lo + 1 raw data block
    out.write(payload)
  }

  // -------------------------------------------------------- M4A mux
  /** Descriptor with the 1-byte length form (payload < 128 bytes). */
  private def desc(tag: Int, body: Array[Byte]): Array[Byte] = {
    require(body.length < 128, "esds descriptor too long")
    Array(tag.toByte, body.length.toByte) ++ body
  }

  /** Minimal single-chunk M4A: ftyp + mdat + moov (mdat first so the
    * stco chunk offset is known before moov assembly). The moov
    * carries the exact mvhd/mdhd durations [[AudioProbe]]'s m4a walk
    * reads, so probe parity holds for encoder output.
    */
  def encodeM4a(sr: Int, samples: Array[Float], shape: Int = 0,
      shortPeriod: Int = 0, tns: Boolean = false): Array[Byte] = {
    val srIdx = SampleRates.indexOf(sr)
    require(srIdx >= 0, s"no rate index for $sr")
    val units = encodeRawBlocks(samples, shape, shortPeriod, tns)
    val mdatPayload = units.flatten.toArray
    val ftyp = box("ftyp", "M4A ".getBytes("US-ASCII"), putBe32(0),
      "M4A ".getBytes("US-ASCII"))
    val mdat = box("mdat", mdatPayload)
    val chunkOffset = ftyp.length + 8L // first byte of mdat payload
    val durationSamples = units.length.toLong * 1024L
    val asc = { // AudioSpecificConfig: AOT 2, srIdx, chanCfg 1, GA zeros
      val b0 = (2 << 3) | (srIdx >> 1)
      val b1 = ((srIdx & 1) << 7) | (1 << 3)
      Array(b0.toByte, b1.toByte)
    }
    val esds = box("esds", putBe32(0),
      desc(0x03, Array[Byte](0, 1, 0) ++
        desc(0x04, Array[Byte](0x40, 0x15, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
          desc(0x05, asc)) ++
        desc(0x06, Array[Byte](2))))
    val mp4a = {
      val entry = new Array[Byte](28) // reserved(6)+dref(2)+audio fields
      entry(7) = 1 // data_reference_index
      entry(17) = 1 // channelcount = 1 (mono)
      entry(19) = 16 // samplesize = 16
      val srFixed = putBe32(sr.toLong << 16) // 16.16 sample rate
      System.arraycopy(srFixed, 0, entry, 24, 4)
      box("mp4a", entry, esds)
    }
    val stsd = box("stsd", putBe32(0), putBe32(1), mp4a)
    val stts = box("stts", putBe32(0), putBe32(1), putBe32(units.length.toLong),
      putBe32(1024))
    val stsc = box("stsc", putBe32(0), putBe32(1), putBe32(1),
      putBe32(units.length.toLong), putBe32(1))
    val stsz = box("stsz", putBe32(0), putBe32(0), putBe32(units.length.toLong),
      units.flatMap(u => putBe32(u.length.toLong)).toArray)
    val stco = box("stco", putBe32(0), putBe32(1), putBe32(chunkOffset))
    val stbl = box("stbl", stsd, stts, stsc, stsz, stco)
    val dinf = box("dinf", box("dref", putBe32(0), putBe32(1),
      box("url ", putBe32(1))))
    val smhd = box("smhd", putBe32(0), putBe32(0))
    val minf = box("minf", smhd, dinf, stbl)
    val hdlr = box("hdlr", putBe32(0), putBe32(0), "soun".getBytes("US-ASCII"),
      new Array[Byte](13))
    val mdhd = box("mdhd", putBe32(0), putBe32(0), putBe32(0), putBe32(sr.toLong),
      putBe32(durationSamples), putBe32(0))
    val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7), putBe32(0), putBe32(0),
      putBe32(1), putBe32(0), putBe32(durationSamples), new Array[Byte](60))
    val mvhd = box("mvhd", putBe32(0), putBe32(0), putBe32(0), putBe32(sr.toLong),
      putBe32(durationSamples), new Array[Byte](80))
    val moov = box("moov", mvhd,
      box("trak", tkhd, box("mdia", mdhd, hdlr, minf)))
    ftyp ++ mdat ++ moov
  }
}
