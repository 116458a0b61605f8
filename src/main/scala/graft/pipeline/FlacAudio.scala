package graft.pipeline

import java.io.ByteArrayOutputStream
import java.security.MessageDigest

import Bitstream.{BitReader, BitWriter}

/** S2 — pure-JVM FLAC decode from the public container spec (RFC 9639):
  * CONSTANT / VERBATIM / FIXED order 0–4 / LPC order 1–32 subframes
  * with Rice-coded residuals (both 4- and 5-bit parameter widths,
  * escape partitions), all stereo decorrelation modes (independent,
  * left/side, right/side, mid/side), wasted-bits, and frame
  * CRC-8/CRC-16 verification — the complete subframe surface real
  * encoders emit. Anything outside it (reserved codes, corrupt frames)
  * throws → the S10 failed-status path, exactly like any other
  * undecodable payload; a stream that ends mid-frame throws the shared
  * reader's end-of-stream `IllegalStateException` ([[Bitstream]]).
  * Reference call sites that read FLAC:
  * `modules/separation_filter.py:101` (librosa load),
  * `modules/models/utils.py:11-16` (format glob).
  *
  * The [[encode]] dual (mono 16-bit, CONSTANT/FIXED-order-2 subframes,
  * single-partition Rice residuals, correct CRCs and STREAMINFO MD5) is
  * the test-fixture generator: decode(encode(x)) == x bit-exactly, and
  * the decoded stream's MD5 must equal the STREAMINFO golden checksum.
  */
object FlacAudio {

  // ---------------------------------------------------------------- CRC

  /** The CRC of the one byte `b`, MSB first, through the `width`-bit
    * polynomial `poly`: the entry for `b` of a byte-at-a-time table.
    */
  private def crcOfByte(b: Int, width: Int, poly: Int): Int = {
    val top = 1 << (width - 1)
    val mask = (1 << width) - 1
    var crc = b << (width - 8)
    var i = 0
    while (i < 8) {
      crc = if ((crc & top) != 0) ((crc << 1) ^ poly) & mask else (crc << 1) & mask
      i += 1
    }
    crc
  }

  private val Crc8Table: Array[Int] = Array.tabulate(256)(crcOfByte(_, 8, 0x07))
  private val Crc16Table: Array[Int] = Array.tabulate(256)(crcOfByte(_, 16, 0x8005))

  /** CRC-8, polynomial 0x07, init 0 — frame-header checksum. */
  private[graft] def crc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc = Crc8Table((crc ^ bytes(i)) & 0xff)
      i += 1
    }
    crc
  }

  /** CRC-16, polynomial 0x8005, init 0 — whole-frame checksum. */
  private[graft] def crc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc = ((crc << 8) ^ Crc16Table(((crc >> 8) ^ bytes(i)) & 0xff)) & 0xffff
      i += 1
    }
    crc
  }

  // ------------------------------------------------------------- tables

  /** Fixed-predictor coefficients for orders 0–4 (spec §9.2.5):
    * prediction of s[i] from s[i−1..i−order].
    */
  private def predictFixed(order: Int, s: Array[Long], i: Int): Long = order match {
    case 0 => 0L
    case 1 => s(i - 1)
    case 2 => 2 * s(i - 1) - s(i - 2)
    case 3 => 3 * s(i - 1) - 3 * s(i - 2) + s(i - 3)
    case 4 => 4 * s(i - 1) - 6 * s(i - 2) + 4 * s(i - 3) - s(i - 4)
    case _ => throw new IllegalArgumentException(s"fixed order $order")
  }

  private val SampleRates = Array(0, 88200, 176400, 192000, 8000, 16000,
    22050, 24000, 32000, 44100, 48000, 96000)

  // ------------------------------------------------------------- decode

  /** A metadata block header (spec §8.1): 1 byte, the last-block flag
    * in bit 7 and the block type in bits 0-6, then the body length in 24
    * bits, big-endian.
    */
  private[graft] final case class BlockHeader(last: Boolean, blockType: Int, length: Int)

  /** The one block-header reader of the decoder, the S3 probe and
    * [[AudioMeta]]; the writer is [[blockHeader]].
    */
  private[graft] def readBlockHeader(r: BitReader): BlockHeader = {
    val last = r.bit() == 1
    val tpe = r.readBits(7).toInt
    BlockHeader(last, tpe, r.readBits(24).toInt)
  }

  private[graft] def blockHeader(last: Boolean, blockType: Int, length: Int): Array[Byte] =
    Array(((if (last) 0x80 else 0) | blockType).toByte, (length >> 16).toByte,
      (length >> 8).toByte, length.toByte)

  private[graft] final case class StreamInfo(sampleRate: Int, channels: Int,
      bps: Int, totalSamples: Long, md5: Array[Byte])

  /** The STREAMINFO body (spec §8.2), read from the block's first byte. */
  private[graft] def parseStreamInfo(r: BitReader): StreamInfo = {
    r.readBits(16); r.readBits(16) // min/max blocksize
    r.readBits(24); r.readBits(24) // min/max framesize
    val sr = r.readBits(20).toInt
    val ch = r.readBits(3).toInt + 1
    val bps = r.readBits(5).toInt + 1
    val total = r.readBits(36)
    val md5 = new Array[Byte](16)
    var i = 0
    while (i < 16) { md5(i) = r.readBits(8).toByte; i += 1 }
    StreamInfo(sr, ch, bps, total, md5)
  }

  /** UTF-8-style coded frame/sample number (spec §9.1.5). */
  private def readCodedNumber(r: BitReader): Long = {
    val b0 = r.readBits(8).toInt
    var lead = 0
    while (lead < 8 && ((b0 << lead) & 0x80) != 0) lead += 1
    if (lead == 0) b0.toLong
    else {
      require(lead >= 2 && lead <= 7, s"bad coded-number lead byte $b0")
      var v = (b0 & (0x7f >> lead)).toLong
      var i = 1
      while (i < lead) {
        val c = r.readBits(8).toInt
        require((c & 0xc0) == 0x80, "bad coded-number continuation")
        v = (v << 6) | (c & 0x3f)
        i += 1
      }
      v
    }
  }

  /** One subframe → `n` samples at `bps` bits, into `out[0, n)`. */
  private def readSubframe(r: BitReader, n: Int, bps: Int, out: Array[Long]): Unit = {
    require(r.bit() == 0, "subframe padding bit != 0")
    val tpe = r.readBits(6).toInt
    val wastedFlag = r.bit()
    val wasted = if (wastedFlag == 1) r.readUnary() + 1 else 0
    val eff = bps - wasted
    tpe match {
      case 0 => // CONSTANT
        val v = r.readSigned(eff)
        java.util.Arrays.fill(out, 0, n, v)
      case 1 => // VERBATIM
        var i = 0
        while (i < n) { out(i) = r.readSigned(eff); i += 1 }
      case t if t >= 8 && t <= 12 => // FIXED, order 0-4
        val order = t - 8
        var i = 0
        while (i < order) { out(i) = r.readSigned(eff); i += 1 }
        readResidual(r, n, order, out)
        i = order
        while (i < n) { out(i) += predictFixed(order, out, i); i += 1 }
      case t if t >= 32 => // LPC, order 1-32 (spec §9.2.6)
        val order = (t & 31) + 1
        var i = 0
        while (i < order) { out(i) = r.readSigned(eff); i += 1 }
        val precision = r.readBits(4).toInt + 1
        require(precision <= 15, "invalid qlp coefficient precision 0b1111")
        val shift = r.readSigned(5).toInt
        require(shift >= 0, s"negative LPC shift $shift")
        val coefs = Array.fill(order)(r.readSigned(precision))
        readResidual(r, n, order, out)
        i = order
        while (i < n) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j) * out(i - 1 - j); j += 1 }
          out(i) += acc >> shift // arithmetic shift per spec
          i += 1
        }
      case t =>
        throw new IllegalArgumentException(s"reserved subframe type $t")
    }
    if (wasted > 0) {
      var i = 0
      while (i < n) { out(i) <<= wasted; i += 1 }
    }
  }

  /** Rice-coded residual (spec §9.2.7), written into `out[order..n)`. */
  private def readResidual(r: BitReader, n: Int, order: Int, out: Array[Long]): Unit = {
    val method = r.readBits(2).toInt
    require(method <= 1, s"reserved residual method $method")
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val po = r.readBits(4).toInt
    val nPart = 1 << po
    require(n % nPart == 0, s"blocksize $n not divisible into $nPart partitions")
    var idx = order
    var p = 0
    while (p < nPart) {
      val cnt = (n >> po) - (if (p == 0) order else 0)
      val param = r.readBits(pBits).toInt
      if (param == escape) {
        val raw = r.readBits(5).toInt
        var i = 0
        while (i < cnt) { out(idx) = if (raw == 0) 0L else r.readSigned(raw); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < cnt) {
          val q = r.readUnary()
          val v = (q.toLong << param) | r.readBits(param)
          out(idx) = (v >>> 1) ^ -(v & 1L) // zigzag
          idx += 1; i += 1
        }
      }
      p += 1
    }
  }

  /** Decode a FLAC container to (sampleRate, mono float samples in
    * [−1, 1]); multi-channel is averaged to mono (the reference loads
    * `mono=True`). Throws on anything outside the supported subset —
    * callers route that to S10.
    */
  def decode(bytes: Array[Byte]): (Int, Array[Float]) = {
    require(bytes.length > 42 && bytes.startsWith("fLaC".getBytes), "not a FLAC stream")
    val r = new BitReader(bytes, 32L, bytes.length * 8L)
    // metadata blocks: first MUST be STREAMINFO
    var last = false
    var info: StreamInfo = null
    var first = true
    while (!last) {
      val h = readBlockHeader(r)
      last = h.last
      if (first) {
        require(h.blockType == 0, s"first metadata block type ${h.blockType} != STREAMINFO")
        info = parseStreamInfo(r)
        first = false
      } else r.pos += h.length.toLong * 8
    }
    val nCh = info.channels
    val acc = Array.ofDim[Float](
      if (info.totalSamples > 0) info.totalSamples.toInt else 0)
    val dyn = if (info.totalSamples > 0) null else new PcmBuffer
    // per channel, the current frame's samples, reused while the block
    // size holds
    var chans = Array.fill(nCh)(new Array[Long](0))
    var got = 0L
    while ((info.totalSamples > 0 && got < info.totalSamples) ||
        (info.totalSamples == 0 && r.remaining >= 16)) {
      val frameStart = r.bytePos
      require(r.atByteBoundary, "frame not byte-aligned")
      val sync = r.readBits(14).toInt
      require(sync == 0x3ffe, f"bad frame sync $sync%x at byte $frameStart")
      require(r.bit() == 0, "reserved bit != 0")
      r.bit() // blocking strategy
      val bsCode = r.readBits(4).toInt
      val srCode = r.readBits(4).toInt
      val chCode = r.readBits(4).toInt
      val bpsCode = r.readBits(3).toInt
      require(r.bit() == 0, "reserved bit != 0")
      readCodedNumber(r)
      val blockSize = bsCode match {
        case 0 => throw new IllegalArgumentException("reserved blocksize code 0")
        case 1 => 192
        case c if c >= 2 && c <= 5 => 576 << (c - 2)
        case 6 => r.readBits(8).toInt + 1
        case 7 => r.readBits(16).toInt + 1
        case c => 256 << (c - 8)
      }
      val sr = srCode match {
        case 0 => info.sampleRate
        case c if c <= 11 => SampleRates(c)
        case 12 => r.readBits(8).toInt * 1000
        case 13 => r.readBits(16).toInt
        case 14 => r.readBits(16).toInt * 10
        case _ => throw new IllegalArgumentException("invalid sample-rate code")
      }
      require(sr == info.sampleRate, "frame sample rate != STREAMINFO")
      val bps = bpsCode match {
        case 0 => info.bps
        case 1 => 8
        case 2 => 12
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case 7 => 32
        case c => throw new IllegalArgumentException(s"reserved bps code $c")
      }
      val hdrCrc = crc8(bytes, frameStart, r.bytePos)
      require(r.readBits(8).toInt == hdrCrc, "frame header CRC-8 mismatch")
      // subframes, decorrelated in place; the buffers stay exactly one
      // block long, so an index past the block fails as it always has
      if (chans(0).length != blockSize) chans = Array.fill(nCh)(new Array[Long](blockSize))
      chCode match {
        case c if c <= 7 =>
          require(c + 1 == nCh, "frame channel count != STREAMINFO")
          var k = 0
          while (k < nCh) { readSubframe(r, blockSize, bps, chans(k)); k += 1 }
        case 8 => // left/side
          require(nCh == 2, s"stereo-decorrelated frame in a $nCh-channel stream")
          val l = chans(0); val s = chans(1)
          readSubframe(r, blockSize, bps, l)
          readSubframe(r, blockSize, bps + 1, s)
          var i = 0
          while (i < blockSize) { s(i) = l(i) - s(i); i += 1 }
        case 9 => // right/side
          require(nCh == 2, s"stereo-decorrelated frame in a $nCh-channel stream")
          val s = chans(0); val rr = chans(1)
          readSubframe(r, blockSize, bps + 1, s)
          readSubframe(r, blockSize, bps, rr)
          var i = 0
          while (i < blockSize) { s(i) = rr(i) + s(i); i += 1 }
        case 10 => // mid/side
          require(nCh == 2, s"stereo-decorrelated frame in a $nCh-channel stream")
          val m = chans(0); val s = chans(1)
          readSubframe(r, blockSize, bps, m)
          readSubframe(r, blockSize, bps + 1, s)
          var i = 0
          while (i < blockSize) {
            val side = s(i)
            val mm = (m(i) << 1) | (side & 1)
            m(i) = (mm + side) >> 1
            s(i) = (mm - side) >> 1
            i += 1
          }
        case c => throw new IllegalArgumentException(s"reserved channel code $c")
      }
      r.alignToByte()
      val frameCrc = crc16(bytes, frameStart, r.bytePos)
      require(r.readBits(16).toInt == frameCrc, "frame CRC-16 mismatch")
      // average to mono, normalize
      val scale = (1L << (bps - 1)).toFloat * chans.length
      var i = 0
      while (i < blockSize) {
        var s = 0L
        var c = 0
        while (c < chans.length) { s += chans(c)(i); c += 1 }
        val v = s / scale
        if (dyn == null) {
          if (got + i < acc.length) acc((got + i).toInt) = v
        } else dyn += v
        i += 1
      }
      got += blockSize
    }
    (info.sampleRate, if (dyn == null) acc else dyn.result)
  }

  // ------------------------------------------------------------- encode

  /** Encode mono 16-bit samples: fixed 4096-sample blocks, CONSTANT
    * subframes for flat blocks, FIXED order-2 + single-partition Rice
    * otherwise — or, with `lpc = true`, quantized-LPC order-2 subframes
    * (coefs [3, −1], shift 1) exercising the spec's §9.2.6 coefficient/
    * shift arithmetic end-to-end. Correct CRC-8/CRC-16 and STREAMINFO
    * MD5 — the golden checksum [[decode]] is tested against.
    */
  def encode(sr: Int, samples: Array[Float], blockSize: Int = 4096,
             lpc: Boolean = false): Array[Byte] = {
    val pcm = samples.map { x =>
      val c = math.max(-1f, math.min(1f, x))
      math.round(c * 32767f).toLong
    }
    val md = MessageDigest.getInstance("MD5")
    pcm.foreach { s =>
      md.update((s & 0xff).toByte); md.update(((s >> 8) & 0xff).toByte)
    }
    val out = new ByteArrayOutputStream()
    out.write("fLaC".getBytes)
    out.write(blockHeader(last = true, blockType = 0, length = 34))
    val si = new BitWriter
    si.write(blockSize, 16); si.write(blockSize, 16)
    si.write(0, 24); si.write(0, 24)
    si.write(sr, 20); si.write(0, 3) /* 1 ch */
    si.write(15, 5) /* bps 16 */
    si.write(pcm.length.toLong, 36)
    md.digest().foreach(b => si.write(b & 0xffL, 8))
    out.write(si.toBytes)

    var frameNo = 0L
    var off = 0
    while (off < pcm.length || (pcm.length == 0 && frameNo == 0)) {
      val n = math.min(blockSize, pcm.length - off)
      if (n <= 0) return out.toByteArray
      val blk = java.util.Arrays.copyOfRange(pcm, off, off + n)
      val w = new BitWriter
      w.write(0x3ffe, 14) // sync
      w.write(0, 1); w.write(0, 1) // reserved, fixed blocksize
      w.write(7, 4) // blocksize: 16-bit at end
      w.write(0, 4) // sample rate: STREAMINFO
      w.write(0, 4) // 1 channel
      w.write(4, 3) // bps 16
      w.write(0, 1)
      writeCodedNumber(w, frameNo)
      w.write(n - 1L, 16)
      val hdr = w.toBytes
      val w2 = new BitWriter
      hdr.foreach(b => w2.write(b & 0xffL, 8))
      w2.write(crc8(hdr, 0, hdr.length).toLong, 8)
      writeSubframe(w2, blk, lpc)
      val body = w2.toBytes
      out.write(body)
      val fcrc = crc16(body, 0, body.length)
      out.write((fcrc >> 8) & 0xff); out.write(fcrc & 0xff)
      off += n
      frameNo += 1
    }
    out.toByteArray
  }

  private def writeCodedNumber(w: BitWriter, v: Long): Unit =
    if (v < 0x80) w.write(v, 8)
    else {
      // lead byte with k leading 1s + (k−1) continuation bytes of 6 bits
      var k = 2
      while (k <= 7 && v >= (1L << (6 * (k - 1) + (7 - k)))) k += 1
      val headBits = 7 - k
      w.write((0xff << (8 - k)) & 0xff | ((v >> (6 * (k - 1))) & ((1 << headBits) - 1)), 8)
      var i = k - 2
      while (i >= 0) {
        w.write(0x80L | ((v >> (6 * i)) & 0x3f), 8)
        i -= 1
      }
    }

  private def writeSubframe(w: BitWriter, blk: Array[Long],
                            lpc: Boolean = false): Unit = {
    val n = blk.length
    val constant = blk.forall(_ == blk(0))
    if (constant) {
      w.write(0, 1); w.write(0, 6); w.write(0, 1)
      w.write(blk(0) & 0xffff, 16)
      return
    }
    val order = math.min(2, n - 1)
    val useLpc = lpc && order == 2
    // header: 1 pad bit, 6 type bits, 1 wasted-bits flag. LPC order 2:
    // coefs [3, -1] at precision 5, shift 1 — pred = (3·s[i−1] − s[i−2]) >> 1
    w.write(0, 1)
    w.write(if (useLpc) 32 + (order - 1) else 8 + order, 6)
    w.write(0, 1)
    var i = 0
    while (i < order) { w.write(blk(i) & 0xffff, 16); i += 1 }
    if (useLpc) {
      w.write(4, 4)  // precision − 1
      w.write(1, 5)  // shift
      w.write(3L & 0x1f, 5); w.write(-1L & 0x1f, 5)
    }
    def predict(idx: Int): Long =
      if (useLpc) (3 * blk(idx - 1) - blk(idx - 2)) >> 1
      else predictFixed(order, blk, idx)
    val res = new Array[Long](n - order)
    i = order
    while (i < n) { res(i - order) = blk(i) - predict(i); i += 1 }
    // zigzag + single-partition Rice with a mean-based parameter
    val zig = res.map(v => (v << 1) ^ (v >> 63))
    val mean = if (zig.isEmpty) 0L else zig.sum / math.max(1, zig.length)
    var param = 0
    while (param < 14 && (1L << (param + 1)) < mean + 1) param += 1
    w.write(0, 2) // 4-bit Rice
    w.write(0, 4) // partition order 0
    w.write(param.toLong, 4)
    zig.foreach { v =>
      val q = v >>> param
      require(q < (1L << 24), "rice quotient blow-up") // cannot happen at 16-bit order-2
      var j = 0L
      while (j < q) { w.write(0, 1); j += 1 }
      w.write(1, 1)
      w.write(v & ((1L << param) - 1), param)
    }
  }
}
