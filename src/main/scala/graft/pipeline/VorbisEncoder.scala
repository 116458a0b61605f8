package graft.pipeline

import VorbisHeaders._

/** Minimal Ogg/Vorbis mono encoder — the fixture-minting dual of
  * [[VorbisAudio]] (the role [[Mp3Encoder]]/FlacAudio's encoder play
  * for their codecs). Vorbis is SELF-DESCRIBING, so the encoder ships
  * its own deliberately simple configuration in the setup header and
  * the decoder needs nothing beyond the spec machinery:
  *
  *  - one mode, blocksize0 = blocksize1 = 256 (symmetric windows only)
  *  - floor1 with ZERO partitions: the two mandatory endpoint values
  *    draw one flat dB line — the floor is a per-block amplitude
  *  - residue type 1 over the whole spectrum: one classification,
  *    5-level scalar quantization {−2..2} via a dim-2 VQ codebook
  *    (complete 25-entry tree), classbook dim 1
  *
  * A pure tone concentrates into few MDCT lines, so the 5-level
  * residue carries it cleanly (roundtrip correlation pinned in
  * VorbisSpec); broadband content is heavily quantized — these are
  * fixtures, not a production encoder.
  */
object VorbisEncoder {

  private val N = 256
  private val N2 = N / 2
  private val PartSize = 8

  // classbook: dim 1, entries 2 (class 0 = silent partition, 1 = coded)
  private val ClassLengths = Array(1, 1)

  /** Complete canonical code lengths for a dim-2 VQ book over a
    * `levels`-ary residue alphabet: with L = ceil(log2(levels²)) bits,
    * `a` entries at L−1 bits and the rest at L bits where
    * a·2 + (n−a) = 2^L (Kraft sums to exactly 1 — Vorbis rejects
    * under-specified decode trees).
    */
  private def valueLengths(levels: Int): Array[Int] = {
    val n = levels * levels
    val lMax = 32 - Integer.numberOfLeadingZeros(n - 1)
    val a = (1 << lMax) - n
    Array.tabulate(n)(i => if (i < a) lMax - 1 else lMax)
  }

  /** Equal-blocksize config: residue alphabet −2..2 (5 levels). The
    * mixed-blocksize config uses 9 levels — the long→short lap region
    * takes one block's quantization noise at full window weight, so the
    * finer alphabet keeps the roundtrip fixture above its gate.
    */
  private val ValueLevels = 5
  private val MixedLevels = 9

  private def headerPackets(sr: Int, mixed: Boolean = false): (Array[Byte], Array[Byte], Array[Byte]) = {
    // identification
    val ib = new BitWriter
    ib.write(1, 8); "vorbis".getBytes.foreach(c => ib.write(c, 8))
    ib.writeLong(0L, 32)
    ib.write(1, 8)
    ib.writeLong(sr.toLong, 32)
    ib.writeLong(0L, 32); ib.writeLong(0L, 32); ib.writeLong(0L, 32)
    ib.write(8, 4); ib.write(if (mixed) 10 else 8, 4) // 256 / (256 or 1024)
    ib.write(1, 1)
    // comment
    val cb = new BitWriter
    cb.write(3, 8); "vorbis".getBytes.foreach(c => cb.write(c, 8))
    val vendor = "graft".getBytes
    cb.writeLong(vendor.length.toLong, 32)
    vendor.foreach(c => cb.write(c, 8))
    cb.writeLong(0L, 32) // no user comments
    cb.write(1, 1)
    // setup
    val sb = new BitWriter
    sb.write(5, 8); "vorbis".getBytes.foreach(c => sb.write(c, 8))
    sb.write(1, 8) // codebook_count - 1 = 1 → 2 books
    val levels = if (mixed) MixedLevels else ValueLevels
    writeCodebook(sb, dim = 1, lengths = ClassLengths) // book 0: classbook
    writeCodebook(sb, dim = 2, lengths = valueLengths(levels), lookupType = 1,
      minVal = -(levels / 2).toDouble, delta = 1.0,
      valueBits = 32 - Integer.numberOfLeadingZeros(levels - 1),
      mults = Array.tabulate(levels)(identity)) // book 1: values
    sb.write(0, 6); sb.write(0, 16) // one time transform, type 0
    sb.write(0, 6) // one floor
    sb.write(1, 16) // floor1
    sb.write(0, 5) // ZERO partitions → only the two endpoint values
    sb.write(0, 2) // multiplier - 1 → 1
    sb.write(7, 4) // rangebits (xList = [0, 128])
    sb.write(0, 6) // one residue
    sb.write(1, 16) // residue type 1
    sb.write(0, 24) // begin
    // end covers the LONG block's n/2 lines in the mixed config; the
    // decoder clamps to the actual block's n/2 (spec: min(end, n/2)),
    // so one residue serves both block sizes
    sb.write(if (mixed) 512 else N2, 24)
    sb.write(PartSize - 1, 24)
    sb.write(1, 6) // classifications - 1 = 1 → 2
    sb.write(0, 8) // classbook = book 0
    sb.write(0, 3); sb.write(0, 1) // class 0 cascade: nothing
    sb.write(1, 3); sb.write(0, 1) // class 1 cascade: pass 0 only
    sb.write(1, 8) // class 1 pass 0 book = book 1
    sb.write(0, 6) // one mapping
    sb.write(0, 16) // type 0
    sb.write(0, 1) // one submap
    sb.write(0, 1) // no coupling
    sb.write(0, 2) // reserved
    sb.write(0, 8); sb.write(0, 8); sb.write(0, 8) // time/floor/residue 0
    if (mixed) {
      sb.write(1, 6) // two modes: 0 = short, 1 = long, same mapping
      sb.write(0, 1); sb.write(0, 16); sb.write(0, 16); sb.write(0, 8)
      sb.write(1, 1); sb.write(0, 16); sb.write(0, 16); sb.write(0, 8)
    } else {
      sb.write(0, 6) // one mode
      sb.write(0, 1) // blockflag 0
      sb.write(0, 16); sb.write(0, 16)
      sb.write(0, 8) // mapping 0
    }
    sb.write(1, 1)
    (ib.toBytes, cb.toBytes, sb.toBytes)
  }

  /** Encode one block's spectrum: flat floor at the quantized peak
    * amplitude, residue = spectrum/floor quantized to {−2..2}.
    */
  private def encodePacket(spec: Array[Double], modeBits: Int = 0, modeVal: Int = 0,
                           longFlags: Option[(Boolean, Boolean)] = None,
                           levels: Int = ValueLevels): Array[Byte] = {
    val half = levels / 2
    val bw = new BitWriter
    bw.write(0, 1) // audio packet
    if (modeBits > 0) bw.write(modeVal, modeBits)
    longFlags.foreach { case (prevLong, nextLong) =>
      // spec window flags: bit SET means that neighbor is long
      bw.write(if (prevLong) 1 else 0, 1)
      bw.write(if (nextLong) 1 else 0, 1)
    }
    val peak = spec.map(math.abs).max
    if (peak == 0.0) {
      bw.write(0, 1) // floor unused → silent channel
      return bw.toBytes
    }
    // floor: flat line at the table amplitude minimizing total squared
    // quantization error under the alphabet clamp (scanning all 256 table
    // entries is cheap and deterministic; the old "smallest amp ≥
    // peak/2" heuristic wasted the ±1 levels on concentrated spectra)
    var yv = 255
    var bestErr = Double.MaxValue
    var y = 0
    while (y < 256) {
      val a = VorbisAudio.InverseDb(y)
      if (a >= peak / half) { // ±half must still reach the peak
        var e = 0.0
        var i = 0
        while (i < spec.length) {
          val qq = math.max(-half, math.min(half, math.round(spec(i) / a).toInt))
          val d = spec(i) - qq * a
          e += d * d
          i += 1
        }
        if (e < bestErr) { bestErr = e; yv = y }
      }
      y += 1
    }
    val amp = VorbisAudio.InverseDb(yv)
    bw.write(1, 1) // floor nonzero
    bw.write(yv, 8) // y0 (range 256 → ilog(255) = 8 bits)
    bw.write(yv, 8) // y1
    // residue type 1: classwords then values
    val q = spec.map(v => math.max(-half, math.min(half, math.round(v / amp).toInt)))
    val partitions = spec.length / PartSize
    val classes = Array.tabulate(partitions)(p =>
      if ((0 until PartSize).exists(i => q(p * PartSize + i) != 0)) 1 else 0)
    val classCodes = assignCodewords(ClassLengths)
    val vLens = valueLengths(levels)
    val valueCodes = assignCodewords(vLens)
    def putCode(code: Int, len: Int): Unit = {
      var k = len - 1
      while (k >= 0) { bw.write((code >> k) & 1, 1); k -= 1 }
    }
    // pass 0: interleaved classword-then-partition structure with
    // classbook dim 1 → one classword immediately before each partition
    var p = 0
    while (p < partitions) {
      putCode(classCodes(classes(p)), ClassLengths(classes(p)))
      if (classes(p) == 1) {
        var s = 0
        while (s < PartSize) {
          // type-1 lookup decodes dim j from (e / levels^j) % levels:
          // dim 0 is the LOW digit, so the second sample takes the high
          val e = (q(p * PartSize + s + 1) + half) * levels + (q(p * PartSize + s) + half)
          putCode(valueCodes(e), vLens(e))
          s += 2
        }
      }
      p += 1
    }
    bw.toBytes
  }

  /** Encode mono samples; returns a complete Ogg/Vorbis stream. */
  def encode(sr: Int, samples: Array[Float]): Array[Byte] = {
    val (ih, ch, sh) = headerPackets(sr)
    val out = new java.io.ByteArrayOutputStream()
    val serial = 0x67726166 // "graf"
    Ogg.writePage(out, headerType = 2, granule = 0L, serial = serial, seq = 0, Seq(ih))
    Ogg.writePage(out, headerType = 0, granule = 0L, serial = serial, seq = 1, Seq(ch, sh))
    val win = VorbisAudio.window(N)
    val nBlocks = math.max(2, (samples.length + N2 - 1) / N2 + 1)
    val packets = Seq.newBuilder[Array[Byte]]
    var b = 0
    while (b < nBlocks) {
      val x = new Array[Double](N)
      var j = 0
      while (j < N) {
        val idx = b * N2 - N2 + j // 50% overlapping blocks
        x(j) = if (idx >= 0 && idx < samples.length) samples(idx) else 0.0
        j += 1
      }
      packets += encodePacket(Mdct.forward(x, win))
      b += 1
    }
    val pkts = packets.result()
    var seq = 2
    var emitted = 0L
    pkts.zipWithIndex.foreach { case (pk, i) =>
      // first audio packet produces no output; granule = PCM emitted
      if (i > 0) emitted += N2
      val last = i == pkts.length - 1
      Ogg.writePage(out, headerType = if (last) 4 else 0,
        granule = emitted, serial = serial, seq = seq, Seq(pk))
      seq += 1
    }
    out.toByteArray
  }

  /** Encode mono samples with MIXED block sizes (256/1024) — the
    * fixture dual for [[VorbisAudio]]'s asymmetric transition windows.
    * The long/short pattern repeats S S L L so every transition kind
    * (S→S, S→L, L→L, L→S) occurs; each long packet carries the spec
    * window flags its decode needs. Block b+1 starts 3·n_b/4 − n_{b+1}/4
    * after block b (centers (n_b+n_{b+1})/4 apart), matching the
    * decoder's center-based overlap-add; analysis windows are the same
    * [[VorbisAudio.windowShaped]] shapes the decoder applies, which is
    * what makes the MDCT cascade TDAC-exact across transitions.
    */
  def encodeMixed(sr: Int, samples: Array[Float]): Array[Byte] = {
    val N1 = 1024
    val (ih, chdr, sh) = headerPackets(sr, mixed = true)
    val out = new java.io.ByteArrayOutputStream()
    val serial = 0x6772616d // "gram"
    Ogg.writePage(out, headerType = 2, granule = 0L, serial = serial, seq = 0, Seq(ih))
    Ogg.writePage(out, headerType = 0, granule = 0L, serial = serial, seq = 1, Seq(chdr, sh))
    def isLong(b: Int): Boolean = (b % 4) >= 2
    // lay out block starts until the emitted region covers the input
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var start = -(if (isLong(0)) N1 else N) / 2 // center of block 0 at sample 0
    var b = 0
    var covered = 0L
    while (covered < samples.length || sizes.length < 6) {
      val n = if (isLong(b)) N1 else N
      sizes += n; starts += start
      if (b > 0) covered += sizes(b - 1) / 4 + n / 4
      start += 3 * n / 4 - (if (isLong(b + 1)) N1 else N) / 4
      b += 1
    }
    val pkts = sizes.indices.map { i =>
      val n = sizes(i)
      val long = isLong(i)
      val win = VorbisAudio.windowShaped(n, N,
        prevShort = long && i > 0 && !isLong(i - 1),
        nextShort = long && !isLong(i + 1))
      val x = new Array[Double](n)
      var j = 0
      while (j < n) {
        val idx = starts(i) + j
        x(j) = if (idx >= 0 && idx < samples.length) samples(idx) else 0.0
        j += 1
      }
      encodePacket(Mdct.forward(x, win), modeBits = 1, modeVal = if (long) 1 else 0,
        longFlags = if (long) Some((isLong(i - 1) && i > 0, isLong(i + 1))) else None,
        levels = MixedLevels)
    }
    var seq = 2
    var emitted = 0L
    pkts.zipWithIndex.foreach { case (pk, i) =>
      if (i > 0) emitted += sizes(i - 1) / 4 + sizes(i) / 4
      val last = i == pkts.length - 1
      Ogg.writePage(out, headerType = if (last) 4 else 0,
        granule = emitted, serial = serial, seq = seq, Seq(pk))
      seq += 1
    }
    out.toByteArray
  }
}
