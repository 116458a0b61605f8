package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Ogg, VorbisHeaders}
import graft.pipeline.VorbisHeaders._

/** Ogg transport + Vorbis header/codebook layer. */
class VorbisSpec extends AnyFunSuite {

  test("codeword assignment reproduces the specification's worked example") {
    // Vorbis I spec §3.2.1: lengths [2,4,4,4,4,2,3,3] →
    // 00, 0100, 0101, 0110, 0111, 10, 110, 111
    val got = assignCodewords(Array(2, 4, 4, 4, 4, 2, 3, 3))
    assert(got.toSeq == Seq(0x0, 0x4, 0x5, 0x6, 0x7, 0x2, 0x6, 0x7))
  }

  test("assignment is prefix-free and sparse entries are skipped") {
    val lens = Array(1, 0, 3, 3, 3, 0, 3)
    val codes = assignCodewords(lens)
    assert(codes(1) == -1 && codes(5) == -1)
    val used = lens.zip(codes).filter(_._1 > 0)
    for (((la, ca), i) <- used.zipWithIndex; ((lb, cb), j) <- used.zipWithIndex if i != j)
      assert(la >= lb || (ca != (cb >> (lb - la))), s"prefix collision $i/$j")
    // overpopulation fails loudly
    intercept[IllegalStateException](assignCodewords(Array(1, 1, 1)))
  }

  test("LSB-first bit reader/writer round-trip, incl. 32-bit values") {
    val bw = new BitWriter
    bw.write(5, 3); bw.write(0, 1); bw.write(0xabc, 12); bw.writeLong(0xdeadbeefL, 32)
    bw.write(1, 1)
    val br = new BitReader(bw.toBytes)
    assert(br.bits(3) == 5 && br.bits(1) == 0 && br.bits(12) == 0xabc)
    assert(br.bitsLong(32) == 0xdeadbeefL && br.bit() == 1)
  }

  test("float32 pack/unpack round-trips VQ-scale constants") {
    for (v <- Seq(0.0, 1.0, -1.0, 0.25, 4.0, -10.0, 255.0)) {
      val back = float32Unpack(float32Pack(v))
      assert(math.abs(back - v) <= math.abs(v) * 1e-6, s"$v -> $back")
    }
  }

  test("codebook write → read round-trip with scalar and VQ lookups") {
    val bw = new BitWriter
    // scalar book: 8 entries with the spec-example lengths
    writeCodebook(bw, dim = 1, lengths = Array(2, 4, 4, 4, 4, 2, 3, 3))
    // VQ book: dim 2, 16 entries, lookup type 2, values 0..31 via 5 bits
    val mults = Array.tabulate(32)(i => i)
    writeCodebook(bw, dim = 2, lengths = Array.fill(16)(4), lookupType = 2,
      minVal = -4.0, delta = 0.25, valueBits = 5, mults = mults)
    bw.write(1, 1) // trailing framing-style bit to prove alignment
    val br = new BitReader(bw.toBytes)
    val b1 = readCodebook(br)
    assert(b1.dim == 1 && b1.entries == 8 && b1.lookupType == 0)
    assert(b1.codewords.toSeq == Seq(0x0, 0x4, 0x5, 0x6, 0x7, 0x2, 0x6, 0x7))
    val b2 = readCodebook(br)
    assert(b2.dim == 2 && b2.entries == 16 && b2.lookupType == 2)
    // entry e decodes to (minVal + delta·m[2e], minVal + delta·m[2e+1])
    val v3 = b2.vector(3)
    assert(math.abs(v3(0) - (-4.0 + 0.25 * 6)) < 1e-9)
    assert(math.abs(v3(1) - (-4.0 + 0.25 * 7)) < 1e-9)
    assert(br.bit() == 1)
    // Huffman decode agrees with the assignment: encode entry 6's
    // codeword MSB-first and read it back
    val bw2 = new BitWriter
    val (len6, code6) = (b1.lengths(6), b1.codewords(6))
    var k = len6 - 1
    while (k >= 0) { bw2.write((code6 >> k) & 1, 1); k -= 1 }
    assert(b1.decodeEntry(new BitReader(bw2.toBytes)) == 6)
  }

  test("Ogg page write → parse verifies CRC; packets reassemble incl. spanning") {
    val out = new java.io.ByteArrayOutputStream()
    val p1 = Array.tabulate(100)(_.toByte)
    val p2 = Array.tabulate(700)(i => (i * 7).toByte) // spans >2 lacing values
    val p3 = Array.tabulate(255)(i => (i + 1).toByte) // exact-255 boundary
    Ogg.writePage(out, headerType = 2, granule = 0L, serial = 42, seq = 0, Seq(p1))
    Ogg.writePage(out, headerType = 0, granule = 1234L, serial = 42, seq = 1, Seq(p2, p3))
    val bytes = out.toByteArray
    val pages = Ogg.pages(bytes)
    assert(pages.length == 2 && pages.head.isBos && pages(1).granulePos == 1234L)
    val (pkts, granule) = Ogg.packets(bytes)
    assert(granule == 1234L)
    assert(pkts.length == 3)
    assert(pkts(0).sameElements(p1) && pkts(1).sameElements(p2) && pkts(2).sameElements(p3))
    // corrupt one byte: the page fails CRC and is rejected
    val bad = bytes.clone()
    bad(bytes.length - 3) = (bad(bytes.length - 3) ^ 0x55).toByte
    assert(Ogg.pages(bad).length == 1)
  }

  test("Vorbis MDCT/IMDCT TDAC identity under the Vorbis window") {
    import graft.pipeline.{Mdct, VorbisAudio}
    val n = 256
    val win = VorbisAudio.window(n)
    // Princen-Bradley condition of the Vorbis window
    (0 until n / 2).foreach { j =>
      val s = win(j) * win(j) + win(j + n / 2) * win(j + n / 2)
      assert(math.abs(s - 1.0) < 1e-12, s"window PB condition at $j: $s")
    }
    val rnd = new scala.util.Random(13)
    val a = Array.fill(n)(rnd.nextGaussian())
    val b = a.drop(n / 2) ++ Array.fill(n / 2)(rnd.nextGaussian())
    val ya = Mdct.inverse(Mdct.forward(a, win), n).zip(win).map { case (v, w) => v * w }
    val yb = Mdct.inverse(Mdct.forward(b, win), n).zip(win).map { case (v, w) => v * w }
    val rec = Array.tabulate(n / 2)(i => ya(n / 2 + i) + yb(i))
    val err = rec.zip(a.drop(n / 2)).map { case (x, y) => math.abs(x - y) }.max
    assert(err < 1e-9, s"TDAC error $err")
  }

  test("full Ogg/Vorbis roundtrip: tone survives encode → decode, probe agrees") {
    import graft.pipeline.{AudioProbe, VorbisAudio, VorbisEncoder}
    val sr = 16000
    val tone = Array.tabulate(8000)(i =>
      (0.5 * math.sin(2 * math.Pi * 500 * i / sr)).toFloat)
    val ogg = VorbisEncoder.encode(sr, tone)
    val res = VorbisAudio.decode(ogg)
    assert(res.sampleRate == sr && res.channels == 1)
    assert(res.packetsFailed == 0, s"${res.packetsFailed} packets failed")
    val wave = res.samples(0)
    assert(wave.length >= tone.length)
    // correlation at zero lag (the 50%-overlap blocks align exactly)
    var c = 0.0; var e1 = 0.0; var e2 = 0.0
    for (i <- tone.indices) { c += tone(i) * wave(i); e1 += tone(i) * tone(i); e2 += wave(i) * wave(i) }
    val corr = c / math.sqrt(e1 * e2)
    assert(corr > 0.97, s"roundtrip correlation $corr")
    // amplitude preserved within the 5-level residue's quantization
    val ratio = math.sqrt(e2 / e1)
    assert(ratio > 0.7 && ratio < 1.4, s"amplitude ratio $ratio")
    // the S3 probe reads the same container: exact duration from the
    // last granule position
    val p = AudioProbe.probe(ogg)
    assert(p.exists(pr => pr.container == "ogg" && pr.sampleRate == sr && pr.exact))
    // silence encodes to floor-unused packets and decodes silent
    val quiet = VorbisAudio.decode(VorbisEncoder.encode(sr, new Array[Float](2000)))
    assert(quiet.packetsFailed == 0 && quiet.samples(0).forall(_ == 0f))
    // the production seam decodes the same stream and rejects a
    // headers-only stream (no audio packets) instead of returning
    // empty success
    val (psr, pw) = graft.pipeline.WavAudio.decode(ogg)
    assert(psr == sr && pw.length == wave.length)
    val headersOnly = {
      val pages = graft.pipeline.Ogg.pages(ogg)
      java.util.Arrays.copyOfRange(ogg, 0, pages(2).offset)
    }
    intercept[Exception](graft.pipeline.WavAudio.decode(headersOnly))
  }

  test("identification and setup headers parse from hand-built packets") {
    // ident
    val ib = new BitWriter
    ib.write(1, 8); "vorbis".getBytes.foreach(c => ib.write(c, 8))
    ib.writeLong(0L, 32) // version
    ib.write(1, 8) // channels
    ib.writeLong(16000L, 32)
    ib.writeLong(0L, 32); ib.writeLong(0L, 32); ib.writeLong(0L, 32)
    ib.write(8, 4); ib.write(8, 4) // blocksizes 256/256
    ib.write(1, 1)
    val ident = readIdent(ib.toBytes)
    assert(ident == Ident(1, 16000, 256, 256))

    // setup: 1 scalar codebook, 1 floor1, 1 residue type 2, 1 mapping, 1 mode
    val sb = new BitWriter
    sb.write(5, 8); "vorbis".getBytes.foreach(c => sb.write(c, 8))
    sb.write(0, 8) // codebook_count - 1
    writeCodebook(sb, dim = 1, lengths = Array.fill(4)(2))
    sb.write(0, 6) // time count - 1
    sb.write(0, 16) // time transform 0
    sb.write(0, 6) // floor count - 1
    sb.write(1, 16) // floor type 1
    sb.write(1, 5) // partitions
    sb.write(0, 4) // partition class 0
    sb.write(0, 3) // class dim - 1 = 0 -> 1
    sb.write(0, 2) // subclasses = 0
    sb.write(1, 8) // subclass book (0 -> -1 sentinel... 1-1=0)
    sb.write(1, 2) // multiplier - 1
    sb.write(4, 4) // rangebits
    sb.write(7, 4) // one X value
    sb.write(0, 6) // residue count - 1
    sb.write(2, 16) // residue type 2
    sb.write(0, 24); sb.write(4, 24) // begin/end
    sb.write(3, 24) // partition size - 1
    sb.write(0, 6) // classifications - 1
    sb.write(0, 8) // classbook
    sb.write(1, 3); sb.write(0, 1) // cascade for class 0: low=1, no high
    sb.write(0, 8) // book for pass 0
    sb.write(0, 6) // mapping count - 1
    sb.write(0, 16) // mapping type 0
    sb.write(0, 1) // no submaps flag
    sb.write(0, 1) // no coupling
    sb.write(0, 2) // reserved
    sb.write(0, 8); sb.write(0, 8); sb.write(0, 8) // time/floor/residue for submap 0
    sb.write(0, 6) // mode count - 1
    sb.write(0, 1) // blockflag
    sb.write(0, 16); sb.write(0, 16) // window/transform
    sb.write(0, 8) // mapping
    sb.write(1, 1) // framing
    val setup = readSetup(sb.toBytes, channels = 1)
    assert(setup.codebooks.length == 1 && setup.codebooks(0).entries == 4)
    assert(setup.floorTypes.toSeq == Seq(1))
    assert(setup.floors(0).multiplier == 2 && setup.floors(0).xList.toSeq == Seq(0, 16, 7))
    assert(setup.residues(0).resType == 2 && setup.residues(0).partitionSize == 4)
    assert(setup.residues(0).books(0).toSeq.take(1) == Seq(0))
    assert(setup.mappings(0).submaps == 1 && setup.modes(0).mapping == 0)
  }

  test("asymmetric transition windows reconstruct exactly across all four transition kinds") {
    import graft.pipeline.{Mdct, VorbisAudio}
    val n0 = 256; val n1 = 1024
    def isLong(b: Int) = (b % 4) >= 2 // S S L L: exercises S-S, S-L, L-L, L-S
    val rnd = new scala.util.Random(7)
    val total = 6000
    val sig = Array.fill(total + 2 * n1)(rnd.nextGaussian())
    // block layout exactly as encodeMixed/decode: centers (n_b+n_{b+1})/4 apart
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var start = -(if (isLong(0)) n1 else n0) / 2 // center of block 0 at sample 0
    var covered = 0; var b = 0
    while (covered < total || sizes.length < 8) {
      val n = if (isLong(b)) n1 else n0
      sizes += n; starts += start
      if (b > 0) covered += sizes(b - 1) / 4 + n / 4
      start += 3 * n / 4 - (if (isLong(b + 1)) n1 else n0) / 4
      b += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    var prevTail: Array[Double] = null; var prevN = 0
    sizes.indices.foreach { i =>
      val n = sizes(i); val long = isLong(i)
      val win = VorbisAudio.windowShaped(n, n0,
        prevShort = long && i > 0 && !isLong(i - 1),
        nextShort = long && !isLong(i + 1))
      val x = Array.tabulate(n) { j =>
        val idx = starts(i) + j
        if (idx >= 0 && idx < sig.length) sig(idx) else 0.0
      }
      val y = Mdct.inverse(Mdct.forward(x, win), n)
        .zip(win).map { case (v, w) => v * w }
      if (prevTail != null) {
        val outLen = prevN / 4 + n / 4
        val curOff = 3 * prevN / 4 - n / 4
        (prevN / 2 until prevN / 2 + outLen).foreach { t =>
          val a = if (t < prevN) prevTail(t - prevN / 2) else 0.0
          val ci = t - curOff
          out += a + (if (ci >= 0) y(ci) else 0.0)
        }
      }
      prevTail = y.drop(n / 2); prevN = n
    }
    // emitted sample k is signal sample k (block-0 center sits at 0):
    // the MDCT alias partners of every flat-1 region fall in a zero
    // region, and the repositioned slopes stay power-complementary, so
    // reconstruction must be exact to rounding
    val err = (0 until total).map(k => math.abs(out(k) - sig(k))).max
    assert(err < 1e-9, s"mixed-blocksize TDAC error $err")
  }

  test("mixed-blocksize Ogg/Vorbis roundtrip through encodeMixed and the production seam") {
    import graft.pipeline.{AudioProbe, VorbisAudio, VorbisEncoder}
    val sr = 16000
    val tone = Array.tabulate(9000)(i =>
      (0.5 * math.sin(2 * math.Pi * 500 * i / sr)).toFloat)
    val ogg = VorbisEncoder.encodeMixed(sr, tone)
    val res = VorbisAudio.decode(ogg)
    assert(res.sampleRate == sr && res.channels == 1)
    assert(res.packetsFailed == 0, s"${res.packetsFailed} packets failed")
    val wave = res.samples(0)
    assert(wave.length >= tone.length)
    var c = 0.0; var e1 = 0.0; var e2 = 0.0
    for (i <- tone.indices) { c += tone(i) * wave(i); e1 += tone(i) * tone(i); e2 += wave(i) * wave(i) }
    val corr = c / math.sqrt(e1 * e2)
    assert(corr > 0.97, s"mixed roundtrip correlation $corr")
    val ratio = math.sqrt(e2 / e1)
    assert(ratio > 0.7 && ratio < 1.4, s"amplitude ratio $ratio")
    // probe: exact duration from the final granulepos
    val p = AudioProbe.probe(ogg)
    assert(p.exists(pr => pr.container == "ogg" && pr.sampleRate == sr && pr.exact))
    // production seam decodes the same stream
    val (psr, pw) = graft.pipeline.WavAudio.decode(ogg)
    assert(psr == sr && pw.length == wave.length)
  }
}
