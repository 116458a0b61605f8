package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{AudioProbe, Bitstream, Mp3Audio, Mp3Encoder, Mp3Tables, WavAudio}

/** Pure-JVM MPEG Layer III codec: structural table proofs, stagewise
  * identities, full roundtrips, and a real foreign-encoder stream.
  */
class Mp3Spec extends AnyFunSuite {

  test("every Huffman codebook is a complete prefix code (Kraft = 1, no collisions)") {
    val errs = Mp3Tables.validate()
    assert(errs.isEmpty, errs.mkString("\n"))
  }

  test("Huffman write/read is identity for every table over its full domain incl. escapes") {
    val usable = (1 to 31).filterNot(id => id == 4 || id == 14)
    usable.foreach { tid =>
      val tab = Mp3Tables.bigTable(tid).get
      val maxDirect = tab.maxVal
      val esc = if (tab.linbits > 0) (1 << tab.linbits) - 1 else 0
      // full direct grid with sign variation + escape corners
      val vals = scala.collection.mutable.ArrayBuffer[Int]()
      for (x <- 0 to maxDirect; y <- 0 to maxDirect) {
        vals += (if ((x + y) % 2 == 0) x else -x)
        vals += (if ((x * 3 + y) % 3 == 0) -y else y)
      }
      if (esc > 0) vals ++= Seq(15 + esc, -(15 + esc), 15 + 1, -(15 + esc / 2), 16, 0)
      if (vals.length % 2 == 1) vals += 0
      val bw = new Bitstream.BitWriter
      var i = 0
      while (i < vals.length) { Mp3Encoder.writePair(bw, tid, vals(i), vals(i + 1)); i += 2 }
      val nbits = bw.bitLength
      val bytes = bw.toBytes
      val g = Mp3Audio.GranuleInfo(nbits, vals.length / 2, 210, 0, windowSwitching = false,
        0, false, Array(tid, tid, tid), Array(0, 0, 0), 20, 0, 0, 0, 0)
      val h = Mp3Audio.parseHeader(Array[Byte](0xff.toByte, 0xfb.toByte, 0x58, 0xc0.toByte), 0).get
      val br = new Bitstream.BitReader(bytes, 0, bytes.length * 8)
      val (is, n) = Mp3Audio.readSpectrum(br, g, h, nbits)
      assert(n >= vals.length, s"table $tid: read $n of ${vals.length}")
      assert(is.take(vals.length).sameElements(vals), s"table $tid roundtrip mismatch")
    }
  }

  test("count1 quad write/read is identity for both tables") {
    for (c1t <- Seq(0, 1)) {
      val trie = Mp3Tables.count1Tries(c1t)
      val (hlen, hcod) = if (c1t == 0) Mp3Tables.Count1A else Mp3Tables.Count1B
      for (v <- 0 until 16) {
        val bw = new Bitstream.BitWriter
        bw.write(hcod(v), hlen(v))
        val bytes = bw.toBytes
        val br = new Bitstream.BitReader(bytes, 0, bytes.length * 8)
        val got = trie.decode(() => br.bit())
        val len = br.pos
        assert(got == v && len == hlen(v), s"count1 table $c1t value $v")
      }
    }
  }

  test("MDCT/IMDCT long-window TDAC identity under overlap-add") {
    val rnd = new scala.util.Random(3)
    val s1 = Array.fill(36)(rnd.nextGaussian())
    val s2 = Array.fill(36)(rnd.nextGaussian())
    val blockA = s1
    val blockB = s1.drop(18) ++ s2.take(18)
    val xa = Mp3Audio.imdctBlock(Mp3Encoder.mdct36(blockA), 0, 0, isShort = false)
    val xb = Mp3Audio.imdctBlock(Mp3Encoder.mdct36(blockB), 0, 0, isShort = false)
    val rec = Array.tabulate(18)(i => xa(18 + i) + xb(i))
    val err = rec.zip(blockA.drop(18)).map { case (a, b) => math.abs(a - b) }.max
    assert(err < 1e-10, s"TDAC error $err")
  }

  test("alias encode/decode butterflies are mutually inverse") {
    val rnd = new scala.util.Random(5)
    val xr = Array.fill(576)(rnd.nextGaussian())
    val xr2 = xr.clone()
    Mp3Encoder.aliasEncode(xr2)
    val g = Mp3Audio.GranuleInfo(0, 0, 210, 0, false, 0, false,
      Array(0, 0, 0), Array(0, 0, 0), 7, 13, 0, 0, 0)
    Mp3Audio.aliasReduce(xr2, g)
    assert(xr.zip(xr2).map { case (a, b) => math.abs(a - b) }.max < 1e-12)
  }

  test("polyphase analysis+synthesis cascade reconstructs at > 40 dB SNR, unity gain") {
    val n = 4096
    val rnd = new scala.util.Random(7)
    val x = Array.tabulate(n)(_ => rnd.nextGaussian().toFloat)
    val steps = n / 32
    val sub = Mp3Encoder.analyze(x, steps)
    val synth = new Mp3Audio.Synth
    val rec = new Array[Double](n)
    for (t <- 0 until steps) {
      val block = synth.step(sub, t)
      System.arraycopy(block, 0, rec, 32 * t, 32)
    }
    val lag = 481 // structural delay of the 512-tap pair at 32-step hop
    var cxy = 0.0; var cyy = 0.0; var num = 0.0; var den = 0.0
    for (i <- 0 until n - lag) { cxy += x(i) * rec(i + lag); cyy += rec(i + lag) * rec(i + lag) }
    val gain = cxy / cyy
    assert(math.abs(gain - 1.0) < 0.01, s"cascade gain $gain")
    for (i <- 0 until n - lag) {
      val e = x(i) - rec(i + lag)
      num += x(i) * x(i); den += e * e
    }
    val snr = 10 * math.log10(num / den)
    assert(snr > 40.0, s"filterbank SNR $snr dB")
  }

  private def bestCorr(a: Array[Float], b: Array[Float], maxLag: Int): (Double, Int) = {
    var bl = 0; var bc = -1.0
    for (lag <- 0 until maxLag) {
      var c = 0.0; var e1 = 0.0; var e2 = 0.0
      var i = 0
      while (i + lag < b.length && i < a.length) {
        c += a(i) * b(i + lag); e1 += a(i) * a(i); e2 += b(i + lag) * b(i + lag); i += 1
      }
      val corr = if (e1 * e2 > 0) c / math.sqrt(e1 * e2) else 0.0
      if (corr > bc) { bc = corr; bl = lag }
    }
    (bc, bl)
  }

  test("full codec roundtrip: tone survives encode→decode at > 0.99 correlation") {
    val tone = Array.tabulate(32000)(i => (0.6 * math.sin(2 * math.Pi * 440 * i / 32000.0)).toFloat)
    val mp3 = Mp3Encoder.encode(32000, tone, 128)
    val (sr, wave, stats) = Mp3Audio.decodeWithStats(mp3)
    assert(sr == 32000)
    assert(stats.forall(_.ok), stats.filterNot(_.ok).map(_.err).take(3).mkString("; "))
    assert(wave.length == stats.size * 1152)
    val (corr, _) = bestCorr(tone, wave, 2500)
    assert(corr > 0.99, s"roundtrip correlation $corr")
  }

  test("multi-tone + noise content exercises small spec-exact tables and survives") {
    val rnd = new scala.util.Random(11)
    val sig = Array.tabulate(16000)(i =>
      (0.3 * math.sin(2 * math.Pi * 700 * i / 32000.0) +
        0.2 * math.sin(2 * math.Pi * 2500 * i / 32000.0) +
        0.02 * rnd.nextGaussian()).toFloat)
    // low bitrate → coarse gains → small |is| → spec-exact small tables
    for (tid <- Seq(1, 2, 3, 5, 7, 9, 10)) {
      val mp3 = Mp3Encoder.encode(32000, sig, 160, forceTable = Some(tid))
      val (_, wave, stats) = Mp3Audio.decodeWithStats(mp3)
      assert(stats.forall(_.ok), s"table $tid: " + stats.filterNot(_.ok).map(_.err).take(2).mkString)
      val (corr, _) = bestCorr(sig, wave, 2500)
      assert(corr > 0.9, s"table $tid roundtrip correlation $corr")
    }
  }

  test("MS joint stereo roundtrip: distinct L/R tones survive the mid/side transform") {
    val n = 16000
    val left = Array.tabulate(n)(i => (0.5 * math.sin(2 * math.Pi * 440 * i / 32000.0)).toFloat)
    val right = Array.tabulate(n)(i => (0.5 * math.sin(2 * math.Pi * 1100 * i / 32000.0)).toFloat)
    val mp3 = Mp3Encoder.encodeStereoMs(32000, left, right, 192)
    // header sanity: joint stereo, MS bit set
    val h = Mp3Audio.parseHeader(mp3, 0).get
    assert(h.mode == 1 && (h.modeExt & 2) != 0 && h.channels == 2)
    val (sr, chans) = Mp3Audio.decodeChannels(mp3)
    assert(sr == 32000 && chans.length == 2)
    // each decoded channel must correlate with ITS OWN source tone and
    // not the other: a sign/phase error in the MS inverse would leak
    // the side channel and break the separation
    val (cl, _) = bestCorr(left, chans(0), 2500)
    val (cr, _) = bestCorr(right, chans(1), 2500)
    assert(cl > 0.98, s"left channel correlation $cl")
    assert(cr > 0.98, s"right channel correlation $cr")
    val (xl, _) = bestCorr(right, chans(0), 2500)
    assert(xl < 0.5, s"left channel leaked the right tone: $xl")
  }

  test("MPEG-2 LSF roundtrip: real content through the one-granule/9-bit path") {
    // the container's LAME LSF sample is silence; this is the LSF
    // decode path (side info widths, scalefac decomposition, 576-line
    // granules) with actual spectra
    val tone = Array.tabulate(16000)(i =>
      (0.5 * math.sin(2 * math.Pi * 500 * i / 16000.0) +
        0.2 * math.sin(2 * math.Pi * 1500 * i / 16000.0)).toFloat)
    val mp3 = Mp3Encoder.encodeLsf(16000, tone, 64)
    val h = Mp3Audio.parseHeader(mp3, 0).get
    assert(h.lsf && h.sampleRate == 16000 && h.granules == 1)
    val (sr, wave, stats) = Mp3Audio.decodeWithStats(mp3)
    assert(sr == 16000)
    assert(stats.forall(_.ok), stats.filterNot(_.ok).map(_.err).take(3).mkString("; "))
    assert(wave.length == stats.size * 576)
    val (corr, _) = bestCorr(tone, wave, 2500)
    assert(corr > 0.98, s"LSF roundtrip correlation $corr")
  }

  test("production decode seam dispatches MP3 and preserves the tone's peak frequency") {
    val tone = Array.tabulate(16000)(i => (0.5 * math.sin(2 * math.Pi * 1000 * i / 32000.0)).toFloat)
    val mp3 = Mp3Encoder.encode(32000, tone, 128)
    val (sr, wave) = WavAudio.decode(mp3)
    assert(sr == 32000)
    // Goertzel peak among candidates must be the encoded tone
    def power(f: Double): Double = {
      var re = 0.0; var im = 0.0
      var i = 4000 // skip warm-up
      while (i < wave.length) {
        val w = 2 * math.Pi * f * i / sr
        re += wave(i) * math.cos(w); im += wave(i) * math.sin(w)
        i += 1
      }
      re * re + im * im
    }
    val cands = Seq(250.0, 500.0, 1000.0, 2000.0, 4000.0)
    val peak = cands.maxBy(power)
    assert(peak == 1000.0, s"peak detected at $peak Hz")
  }

  test("real LAME-encoded MPEG-2 LSF stream decodes with exact bit accounting") {
    val path = java.nio.file.Paths.get(
      "/usr/lib/google-cloud-sdk/platform/gsutil/gslib/tests/test_data/test.mp3")
    assume(java.nio.file.Files.exists(path), "reference LAME file not present")
    val bytes = java.nio.file.Files.readAllBytes(path)
    val (sr, wave, stats) = Mp3Audio.decodeWithStats(bytes)
    assert(sr == 22050)
    assert(stats.nonEmpty && stats.forall(_.ok),
      stats.filterNot(_.ok).map(_.err).take(3).mkString("; "))
    assert(wave.length == stats.size * 576)
    assert(wave.forall(v => math.abs(v) <= 1.5))
    // probe duration agrees with the decoded sample count
    val probed = AudioProbe.probe(bytes)
    assert(probed.exists(_.sampleRate == 22050))
  }

  test("ogg/m4a/adts/cbr-mp3 header probes report exact durations; foreign bytes None") {
    val og = AudioProbe.Mint.ogg(16000, 32000L)
    assert(AudioProbe.probe(og).contains(AudioProbe.Probe("ogg", 16000, 2000000L, true)))
    val m4 = AudioProbe.Mint.m4a(24000, 36000L)
    assert(AudioProbe.probe(m4).contains(AudioProbe.Probe("m4a", 24000, 1500000L, true)))
    val aa = AudioProbe.Mint.adts(16000, 32)
    assert(AudioProbe.probe(aa).contains(AudioProbe.Probe("aac", 16000, 2048000L, true)))
    val cbr = AudioProbe.Mint.mp3Cbr(30)
    val p = AudioProbe.probe(cbr).get
    assert(p.container == "mp3" && p.sampleRate == 32000 &&
      p.durationUs == 30 * 36000L && !p.exact)
    // the minted CBR silence is a legal stream: it really decodes
    val (sr, wave) = Mp3Audio.decode(cbr)
    assert(sr == 32000 && wave.length == 30 * 1152 && wave.forall(_ == 0f))
    assert(AudioProbe.probe(Array.fill[Byte](64)(0x11)).isEmpty)
  }

  test("foreign bytes and truncated streams fail loudly, never silently corrupt") {
    intercept[Exception] { Mp3Audio.decode("not an mp3 at all, nope".getBytes) }
    intercept[Exception] { Mp3Audio.decode(Array.fill[Byte](64)(0x5a)) }
    // a valid stream truncated mid-frame: decode either rejects or
    // isolates the tail frame, but must not throw from the walker
    val tone = Array.tabulate(8000)(i => (0.4 * math.sin(2 * math.Pi * 300 * i / 32000.0)).toFloat)
    val mp3 = Mp3Encoder.encode(32000, tone, 128)
    val cut = java.util.Arrays.copyOf(mp3, mp3.length - 100)
    val (_, _, stats) = Mp3Audio.decodeWithStats(cut)
    assert(stats.count(_.ok) >= stats.size - 1)
  }

  test("decode batches through the S2 inference shell with fault isolation") {
    import TestSpark.spark
    import spark.implicits._
    val tone = Array.tabulate(4000)(i => (0.5 * math.sin(2 * math.Pi * 500 * i / 32000.0)).toFloat)
    val good = Mp3Encoder.encode(32000, tone, 128)
    val rows = Seq(("a.mp3", good), ("b.mp3", Array.fill[Byte](64)(0x77))).toDS()
    val out = WavAudio.decodeDatasetWithStatus(rows).collect()
    val byFile = out.map(d => d.file -> d).toMap
    assert(byFile("a.mp3").status == "completed" && byFile("a.mp3").waveform.nonEmpty)
    assert(byFile("b.mp3").status == "failed")
  }
}
