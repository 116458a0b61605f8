package graft

import org.apache.spark.sql.functions._

import graft.model._
import graft.pipeline.{MockModels, SpeechKernels, SpeechPipeline}

/** Golden end-to-end: synthetic waveforms (sine bursts + silence,
  * FIXTURES.md §A9) through the composed five-stage pipeline with
  * deterministic mock models.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val sr = 1000

  /** Two bursts: loud [1s,2s) amp 0.9, soft [3s,4s) amp 0.3, else silence.
    * Constant amplitude (a rectified tone) so activity runs are contiguous.
    */
  private def fixture(file: String): AudioFile = {
    val w = new Array[Float](5 * sr)
    for (i <- sr until 2 * sr) w(i) = 0.9f
    for (i <- 3 * sr until 4 * sr) w(i) = 0.3f
    AudioFile(file, sr, w)
  }

  test("vadStage finds the two bursts, padded and merged") {
    val audio = Seq(fixture("a"), fixture("b")).toDS()
    val vad = SpeechPipeline.vadStage(audio, padSec = 0.05).collect()
      .groupBy(_.file).view.mapValues(_.sortBy(_.start)).toMap
    for (f <- Seq("a", "b")) {
      val segs = vad(f)
      assert(segs.length == 2, s"expected 2 spans for $f, got ${segs.toSeq}")
      assert(math.abs(segs(0).start - 0.95) < 0.1 && math.abs(segs(0).end - 2.05) < 0.1)
      assert(math.abs(segs(1).start - 2.95) < 0.1 && math.abs(segs(1).end - 4.05) < 0.1)
    }
  }

  test("marginChunks + separate(identity model) is identity") {
    val a = fixture("a")
    assert(SpeechKernels.marginChunks(a, chunkSamples = 512, marginSamples = 64).length == 10) // ceil(5000/512)
    val identity = new SpeechKernels.Separator {
      val name = "identity"
      def predictBatch(xs: Seq[StftFrame]): Seq[StftFrame] = xs
    }
    val back = SpeechKernels.separate(a, identity, chunkSamples = 512, marginSamples = 64,
      chunkSize = 1024, nFft = 512)
    assert(back.toSeq == a.waveform.toSeq)
  }

  test("stftFrames + stftReassemble is identity for random lengths (reference frame algebra)") {
    // the reference arithmetic (separate_fast.py:208-221): trim = nFft/2,
    // gen = chunkSize − 2·trim, pad = gen − n mod gen (a FULL gen when
    // n mod gen == 0), frame count = (n + pad) / gen exactly
    val rnd = new scala.util.Random(42)
    val chunkSize = 256; val nFft = 64
    val trim = nFft / 2; val gen = chunkSize - 2 * trim
    // include the modulo-quirk boundary (multiples of gen) and tiny inputs
    val lengths = Seq(1, gen - 1, gen, gen + 1, 3 * gen, 5000) ++
      Seq.fill(6)(1 + rnd.nextInt(4000))
    val audio = lengths.zipWithIndex.map { case (n, i) =>
      val w = Array.fill(n)(rnd.nextFloat() * 2f - 1f)
      AudioFile(s"f$i", 16000, w)
    }
    val ds = audio.toDS()
    val frames = SpeechPipeline.stftFrames(ds, chunkSize, nFft)
    val byFile = frames.collect().groupBy(_.file)
    for (a <- audio) {
      val n = a.waveform.length
      val pad = gen - n % gen
      val fs = byFile(a.file)
      assert(fs.length == (n + pad) / gen,
        s"${a.file}: n=$n expected ${(n + pad) / gen} frames, got ${fs.length}")
      assert(fs.forall(_.samples.length == chunkSize))
      // adjacent frames overlap by 2·trim: frame k's tail == frame k+1's head
      val sorted = fs.sortBy(_.frameIdx)
      for (Array(x, y) <- sorted.sliding(2).map(_.toArray) if sorted.length > 1)
        assert(x.samples.takeRight(2 * trim).toSeq == y.samples.take(2 * trim).toSeq)
    }
    val back = SpeechPipeline.stftReassemble(frames, chunkSize, nFft)
      .collect().map(a => a.file -> a.waveform).toMap
    for (a <- audio)
      assert(back(a.file).toSeq == a.waveform.toSeq, s"${a.file} not identity")
  }

  test("separateStage: margins∘STFT∘kernel∘reassembly == kernel applied directly") {
    // a linear per-sample kernel must commute with the whole W5 window
    // algebra (the transparency the reference's trim/pad promises);
    // lengths straddle chunk boundaries and the pad quirk
    val rnd = new scala.util.Random(3)
    val audio = Seq(1, 511, 512, 4096, 9001).zipWithIndex.map { case (n, i) =>
      AudioFile(s"f$i", 16000, Array.fill(n)(rnd.nextFloat() * 2f - 1f))
    }
    val stems = SpeechPipeline.separateStage(audio.toDS()).collect()
    val v = stems.map { case (x, _) => x.file -> x.waveform }.toMap
    val nv = stems.map { case (_, x) => x.file -> x.waveform }.toMap
    for (a <- audio) {
      val expectV = a.waveform.map(_ * 0.8f)
      assert(v(a.file).toSeq == expectV.toSeq, s"${a.file} vocal differs")
      val expectNv = a.waveform.zip(expectV).map { case (m, x) => m - x }
      assert(nv(a.file).toSeq == expectNv.toSeq, s"${a.file} nonvocal differs")
    }
  }

  test("separateStage plans one narrow pass: no shuffle or broadcast exchange") {
    val ds = SpeechPipeline.separateStage(Seq(fixture("a"), fixture("b")).toDS())
    ds.collect()
    assert(exchanges(ds.queryExecution.executedPlan).isEmpty, ds.queryExecution.executedPlan.toString)
  }

  test("assignToChunks maps every span into exactly one containing chunk") {
    val vad = Seq(
      Segment("a", 0, 20), Segment("a", 22, 50), Segment("a", 80, 90),
      Segment("b", 5, 15)).toDS()
    val chunks = SpeechPipeline.separationEconomyMerge(vad, gap = 5d, maxDur = 60d)
    val assigned = SpeechPipeline.assignToChunks(vad, chunks).collect()
    assert(assigned.length == 4) // every span assigned exactly once
    assert(assigned.forall { r =>
      r.getAs[Double]("start") >= r.getAs[Double]("chunk_start") &&
        r.getAs[Double]("end") <= r.getAs[Double]("chunk_end")
    })
  }

  test("separation-economy merge bounds chunk spans") {
    val vad = Seq(
      Segment("f", 0, 20), Segment("f", 22, 50), Segment("f", 53, 70),
      Segment("f", 80, 90)).toDS()
    val merged = SpeechPipeline.separationEconomyMerge(vad, gap = 5d, maxDur = 60d)
      .collect().sortBy(_.start)
    assert(merged.forall(m => m.end - m.start <= 60d))
    assert(merged.map(_.n).sum == 4)
  }

  test("full pipeline end-to-end produces host matches") {
    val audio = Seq(fixture("a")).toDS()
    val vad = SpeechPipeline.vadStage(audio, padSec = 0.05)
    val (single, overlapping) = SpeechPipeline.diarizeStage(vad, audio)
    assert(overlapping.count() == 0) // disjoint VAD spans -> no overlap
    val (merged, embTable) = SpeechPipeline.rematchStage(single, audio)
    assert(merged.count() > 0)
    // host prints: one matching the loud speaker's mock embedding, one not
    val emb = embTable.collect()
    val hostPrints = Map(
      "host_loud" -> emb.head._4,
      "host_none" -> Array.fill(emb.head._4.length)(0.01f))
    val hm = SpeechPipeline.hostMatchStage(spark, merged, embTable, hostPrints)
      .collect()
    assert(hm.exists(_.getAs[String]("host_id") == "host_loud"))
    val p = hm.filter(_.getAs[String]("host_id") == "host_loud").head
      .getAs[Double]("host_proportion")
    assert(p > 0 && p <= 1.0)
  }

  test("runAll composes all five stages under the production config") {
    val audio = Seq(fixture("a")).toDS()
    // build host prints from a pre-run so one host genuinely matches
    val vad = SpeechPipeline.vadStage(audio, padSec = 0.05)
    val (single, _) = SpeechPipeline.diarizeStage(vad, audio)
    val (_, embTable) = SpeechPipeline.rematchStage(single, audio)
    val prints = Map("host_x" -> embTable.collect().head._4)
    val out = SpeechPipeline.runAll(spark, audio, prints)
    assert(out.collect().exists(_.getAs[String]("host_id") == "host_x"))
  }

  test("runAll output commits to ManifestSink and re-runs skip done files") {
    import graft.sources.{Incremental, ManifestSink}
    val root = java.nio.file.Files.createTempDirectory("graft_stage_out").toString
    val audio = Seq(fixture("a"), fixture("b")).toDS()
    val vad = SpeechPipeline.vadStage(audio, padSec = 0.05)
    val (single, _) = SpeechPipeline.diarizeStage(vad, audio)
    val (_, embTable) = SpeechPipeline.rematchStage(single, audio)
    val prints = Map("host_x" -> embTable.collect().head._4)
    val out = SpeechPipeline.runAll(spark, audio, prints)
      .select("file", "host_id", "host_total_duration", "host_proportion")
    // stage output becomes an atomic committed snapshot keyed by file
    val files = out.select("file").distinct().collect().map(_.getString(0)).toSeq
    ManifestSink.commit(out, root, keys = files)
    val snap = ManifestSink.read(spark, root)
    assert(snap.count() == out.count() && snap.count() > 0)
    // incremental re-run: both fixtures are done, nothing remains
    val inputs = Seq("a", "b").toDF("file")
    assert(Incremental.remaining(inputs,
      ManifestSink.doneKeys(spark, root), "file").count() == 0)
    // a new file would still be owed
    val inputs2 = Seq("a", "b", "c").toDF("file")
    assert(Incremental.remaining(inputs2,
      ManifestSink.doneKeys(spark, root), "file")
      .collect().map(_.getString(0)).toSeq == Seq("c"))
  }

  test("mock verification cosine is 1.0 on identical embeddings") {
    val e = Array(0.5f, 0.25f, 0.1f)
    assert(math.abs(MockModels.cosine(e, e) - 1.0) < 1e-12)
  }

  // --- S2: real WAV decode ---------------------------------------------

  test("WAV encode/decode round-trips within 16-bit quantization") {
    import graft.pipeline.WavAudio
    val orig = fixture("a")
    val bytes = WavAudio.encode(orig.sr, orig.waveform)
    val (sr, wave) = WavAudio.decode(bytes)
    assert(sr == orig.sr)
    assert(wave.length == orig.waveform.length)
    val maxErr = wave.zip(orig.waveform).map { case (x, y) => math.abs(x - y) }.max
    assert(maxErr <= 1.5f / 32768f, s"max sample error $maxErr")
  }

  test("multi-format decode: WAV, AIFF, and AU containers through one seam") {
    import graft.pipeline.WavAudio
    import javax.sound.sampled.AudioFileFormat.Type
    val fx = fixture("a")
    for (container <- Seq(Type.WAVE, Type.AIFF, Type.AU)) {
      val bytes = WavAudio.encodeAs(fx.sr, fx.waveform, container)
      val (sr, wave) = WavAudio.decode(bytes)
      assert(sr == fx.sr, s"$container sample rate")
      assert(wave.length == fx.waveform.length, s"$container length")
      val maxErr = wave.zip(fx.waveform).map { case (x, y) => math.abs(x - y) }.max
      assert(maxErr <= 1.5f / 32768f, s"$container max sample error $maxErr")
    }
    // glob-scan a mixed-container directory (S1+S2 composed)
    val dir = java.nio.file.Files.createTempDirectory("graft_multifmt")
    java.nio.file.Files.write(dir.resolve("a.wav"), WavAudio.encodeAs(fx.sr, fx.waveform, Type.WAVE))
    java.nio.file.Files.write(dir.resolve("b.aiff"), WavAudio.encodeAs(fx.sr, fx.waveform, Type.AIFF))
    java.nio.file.Files.write(dir.resolve("c.au"), WavAudio.encodeAs(fx.sr, fx.waveform, Type.AU))
    java.nio.file.Files.write(dir.resolve("ignore.txt"), Array[Byte](1, 2))
    val scanned = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.{wav,aiff,au}").load(dir.toString)
    val decoded = WavAudio.decodeDatasetWithStatus(
      scanned.selectExpr("path", "content").as[(String, Array[Byte])]).collect()
    assert(decoded.length == 3 && decoded.forall(_.status == "completed"))
    assert(decoded.forall(_.waveform.length == fx.waveform.length))
  }

  test("FLAC encode/decode round-trips bit-exactly with the STREAMINFO golden MD5") {
    import graft.pipeline.FlacAudio
    val rnd = new scala.util.Random(7)
    // multi-frame (> 4096), a flat stretch (CONSTANT subframe), a ramp
    // (small fixed-order-2 residuals), noise, and an odd tail length
    val n = 9001
    val w = new Array[Float](n)
    for (i <- 0 until 2000) w(i) = 0.25f                       // constant
    for (i <- 2000 until 5000) w(i) = (i - 3500) / 3500f * 0.8f // ramp
    for (i <- 5000 until n) w(i) = (rnd.nextFloat() * 2f - 1f) * 0.5f
    val flac = FlacAudio.encode(22050, w)
    val (sr, back) = FlacAudio.decode(flac)
    assert(sr == 22050 && back.length == n)
    // decode must reproduce the 16-bit quantized samples EXACTLY
    // (decoded = s/32768 with s integral, so ·32768 is float-exact)
    def q(x: Float): Int = math.round(math.max(-1f, math.min(1f, x)) * 32767f)
    for (i <- 0 until n)
      assert(math.round(back(i) * 32768f) == q(w(i)),
        s"sample $i: ${back(i)} vs ${w(i)}")
    // golden checksum: MD5 of the decoded 16-bit LE stream == STREAMINFO md5
    val md = java.security.MessageDigest.getInstance("MD5")
    back.foreach { x =>
      val s = math.round(x * 32768f)
      md.update((s & 0xff).toByte); md.update(((s >> 8) & 0xff).toByte)
    }
    val streamInfoMd5 = flac.slice(8 + 18, 8 + 34)
    assert(md.digest().toSeq == streamInfoMd5.toSeq, "decoded MD5 != STREAMINFO golden")
    // LPC subframes (what real encoders emit): quantized coefficients +
    // shift arithmetic must round-trip the same samples bit-exactly
    val lpcFlac = FlacAudio.encode(22050, w, lpc = true)
    assert(lpcFlac.length != flac.length || lpcFlac.toSeq != flac.toSeq,
      "lpc=true must take the LPC subframe path")
    val (srL, backL) = FlacAudio.decode(lpcFlac)
    assert(srL == 22050 && backL.length == n)
    for (i <- 0 until n)
      assert(math.round(backL(i) * 32768f) == q(w(i)), s"LPC sample $i differs")
  }

  test("decodeDataset accepts .flac payloads; corrupt FLAC takes the S10 status path") {
    import graft.pipeline.{FlacAudio, WavAudio}
    val w = Array.tabulate(3000)(i => (math.sin(i * 0.05) * 0.6).toFloat)
    val flac = FlacAudio.encode(16000, w)
    val wav = WavAudio.encode(16000, w)
    val decoded = WavAudio.decodeDataset(
      Seq(("a.flac", flac), ("b.wav", wav)).toDS()).collect()
      .map(a => a.file -> a).toMap
    assert(decoded("a.flac").sr == 16000 && decoded("b.wav").sr == 16000)
    // both seams decode the same 16-bit source: identical quantized samples
    val qa = decoded("a.flac").waveform.map(x => math.round(x * 32768f))
    val qb = decoded("b.wav").waveform.map(x => math.round(x * 32768f))
    assert(qa.length == 3000 && qa.toSeq == qb.toSeq)
    // corrupt FLAC body (valid magic, broken frame) → failed status row
    val corrupt = flac.clone(); corrupt(flac.length - 20) = 0x55
    val st = WavAudio.decodeDatasetWithStatus(
      Seq(("ok.flac", flac), ("bad.flac", corrupt)).toDS()).collect()
      .map(a => a.file -> a.status).toMap
    assert(st("ok.flac") == "completed" && st("bad.flac") == "failed")
  }

  test("AudioProbe reads header-level duration for WAV, FLAC, and MP3 (CBR)") {
    import graft.pipeline.{AudioProbe, WavAudio}
    // WAV: 1 s at 16 kHz through javax.sound file-format headers
    val wav = WavAudio.encode(16000, new Array[Float](16000))
    val pw = AudioProbe.probe(wav).get
    assert(pw.container == "wave" && pw.sampleRate == 16000
      && pw.durationUs == 1000000L && pw.exact)
    // FLAC: handcrafted STREAMINFO — 44100 samples at 22050 Hz = 2 s
    val flac = new Array[Byte](8 + 34)
    "fLaC".getBytes.copyToArray(flac, 0)
    flac(4) = 0x00; flac(7) = 34 // STREAMINFO block, length 34
    val b = 8
    flac(b + 10) = 0x05; flac(b + 11) = 0x62; flac(b + 12) = 0x20 // sr 22050
    flac(b + 16) = 0xac.toByte; flac(b + 17) = 0x44 // total 44100
    val pf = AudioProbe.probe(flac).get
    assert(pf.container == "flac" && pf.sampleRate == 22050
      && pf.durationUs == 2000000L && pf.exact)
    // MP3: ID3v2 tag (size 0) + one MPEG1 Layer III header at 128 kbps /
    // 44.1 kHz, 16000 payload bytes -> exactly 1 s at CBR
    val mp3 = new Array[Byte](10 + 16000)
    "ID3".getBytes.copyToArray(mp3, 0)
    mp3(10) = 0xff.toByte; mp3(11) = 0xfb.toByte; mp3(12) = 0x90.toByte
    val pm = AudioProbe.probe(mp3).get
    assert(pm.container == "mp3" && pm.sampleRate == 44100
      && pm.durationUs == 1000000L && !pm.exact)
    // VBR MP3: a Xing header in the first frame gives an EXACT duration
    // (frames × 1152 / sr), independent of payload size. Also exercises
    // the ID3v2.4 footer flag (+10) and padding before the first sync.
    val vbr = new Array[Byte](10 + 10 + 3 + 4 + 32 + 12 + 500)
    "ID3".getBytes.copyToArray(vbr, 0)
    vbr(5) = 0x10 // v2.4 footer flag: tag is 10 + size + 10 bytes
    vbr(9) = 0x00 // syncsafe size 0 -> tag ends at 20
    val fs = 10 + 10 + 3 // 3 padding bytes before the first frame sync
    vbr(fs) = 0xff.toByte; vbr(fs + 1) = 0xfb.toByte
    vbr(fs + 2) = 0x90.toByte; vbr(fs + 3) = 0x00 // stereo -> side info 32
    "Xing".getBytes.copyToArray(vbr, fs + 4 + 32)
    vbr(fs + 4 + 32 + 7) = 0x01 // flags: frames present
    vbr(fs + 4 + 32 + 10) = 0x00; vbr(fs + 4 + 32 + 11) = 38 // 38 frames
    val pv = AudioProbe.probe(vbr).get
    assert(pv.container == "mp3" && pv.sampleRate == 44100 && pv.exact
      && pv.durationUs == 38L * 1152 * 1000000L / 44100,
      s"got $pv")
    // a FALSE sync (0xFF 0xF0: sync bits set, layer invalid) in the
    // pre-frame junk must not end the scan — the real header follows
    val fsync = new Array[Byte](10 + 4 + 4 + 8000)
    "ID3".getBytes.copyToArray(fsync, 0) // size-0 tag ends at 10
    fsync(10) = 0xff.toByte; fsync(11) = 0xf0.toByte // false sync
    fsync(14) = 0xff.toByte; fsync(15) = 0xfb.toByte; fsync(16) = 0x90.toByte
    val pj = AudioProbe.probe(fsync).get
    assert(pj.container == "mp3" && pj.sampleRate == 44100, s"got $pj")
    // the probe scans as far past the tag for the first frame as the
    // decoder does: a 16 KB gap after the tag changes nothing
    val cbr = AudioProbe.Mint.mp3Cbr(40)
    val gapped = graft.pipeline.Id3.mint(4, Seq("TIT2" -> "gap"), 0,
      new Array[Byte](16384) ++ cbr)
    assert(AudioProbe.probe(gapped).map(_.durationUs) ==
      AudioProbe.probe(cbr).map(_.durationUs) && AudioProbe.probe(cbr).isDefined)
    // foreign bytes: None, never a throw (the S10 contract)
    assert(AudioProbe.probe("not audio at all".getBytes ++ new Array[Byte](64)).isEmpty)
    // the pre-decode gate: keep only payloads probing inside the band;
    // garbage probes as duration 0 and is dropped by minSec > 0
    val ds = Seq(
      ("short.wav", WavAudio.encode(16000, new Array[Float](8000))),
      ("long.wav", wav),
      ("junk.bin", "zz".getBytes ++ new Array[Byte](64))).toDS()
    val kept = AudioProbe.probeGate(ds, minSec = 0.9).collect().map(_._1)
    assert(kept.toSeq == Seq("long.wav"))
  }

  test("S10: a corrupt payload among good ones yields a failed-status row, not a job abort") {
    import graft.pipeline.WavAudio
    val good = Seq("a", "b", "c").map { f =>
      val fx = fixture(f)
      (f, WavAudio.encode(fx.sr, fx.waveform))
    }
    // an MP3-ish magic header javax.sound cannot parse — the reference's
    // corpus has five such formats beyond WAV (modules/models/utils.py:11-16)
    val bad = ("broken", Array[Byte](0x49, 0x44, 0x33, 4, 0, 0, 0, 0, 0, 0, 1, 2, 3))
    val decoded = WavAudio.decodeDatasetWithStatus((good :+ bad).toDS())
    val rows = decoded.collect()
    assert(rows.length == 4)
    val counts = graft.sources.Incremental.statusCounts(decoded.toDF(), "status")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts == Map("completed" -> 3L, "failed" -> 1L))
    val failed = rows.filter(_.status == "failed")
    assert(failed.map(_.file).toSeq == Seq("broken"))
    assert(failed.head.error.nonEmpty && failed.head.waveform.isEmpty)
    // completed rows carry real waveforms
    assert(rows.filter(_.status == "completed").forall(_.waveform.nonEmpty))
  }

  test("S10: a batch holding a corrupt payload hands the decode model each payload once") {
    import graft.pipeline.{BatchModel, ModelCache, WavAudio}
    val fx = fixture("x")
    val wav = WavAudio.encode(fx.sr, fx.waveform)
    val corrupt = "fLaC".getBytes ++ Array.tabulate[Byte](4092)(i => (i * 37 + 11).toByte)
    val batch = Seq(("once_a.wav", wav), ("once_bad.flac", corrupt), ("once_c.wav", wav))
    val inner = new WavAudio.WavDecodeStatusModel
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val counted = new BatchModel[(String, Array[Byte]), DecodedAudio] {
      val name: String = inner.name
      def predictBatch(xs: Seq[(String, Array[Byte])]): Seq[DecodedAudio] = {
        xs.foreach(x => seen.add(x._1))
        inner.predictBatch(xs)
      }
    }
    val prev = ModelCache.swap(inner.name, counted)
    val rows =
      try WavAudio.decodeDatasetWithStatus(batch.toDS().coalesce(1)).collect()
      finally ModelCache.swap(inner.name, prev)
    import scala.jdk.CollectionConverters._
    val calls = seen.asScala.toSeq.filter(_.startsWith("once_"))
    assert(calls.sorted == batch.map(_._1).sorted, s"the model saw $calls")
    val byFile = rows.map(r => r.file -> r).toMap
    assert(byFile("once_a.wav").status == "completed" && byFile("once_c.wav").status == "completed")
    // the failed row keeps the "<SimpleName>: <message>" error text
    val e = intercept[Exception](WavAudio.decode(corrupt))
    assert(byFile("once_bad.flac").status == "failed")
    assert(byFile("once_bad.flac").error == s"${e.getClass.getSimpleName}: ${e.getMessage}")
  }

  test("vadStage runs on REAL decoded WAV bytes end-to-end") {
    import graft.pipeline.WavAudio
    // write real .wav files, glob-scan them (S1), decode (S2), VAD (M1)
    val dir = java.nio.file.Files.createTempDirectory("graft_wav")
    for (f <- Seq("a", "b")) {
      val fx = fixture(f)
      java.nio.file.Files.write(dir.resolve(s"$f.wav"),
        WavAudio.encode(fx.sr, fx.waveform))
    }
    java.nio.file.Files.write(dir.resolve("ignore.txt"), Array[Byte](1, 2))
    val scanned = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.wav").load(dir.toString)
    val audio = WavAudio.readWavDir(scanned)
      .map(a => a.copy(file = a.file.split('/').last.stripSuffix(".wav")))
    assert(audio.count() == 2)
    val vad = SpeechPipeline.vadStage(audio, padSec = 0.05).collect()
      .groupBy(_.file).view.mapValues(_.sortBy(_.start)).toMap
    for (f <- Seq("a", "b")) {
      val segs = vad(f)
      assert(segs.length == 2, s"expected 2 spans for $f, got ${segs.toSeq}")
      assert(math.abs(segs(0).start - 0.95) < 0.1 && math.abs(segs(0).end - 2.05) < 0.1)
      assert(math.abs(segs(1).start - 2.95) < 0.1 && math.abs(segs(1).end - 4.05) < 0.1)
    }
  }

  // --- M5: deterministic HDBSCAN-shaped clustering kernel -------------

  import graft.pipeline.Clustering

  private def unit(xs: Double*): Array[Float] = {
    val n = math.sqrt(xs.map(x => x * x).sum)
    xs.map(x => (x / n).toFloat).toArray
  }

  test("clusterOne groups tight families, floors small ones, rescues by threshold") {
    // two tight 3-member families on near-orthogonal axes + one outlier
    val famA = IndexedSeq(unit(1, 0.05, 0), unit(1, 0, 0.05), unit(1, 0.02, 0.02))
    val famB = IndexedSeq(unit(0.05, 1, 0), unit(0, 1, 0.05), unit(0.02, 1, 0.02))
    val outlier = unit(0.6, 0.6, 0.52) // ~45° to both families
    val embs = famA ++ famB ++ IndexedSeq(outlier)
    val labels = Clustering.clusterOne(embs, minClusterRatio = 0.2,
      simThreshold = 0.9, softThreshold = 0.9).toSeq
    // first-appearance numbering: family A = 0, family B = 1
    assert(labels.take(3) == Seq(0, 0, 0))
    assert(labels.slice(3, 6) == Seq(1, 1, 1))
    // the outlier founds a singleton, dissolves under the floor
    // (minSize = max(2, 7*0.2) = 2 > 1) and at softThreshold 0.9 stays noise
    assert(labels(6) == -1)
    // with the reference's 0.2 rescue it joins its best family instead
    val rescued = Clustering.clusterOne(embs, minClusterRatio = 0.2,
      simThreshold = 0.9, softThreshold = 0.2).toSeq
    assert(rescued(6) >= 0)
    // determinism
    assert(Clustering.clusterOne(embs, 0.2, 0.9, 0.2).toSeq == rescued)
  }

  test("clusterOne floor follows A12: max(2, n*ratio)") {
    // 30 copies of one family and a 2-member family: ratio 0.1 -> floor 3,
    // so the pair dissolves and rescues into nothing (orthogonal, 0.2 gate)
    val embs = IndexedSeq.fill(30)(unit(1, 0, 0)) ++
      IndexedSeq(unit(0, 1, 0.01), unit(0, 1, -0.01))
    val labels = Clustering.clusterOne(embs, minClusterRatio = 0.1,
      simThreshold = 0.9, softThreshold = 0.2).toSeq
    assert(labels.take(30).forall(_ == 0))
    assert(labels.drop(30).forall(_ == -1))
    assert(labels.count(_ == -1) == 2)
  }

  test("rematchStage emits clustered global labels consumed by host match") {
    val audio = Seq(fixture("a")).toDS()
    val vad = SpeechPipeline.vadStage(audio, padSec = 0.05)
    val (single, _) = SpeechPipeline.diarizeStage(vad, audio)
    val (merged, embTable) = SpeechPipeline.rematchStage(single, audio)
    val labels = merged.collect().map(_.speaker).toSet
    // labels are global cluster ids (or noise), not diarization locals
    assert(labels.forall(l => l == "noise" || l.startsWith("g")))
    // both constant-amplitude bursts have identical normalized mock
    // embeddings -> one global cluster of size 2 survives the floor
    assert(labels == Set("g0"))
    // embTable is keyed by the same global labels
    assert(embTable.collect().map(_._2).toSet == labels)
  }

  test("assignGlobalSpeakerIds composes A6+J3+J5 and drops unmapped locals") {
    val original = Seq(
      SpeakerSegment("f", 0, 10, "loc_a"),   // longest loc_a
      SpeakerSegment("f", 12, 14, "loc_a"),
      SpeakerSegment("f", 20, 29, "loc_b"),
      SpeakerSegment("f", 50, 60, "loc_c")   // overlaps no global -> dropped
    ).toDS()
    val global = Seq(
      SpeakerSegment("f", 0, 15, "g0"),
      SpeakerSegment("f", 19, 30, "g1")
    ).toDS()
    val (relabeled, mapping) = SpeechPipeline.assignGlobalSpeakerIds(original, global)
    val m = mapping.collect()
      .map(r => (r.getAs[String]("local_speaker"), r.getAs[String]("global_speaker")))
      .toMap
    assert(m == Map("loc_a" -> "g0", "loc_b" -> "g1"))
    val rel = relabeled.collect()
      .map(r => (r.getAs[Double]("start"), r.getAs[String]("speaker"))).sorted.toSeq
    // loc_c rows dropped (reference's `continue`); others relabeled
    assert(rel == Seq((0d, "g0"), (12d, "g0"), (20d, "g1")))
  }

  /** Every node of an executed plan, through adaptive wrappers and query stages. */
  private def nodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
  }

  private def exchanges(p: org.apache.spark.sql.execution.SparkPlan) = {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    nodes(p).filter {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
  }

  private def joins(p: org.apache.spark.sql.execution.SparkPlan) =
    nodes(p).filter(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])

  // ------------------------------------------------ external service (§7.4.4)

  test("external-service diarize equals the local mock path; transient 500s recovered by retry") {
    import graft.pipeline.{HttpServiceConfig, Transcription}
    val audio = Seq(fixture("a"), fixture("b")).toDS()
    val vad = SpeechPipeline.vadStage(audio, padSec = 0.05)
    val stub = new ServiceStub(ServiceStub.diarize, failFirstN = 2)
    try {
      val cfg = HttpServiceConfig(stub.endpoint, batchSize = 2, maxInFlight = 2,
        maxRetries = 3, baseBackoffMs = 5)
      val (single, overlap, failed) = SpeechPipeline.diarizeStageService(vad, audio, cfg)
      assert(failed.count() == 0, "retries should recover the transient 500s")
      val (mSingle, mOverlap) = SpeechPipeline.diarizeStage(vad, audio)
      def canon(ds: org.apache.spark.sql.Dataset[ActiveInterval]) =
        ds.collect().map(a => (a.file, a.start, a.end, a.speakers.toSeq.sorted)).sortBy(t => (t._1, t._2)).toSeq
      assert(canon(single) == canon(mSingle))
      assert(canon(overlap) == canon(mOverlap))
      assert(stub.requests.get() > 2, "the failed first attempts must have been retried")
    } finally stub.close()
  }

  test("external-service ASR equals the local mock path modulo the status pair") {
    import graft.pipeline.{HttpServiceConfig, Transcription}
    val audio = Seq(fixture("a"), fixture("b")).toDS()
    val segs = Seq(SpeakerSegment("a", 1.0, 2.0, "s0"), SpeakerSegment("a", 3.0, 4.0, "s1"),
      SpeakerSegment("b", 1.0, 2.0, "s0")).toDS()
    val stub = new ServiceStub(ServiceStub.asr)
    try {
      val cfg = HttpServiceConfig(stub.endpoint, batchSize = 2, maxInFlight = 2,
        maxRetries = 1, baseBackoffMs = 5)
      val got = Transcription.asrStageService(segs, audio, cfg).collect()
        .map(r => (r.file, r.start, r.end, r.speaker, r.text, r.language, r.status))
        .sortBy(t => (t._1, t._2)).toSeq
      val want = Transcription.asrStage(segs, audio).collect()
        .map(r => (r.file, r.start, r.end, r.speaker, r.text, r.language, "completed"))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got == want)
    } finally stub.close()
  }

  test("asrStage and asrStageService pair segments with audio per file: no join operator") {
    import graft.pipeline.{HttpServiceConfig, Transcription}
    val audio = Seq(fixture("a"), fixture("b")).toDS()
    val segs = Seq(SpeakerSegment("a", 1.0, 2.0, "s0"), SpeakerSegment("b", 3.0, 4.0, "s1")).toDS()
    val stub = new ServiceStub(ServiceStub.asr)
    try {
      val cfg = HttpServiceConfig(stub.endpoint, batchSize = 2, maxRetries = 0)
      for (ds <- Seq(Transcription.asrStage(segs, audio).toDF(),
                     Transcription.asrStageService(segs, audio, cfg).toDF())) {
        assert(ds.collect().length == 2)
        assert(joins(ds.queryExecution.executedPlan).isEmpty, ds.queryExecution.executedPlan.toString)
      }
    } finally stub.close()
  }

  test("LineService fixture: clean lines served, poisoned body exhausts retries into S10 rows") {
    import graft.pipeline.{HttpInference, HttpServiceConfig, LineService}
    val svc = new LineService(_.map(_.toUpperCase), poisonMarker = Some("BAD"))
    try {
      val cfg = HttpServiceConfig(svc.endpoint, batchSize = 1, maxInFlight = 2,
        maxRetries = 1, baseBackoffMs = 2)
      val ds = spark.createDataset(Seq("ok1", "BADx", "ok2")).coalesce(1)
      val out = HttpInference.mapService[String, String](ds, cfg,
        x => x, f => f(0), (x, _) => s"FAIL:$x").collect().toSeq
      assert(out == Seq("OK1", "FAIL:BADx", "OK2"), s"got $out")
    } finally svc.close()
  }

  test("external-service embedding equals the local mock path float-for-float") {
    import graft.pipeline.HttpServiceConfig
    val audio = Seq(fixture("a"), fixture("b")).toDS()
    val vad = SpeechPipeline.vadStage(audio, padSec = 0.05)
    val (single, _) = SpeechPipeline.diarizeStage(vad, audio)
    val stub = new ServiceStub(ServiceStub.embed, failFirstN = 1)
    try {
      val cfg = HttpServiceConfig(stub.endpoint, batchSize = 2, maxInFlight = 2,
        maxRetries = 3, baseBackoffMs = 5)
      val (rel, embTable, failed) = SpeechPipeline.rematchStageService(single, audio, cfg)
      assert(failed.count() == 0, "retry should recover the transient 500")
      val (mRel, mEmb) = SpeechPipeline.rematchStage(single, audio)
      def canonSeg(ds: org.apache.spark.sql.Dataset[SpeakerSegment]) =
        ds.collect().map(s => (s.file, s.start, s.end, s.speaker))
          .sortBy(t => (t._1, t._2, t._3)).toSeq
      assert(canonSeg(rel) == canonSeg(mRel), "global labels must agree")
      def canonEmb(ds: org.apache.spark.sql.Dataset[(String, String, Double, Array[Float])]) =
        ds.collect().map(t => (t._1, t._2, t._3, t._4.toSeq))
          .sortBy(t => (t._1, t._2, t._3)).toSeq
      assert(canonEmb(embTable) == canonEmb(mEmb),
        "service embeddings must be bit-identical to the mock path")
    } finally stub.close()
  }

  test("external-service embedding: unembeddable chunk exits as failed row, rest still cluster") {
    import graft.pipeline.HttpServiceConfig
    val audio = Seq(fixture("good"), fixture("poison")).toDS()
    val vad = SpeechPipeline.vadStage(audio, padSec = 0.05)
    val (single, _) = SpeechPipeline.diarizeStage(vad, audio)
    // request lines lead with the file name, so the marker targets every
    // chunk of file "poison" and only those
    val stub = new ServiceStub(ServiceStub.embed, poisonMarker = Some("poison\t"))
    try {
      val cfg = HttpServiceConfig(stub.endpoint, batchSize = 1, maxInFlight = 1,
        maxRetries = 1, baseBackoffMs = 5)
      val (rel, embTable, failed) = SpeechPipeline.rematchStageService(single, audio, cfg)
      val f = failed.collect()
      assert(f.nonEmpty && f.forall(r => r.file == "poison" && r.status == "failed"
        && r.emb.isEmpty), s"failed rows: ${f.toSeq}")
      val relFiles = rel.collect().map(_.file).toSet
      assert(relFiles == Set("good"), s"only the good file clusters: $relFiles")
      assert(embTable.collect().forall(_._1 == "good"))
    } finally stub.close()
  }

  test("service faults: poisoned batches and timeouts become failed-status rows, not job death") {
    import graft.pipeline.{HttpServiceConfig, Transcription}
    // three files: "good" answers, "poison" always 500s, "slow" sleeps past
    // the request timeout — both failure modes must S10-route, leaving the
    // good rows untouched
    val audio = Seq(fixture("good"), fixture("poison"), fixture("slow"),
      fixture("bad")).toDS()
    val segs = Seq(SpeakerSegment("good", 1.0, 2.0, "s0"),
      SpeakerSegment("poison", 1.0, 2.0, "s0"),
      SpeakerSegment("slow", 3.0, 4.0, "s1"),
      SpeakerSegment("bad", 1.0, 2.0, "s0")).toDS()
    val stub = new ServiceStub(ServiceStub.asr,
      poisonMarker = Some("poison"), badMarker = Some("bad"),
      slowMarker = Some("slow"), slowMs = 1500)
    try {
      val cfg = HttpServiceConfig(stub.endpoint, batchSize = 1, maxInFlight = 1,
        maxRetries = 1, baseBackoffMs = 5, requestTimeoutMs = 250)
      val rows = Transcription.asrStageService(segs, audio, cfg).collect()
      val byFile = rows.map(r => r.file -> r).toMap
      assert(rows.length == 4)
      assert(byFile("good").status == "completed" && byFile("good").text.nonEmpty)
      assert(byFile("poison").status == "failed" && byFile("poison").error.contains("HTTP 500"),
        s"poison row: ${byFile("poison")}")
      assert(byFile("slow").status == "failed", s"slow row: ${byFile("slow")}")
      // non-retriable 404: one attempt, still a failed-status row
      assert(byFile("bad").status == "failed" && byFile("bad").error.contains("not retriable"),
        s"bad row: ${byFile("bad")}")
    } finally stub.close()
  }

  test("mapService preserves input order and bounds in-flight requests per partition") {
    import graft.pipeline.{HttpInference, HttpServiceConfig}
    val stub = new ServiceStub(_.map(_.toUpperCase), slowMarker = Some("x"), slowMs = 120)
    try {
      val cfg = HttpServiceConfig(stub.endpoint, batchSize = 1, maxInFlight = 3,
        maxRetries = 0, requestTimeoutMs = 5000)
      val ds = spark.createDataset((0 until 12).map(i => s"x$i")).coalesce(1)
      val out = HttpInference.mapService[String, String](ds, cfg,
        x => x, f => f(0), (x, _) => s"FAIL:$x").collect().toSeq
      assert(out == (0 until 12).map(i => s"X$i"))
      assert(stub.maxConcurrent.get() <= 3, s"in-flight bound: ${stub.maxConcurrent.get()}")
      assert(stub.maxConcurrent.get() >= 2,
        s"pipelining should overlap requests, saw ${stub.maxConcurrent.get()}")
    } finally stub.close()
  }

  test("M1 end-to-end: vadStage over the recorded Silero ONNX session replays bit-exactly") {
    import graft.pipeline.Onnx._
    import OnnxTestKit._
    // 16 kHz file with one constant burst over windows 8..24 of 512
    val vsr = 16000
    val w = new Array[Float](vsr)
    for (i <- 8 * 512 until 24 * 512) w(i) = 0.5f
    val audio = Seq(AudioFile("loud", vsr, w),
      AudioFile("quiet", vsr, new Array[Float](vsr)))

    // 1. capture driver-side: full-file window pass with threaded RNN
    //    state against the deterministic fake session
    val rec = new RecordingSession(new FakeSileroSession)
    val cap = new OnnxSileroVad(new SessionProvider {
      val name = "vad-pipeline-capture"
      def create(): OnnxSession = rec
    })
    cap.predictBatch(audio)

    // 2. replay through the FULL pipeline stage (decode seam → ONNX VAD
    //    → pad+clamp → zero-gap merge) with the recorded fixtures; any
    //    drift in tensor marshalling or state threading changes a
    //    fingerprint and the recorded session throws
    val segs = SpeechPipeline.vadStageOnnx(audio.toDS(),
        RecordedProvider("vad-pipeline-replay", rec.fixtures), padSec = 0.05)
      .collect().toSeq.sortBy(_.file)
    assert(segs.map(_.file) == Seq("loud"))
    val s = segs.head
    assert(math.abs(s.start - (8 * 512.0 / vsr - 0.05)) < 1e-9
      && math.abs(s.end - (24 * 512.0 / vsr + 0.05)) < 1e-9, s"got $s")

    // 3. a missing fixture (= future marshalling drift) fails the STAGE
    //    loudly, never inventing segments
    intercept[Exception] {
      SpeechPipeline.vadStageOnnx(audio.toDS(),
        RecordedProvider("vad-pipeline-empty", Map.empty), padSec = 0.05)
        .collect()
    }
  }

  // --- runAll: one narrow per-file pass ---------------------------------

  /** A 10 s file at 1 kHz with bursts (start s, end s, patterned). Flat
    * 0.9 bursts diarize as speaker_0 with a flat mock embedding;
    * patterned ones (0.45 on 4 samples of every 16, else 0.12) as
    * speaker_1, with an embedding that leans on a few dimensions.
    */
  private def burstFile(file: String, bursts: (Double, Double, Boolean)*): AudioFile = {
    val w = new Array[Float](10 * sr)
    for ((s, e, patterned) <- bursts; i <- (s * sr).toInt until (e * sr).toInt)
      w(i) = if (!patterned) 0.9f else if (i % 16 < 4) 0.45f else 0.12f
    AudioFile(file, sr, w)
  }

  private lazy val speechFiles = Seq(
    burstFile("a", (0.5, 1.5, false), (2.5, 3.5, true), (4.5, 6.0, false), (7.0, 8.0, true)),
    burstFile("b", (0.3, 2.0, false), (3.0, 3.6, true), (5.0, 5.8, true), (7.5, 9.5, false)),
    burstFile("c", (1.0, 1.8, true), (3.0, 4.2, false), (6.0, 6.7, true), (8.0, 8.5, false)),
    burstFile("d", (2.0, 3.0, false))) // one chunk: below the A12 floor, so "noise"
  private val speechPrints = Map(
    "host_flat" -> Array.fill(16)(1f),
    "host_lean" -> Array.tabulate(16)(j => if (j < 4) 1f else 0f))

  test("runAll equals vadStage → diarizeStage → rematchStage → hostMatchStage") {
    val cfg = graft.pipeline.PipelineConfig.production
    val audio = speechFiles.toDS()
    val vad = SpeechPipeline.vadStage(audio, cfg.vadPadSec)
    val (single, _) = SpeechPipeline.diarizeStage(vad, audio)
    val diarized = single.collect().groupBy(_.file).view.mapValues(_.map(_.speakers.head).toSet)
    assert(diarized.count(_._2 == Set("speaker_0", "speaker_1")) >= 3, diarized.toMap)
    val (merged, emb) = SpeechPipeline.rematchStage(single, audio,
      minChunkSec = math.min(cfg.rematchChunkMinSec, 0.2),
      mergedCapSec = cfg.rematchMergedCapSec, minClusterRatio = cfg.clusterSizeRatio,
      clusterSimThreshold = cfg.clusterSimThreshold, softRescueThreshold = cfg.softRescueThreshold)
    assert(merged.collect().exists(_.speaker == "noise"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("file"), r.getAs[String]("host_id"), r.getAs[Double]("host_total_duration"),
        r.getAs[Double]("host_proportion"),
        r.getAs[collection.Seq[org.apache.spark.sql.Row]]("matched_speakers")
          .map(m => (m.getString(0), m.getDouble(1))).toSeq.sortBy(_._1))
    }.toSeq.sortBy(r => (r._1, r._2))
    val stages = rows(SpeechPipeline.hostMatchStage(spark, merged, emb, speechPrints, cfg.hostBudgetSec))
    val composed = rows(SpeechPipeline.runAll(spark, audio, speechPrints, cfg))
    assert(stages.map(_._1).distinct == Seq("a", "b", "c", "d"))
    assert(stages.map(_._2).distinct.sorted == speechPrints.keys.toSeq.sorted)
    assert(composed.map(r => (r._1, r._2)) == stages.map(r => (r._1, r._2)))
    composed.zip(stages).foreach { case (x, y) =>
      assert(math.abs(x._3 - y._3) <= 1e-9 * math.abs(y._3), s"$x vs $y")
      assert(math.abs(x._4 - y._4) <= 1e-12, s"$x vs $y")
      assert(x._5.map(_._1) == y._5.map(_._1), s"$x vs $y")
      x._5.zip(y._5).foreach { case (a, b) => assert(math.abs(a._2 - b._2) <= 1e-6, s"$x vs $y") }
    }
  }

  test("runAll plans one narrow pass: no shuffle or broadcast exchange") {
    val out = SpeechPipeline.runAll(spark, speechFiles.toDS(), speechPrints)
    out.collect()
    val plan = out.queryExecution.executedPlan
    assert(exchanges(plan).isEmpty, plan.toString)
  }

  test("collecting runAll starts exactly one Spark job") {
    val out = SpeechPipeline.runAll(spark, speechFiles.toDS(), speechPrints)
    assert(jobsStarted("runall_one_job")(out.collect()) == 1)
  }
}
