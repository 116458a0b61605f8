package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.model.AudioFile
import graft.pipeline._
import graft.pipeline.Onnx._

/** The ONNX seam: session cache + tensor marshalling proven against
  * recorded golden fixtures (the onnxruntime jar is absent in this
  * container — [[Onnx.OnnxRuntimeJvm]] binds it reflectively when
  * present; these tests pin the layer it plugs into).
  */
object OnnxTestKit extends Serializable {
  val sessionCreations = new AtomicInteger(0)

  /** Deterministic stand-in for the DNSMOS weights: per batch row
    * (sig, bak, ovr) from the window's mean / energy / peak — a pure
    * function of the input tensor, so recorded fixtures are stable.
    */
  final class FakeDnsmosSession extends OnnxSession with Serializable {
    def run(inputs: Map[String, Tensor]): Map[String, Tensor] = {
      val (shape, data) = inputs("input_1") match {
        case FloatTensor(s, d) => (s, d)
        case t => throw new IllegalArgumentException(s"want f32, got $t")
      }
      val b = shape(0).toInt; val l = shape(1).toInt
      val out = new Array[Float](b * 3)
      var i = 0
      while (i < b) {
        var sum = 0f; var e = 0f; var mx = 0f
        var j = 0
        while (j < l) {
          val x = data(i * l + j)
          sum += x; e += x * x; if (math.abs(x) > mx) mx = math.abs(x)
          j += 1
        }
        out(i * 3) = 1f + sum / l  // sig
        out(i * 3 + 1) = 2f * e / l // bak
        out(i * 3 + 2) = 3f * mx   // ovr
        i += 1
      }
      Map("output" -> FloatTensor(Array(b.toLong, 3L), out))
    }
  }

  /** Deterministic stand-in for Silero VAD: prob from window RMS, and a
    * window-counter threaded through `state` → `stateN` so any breakage
    * of state threading changes the input fingerprints and fails the
    * recorded replay loudly.
    */
  final class FakeSileroSession extends OnnxSession with Serializable {
    def run(inputs: Map[String, Tensor]): Map[String, Tensor] = {
      val win = inputs("input") match {
        case FloatTensor(_, d) => d
        case t => throw new IllegalArgumentException(s"want f32, got $t")
      }
      val (sshape, st) = inputs("state") match {
        case FloatTensor(s, d) => (s, d)
        case t => throw new IllegalArgumentException(s"want f32 state, got $t")
      }
      require(inputs("sr").isInstanceOf[LongTensor], "sr must be int64")
      var e = 0f
      win.foreach(x => e += x * x)
      val rms = math.sqrt(e / win.length).toFloat
      val st2 = st.clone(); st2(0) += 1f
      Map("output" -> FloatTensor(Array(1L, 1L), Array(math.min(1f, rms * 4f))),
        "stateN" -> FloatTensor(sshape, st2))
    }
  }

  /** Replay provider — serializable, counts executor-side creations. */
  final case class RecordedProvider(name: String,
      fixtures: Map[String, Map[String, Tensor]]) extends SessionProvider {
    def create(): OnnxSession = {
      sessionCreations.incrementAndGet()
      new RecordedOnnxSession(fixtures)
    }
  }
}

class OnnxSpec extends SparkSpec {
  import spark.implicits._
  import OnnxTestKit._

  private def captureProvider(name0: String, rec: RecordingSession): SessionProvider =
    new SessionProvider {
      val name = name0
      def create(): OnnxSession = rec
    }

  test("onnxruntime jar absence is reported loudly; presence runs the real Identity fixture") {
    val model = graft.pipeline.OnnxFixture.identityModel(4)
    // the wire structure must be sound either way: ir_version(1),
    // graph(7), opset_import(8) at the top level (onnx.proto3 numbers)
    val top = graft.pipeline.OnnxFixture.selfCheck(model)
    assert(Set(1, 7, 8).subsetOf(top), s"fixture top-level fields: $top")
    if (!OnnxRuntimeJvm.available) {
      intercept[UnsupportedOperationException](OnnxRuntimeJvm.load(model))
    } else {
      // real runtime on the classpath: drive the reflective path with
      // the hand-assembled model — marshalling in, Identity out
      val session = OnnxRuntimeJvm.load(model)
      try {
        val in = graft.pipeline.Onnx.FloatTensor(Array(2L, 4L),
          Array(1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f))
        val out = session.run(Map("in" -> in))
        assert(out.size == 1)
        out.values.head match {
          case graft.pipeline.Onnx.FloatTensor(shape, data) =>
            assert(shape.sameElements(Array(2L, 4L)) && data.sameElements(in.data))
          case t => fail(s"unexpected output $t")
        }
      } finally session.close()
    }
  }

  test("DNSMOS ONNX marshalling: record once, replay through Spark bit-identically, one session per JVM") {
    val rnd = new scala.util.Random(11)
    val winLen = 160
    val windows = (for (f <- Seq("a", "b"); k <- 0 until 3) yield
      (f, Array.fill(winLen)(rnd.nextFloat() * 0.8f - 0.4f))).toIndexedSeq

    // 1. record golden fixtures against the deterministic reference
    //    session — per-window [1,L] runs AND one [3,L] batched run
    val rec = new RecordingSession(new FakeDnsmosSession)
    val capModel = new OnnxDnsmos(captureProvider("dnsmos-capture", rec))
    val perWindow = windows.map(w => capModel.predictBatch(Seq(w)).head)
    val batched3 = capModel.predictBatch(windows.take(3))
    assert(batched3 == perWindow.take(3).toList,
      "[B,L] batched run must score each row exactly like its [1,L] run")
    val fixtures = rec.fixtures

    // 2. replay through the full Spark inference shell (batchSize=1 →
    //    every task run hits a recorded [1,L] fingerprint exactly)
    sessionCreations.set(0)
    val provider = RecordedProvider("dnsmos-replay", fixtures)
    val scored = Transcription.dnsmosScores(
      windows.toDF("file", "win"), "onnx_dnsmos_replay",
      () => new OnnxDnsmos(provider), batchSize = 1)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val expected = perWindow.groupBy(_._1).map { case (f, xs) =>
      f -> (xs.length.toLong,
        xs.map(_._2).sum / xs.length, xs.map(_._3).sum / xs.length,
        xs.map(_._4).sum / xs.length)
    }
    assert(scored.keySet == expected.keySet)
    for ((f, (n, ovr, sig, bak)) <- expected) {
      val (n2, o2, s2, b2) = scored(f)
      assert(n2 == n)
      assert(math.abs(o2 - ovr) < 1e-9 && math.abs(s2 - sig) < 1e-9
        && math.abs(b2 - bak) < 1e-9, s"$f scores differ")
    }
    // one cached session per JVM regardless of task/thread count
    assert(sessionCreations.get() == 1,
      s"expected 1 session creation, got ${sessionCreations.get()}")
  }

  test("DNSMOS sub-batches mixed window lengths (mixed sample rates), preserving row order") {
    val w1 = Array.fill(100)(0.1f); val w2 = Array.fill(200)(0.2f)
    val xs = Seq(("a", w1), ("b", w2), ("c", w1), ("d", w2))
    val rec = new RecordingSession(new FakeDnsmosSession)
    val m = new OnnxDnsmos(captureProvider("dnsmos-mixed", rec))
    val out = m.predictBatch(xs)
    assert(out.map(_._1) == Seq("a", "b", "c", "d"),
      "sub-batching must not reorder rows (the shell aligns positionally)")
    val single = xs.map(x => m.predictBatch(Seq(x)).head)
    assert(out == single, "sub-batched scores must equal per-window scores")
  }

  test("OnnxModelFile decodes ModelProto metadata (proven against the fixture writer)") {
    import graft.pipeline.{OnnxFixture, OnnxModelFile}
    val mi = OnnxModelFile.inspect(OnnxFixture.identityModel(144160L)) match {
      case m: OnnxModelFile.ModelInfo => m
      case other => fail(s"expected ModelInfo, got $other")
    }
    assert(mi.irVersion == 8L)
    assert(mi.opsets == Seq("" -> 13L))
    assert(mi.graphName == "graft_identity")
    assert(mi.opTypes == Seq("Identity"))
    assert(mi.initializers.isEmpty)
    val in = mi.runtimeInputs match {
      case Seq(one) => one
      case other => fail(s"expected one runtime input, got $other")
    }
    assert(in.name == "in" && in.elemType == 1) // float32
    assert(in.dims == Seq(-1L, 144160L) && in.dimParams == Map(0 -> "N"))
    // the engine's DNSMOS window arithmetic must hit the declared
    // per-item width: winSec 9.01 at 16 kHz (dnsmos.py:23-24,130)
    assert((16000L * 9.01).toLong == in.fixedNumel,
      s"sr*winSec = ${(16000L * 9.01).toLong} != model width ${in.fixedNumel}")
    assert(mi.outputs.map(_.name) == Seq("out"))
    // non-protobuf garbage fails loudly, not silently
    intercept[IllegalArgumentException] {
      OnnxModelFile.inspect("not a model".getBytes("UTF-8"))
    }
  }

  test("OnnxModelFile decodes a byte literal laid out like a real exporter's ModelProto") {
    import graft.pipeline.OnnxModelFile
    // Hand-encoded (hex literal, NOT produced by OnnxFixture's writer)
    // with the exact onnx.proto3 numbers and the surround real
    // exporters emit: producer_name(2)/producer_version(3) strings, an
    // initializer-backed weight listed in TensorProto, graph at FIELD 7,
    // opset_import at FIELD 8, and a metadata_props(14) entry. A parser
    // that reads the graph at 8 or opsets at 14 (the pre-r9 bug)
    // misparses this into garbage; the fixture writer can't catch that
    // because it shares its numbers with the parser.
    val hex = "0808120c6f6e6e782d6578616d706c651a06312e31362e303a560a130a0178" +
      "1201791a0572656c7530220452656c75120474696e792a0d0801100122040000803f42" +
      "01775a140a0178120f0a0d080112090a0312014e0a02080362140a0179120f0a0d0801" +
      "12090a0312014e0a0208034202101172190a0e636f6e7665727465645f66726f6d1207" +
      "7079746f726368"
    val bytes = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val mi = OnnxModelFile.inspect(bytes) match {
      case m: OnnxModelFile.ModelInfo => m
      case other => fail(s"expected ModelInfo, got $other")
    }
    assert(mi.irVersion == 8L)
    assert(mi.opsets == Seq("" -> 17L)) // proto3 omits the empty default domain
    assert(mi.graphName == "tiny")
    assert(mi.opTypes == Seq("Relu"))
    assert(mi.initializers == Seq("w"))
    assert(mi.inputs.map(_.name) == Seq("x") && mi.outputs.map(_.name) == Seq("y"))
    assert(mi.inputs.head.dims == Seq(-1L, 3L) &&
      mi.inputs.head.dimParams == Map(0 -> "N"))
  }

  test("reference model files are git-lfs pointers, not weights — pinned provenance audit") {
    assume(Files.isDirectory(Paths.get("/root/reference")), "reference checkout not present")
    import graft.pipeline.OnnxModelFile
    // The snapshot ships 132/133-byte git-lfs pointer stubs where
    // dnsmos.py:149 / source_separation_config.json expect model
    // bytes: the live-ONNX gap is a CHECKOUT property, not an engine
    // one. Pin the pointer facts so any future snapshot that does
    // carry real weights flips this test and unblocks the live path.
    val dnsmos = OnnxModelFile.inspectFile(
      "/root/reference/modules/models/sig_bak_ovr.onnx")
    assert(dnsmos == OnnxModelFile.LfsPointer(
      "269fbebdb513aa23cddfbb593542ecc540284a91849ac50516870e1ac78f6edd",
      1157965L), s"got $dnsmos")
    val uvr = OnnxModelFile.inspectFile(
      "/root/reference/modules/models/UVR-MDX-NET-Inst_HQ_3.onnx")
    assert(uvr == OnnxModelFile.LfsPointer(
      "317554b07fe1ea5279a77f2b1520a41ea4b93432560c4ffd08792c30fddf9adc",
      66759214L), s"got $uvr")
  }

  test("inspectFile gates a session build: pointer stubs are rejected before any runtime load") {
    import graft.pipeline.{OnnxFixture, OnnxModelFile}
    // the pre-flight a cluster job runs before shipping a model to
    // executors: LfsPointer -> abort with the pull hint; ModelInfo ->
    // check the runtime-input width against the window arithmetic
    def preflight(bytes: Array[Byte], expectWidth: Long): Either[String, Long] =
      OnnxModelFile.inspect(bytes) match {
        case OnnxModelFile.LfsPointer(oid, n) =>
          Left(s"model file is a git-lfs pointer (oid $oid, $n bytes); run git lfs pull")
        case m: OnnxModelFile.ModelInfo =>
          val w = m.runtimeInputs.head.fixedNumel
          if (w == expectWidth) Right(w)
          else Left(s"model declares width $w, window arithmetic produces $expectWidth")
      }
    // the pointer stub: git-lfs spec v1 text for the oid and size the
    // provenance audit pins for sig_bak_ovr.onnx (132 bytes by that
    // layout), cross-checked against the real stub wherever the
    // reference checkout exists
    val ptr = ("version https://git-lfs.github.com/spec/v1\n" +
      "oid sha256:269fbebdb513aa23cddfbb593542ecc540284a91849ac50516870e1ac78f6edd\n" +
      "size 1157965\n").getBytes("UTF-8")
    assert(ptr.length == 132)
    val refStub = Paths.get("/root/reference/modules/models/sig_bak_ovr.onnx")
    if (Files.exists(refStub))
      assert(Files.readAllBytes(refStub).sameElements(ptr), s"$refStub differs from the spec-v1 stub")
    assert(preflight(ptr, 144160L).isLeft)
    assert(preflight(OnnxFixture.identityModel(144160L), 144160L) == Right(144160L))
    assert(preflight(OnnxFixture.identityModel(512L), 144160L).isLeft)
  }

  test("Silero VAD ONNX: RNN state threading is pinned by the fixture fingerprints") {
    // 16 kHz; speech burst in [0.256s, 0.768s) (windows 8..23 of 512)
    val sr = 16000
    val w = new Array[Float](sr)
    for (i <- 8 * 512 until 24 * 512) w(i) = 0.5f
    val audio = Seq(AudioFile("x", sr, w), AudioFile("y", sr, w.map(_ * 0f)))

    val rec = new RecordingSession(new FakeSileroSession)
    val capModel = new OnnxSileroVad(captureProvider("vad-capture", rec))
    val expected = capModel.predictBatch(audio)
    // the loud file has exactly one segment over the burst; silence none
    assert(expected(1).isEmpty)
    assert(expected.head.nonEmpty)
    val seg = expected.head.head
    assert(math.abs(seg.start - 8 * 512.0 / sr) < 1e-9
      && math.abs(seg.end - 24 * 512.0 / sr) < 1e-9, s"got $seg")

    // replay through Spark: state must thread window-to-window exactly,
    // or fingerprints miss and the recorded session throws
    val provider = RecordedProvider("vad-replay", rec.fixtures)
    val out = InferenceOp.mapBatched[AudioFile, Seq[graft.model.Segment]](
      audio.toDS(), "onnx_vad_replay",
      () => new OnnxSileroVad(provider), batchSize = 1)
      .collect().toSeq.flatten.sortBy(_.start)
    assert(out == expected.flatten.sortBy(_.start))

    // an unrecorded input (hence any marshalling/state drift) fails loudly
    val empty = new OnnxSileroVad(RecordedProvider("vad-empty", Map.empty))
    intercept[NoSuchElementException](
      empty.predictBatch(Seq(AudioFile("z", sr, new Array[Float](600)))))
  }
}
