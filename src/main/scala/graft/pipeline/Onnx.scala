package graft.pipeline

import java.security.MessageDigest

import graft.model.{AudioFile, Segment}

/** M1/M10 — the ONNX Runtime JVM seam. The reference runs its
  * production kernels through ONNX sessions (Silero VAD
  * `modules/models/silero_vad.py:38-44`, DNSMOS
  * `modules/models/dnsmos.py:149-151`, UVR-MDX
  * `modules/models/separate_fast.py:228-234`) — the one model runtime
  * with a first-party JVM binding (`com.microsoft.onnxruntime:onnxruntime`,
  * public Maven). That jar is not in this container, so this file
  * provides the complete session-cache + tensor-marshalling layer
  * against a small [[OnnxSession]] interface with three interchangeable
  * implementations:
  *
  *  - [[OnnxRuntimeJvm]] — binds `ai.onnxruntime` REFLECTIVELY at
  *    runtime: drop the public onnxruntime jar on the executor
  *    classpath and real inference lights up with zero code change.
  *  - [[RecordedOnnxSession]] — replays golden fixtures keyed by an
  *    input fingerprint (names + shapes + exact float/long bits); the
  *    CI-able stand-in that proves the marshalling layer bit-for-bit.
  *  - The deterministic mocks ([[MockModels]]) stay as the default
  *    fallback, unchanged.
  *
  * Sessions are cached per executor JVM via [[ModelCache]] (the cluster
  * analog of the reference's per-thread model copies, `vad_multi.py:50`)
  * and fed fixed-size batches inside `mapPartitions` — 1000 executors
  * run 1000 sessions and the driver never sees a tensor.
  */
object Onnx {

  /** Dense row-major tensor; the two dtypes the reference models need
    * (float32 data, int64 aux inputs like Silero's `sr`).
    */
  sealed trait Tensor {
    def shape: Array[Long]
    def numel: Long = shape.product
    def fingerprintInto(md: MessageDigest): Unit
  }

  final case class FloatTensor(shape: Array[Long], data: Array[Float]) extends Tensor {
    require(numel == data.length, s"shape ${shape.mkString("x")} != ${data.length} floats")
    def fingerprintInto(md: MessageDigest): Unit = {
      md.update("f32".getBytes); shape.foreach(s => md.update(longBytes(s)))
      data.foreach(f => md.update(intBytes(java.lang.Float.floatToIntBits(f))))
    }
  }

  final case class LongTensor(shape: Array[Long], data: Array[Long]) extends Tensor {
    require(numel == data.length, s"shape ${shape.mkString("x")} != ${data.length} longs")
    def fingerprintInto(md: MessageDigest): Unit = {
      md.update("i64".getBytes); shape.foreach(s => md.update(longBytes(s)))
      data.foreach(l => md.update(longBytes(l)))
    }
  }

  private def longBytes(l: Long): Array[Byte] =
    Array.tabulate(8)(i => ((l >> (56 - 8 * i)) & 0xff).toByte)
  private def intBytes(i: Int): Array[Byte] =
    Array.tabulate(4)(b => ((i >> (24 - 8 * b)) & 0xff).toByte)

  /** Deterministic fingerprint of a named input set: md5 over
    * (name, dtype, shape, exact value bits) in name order. This is the
    * golden-fixture key — any marshalling drift (batch shape, padding,
    * float conversion) changes the key and fails the replay loudly.
    */
  def fingerprint(inputs: Map[String, Tensor]): String = {
    val md = MessageDigest.getInstance("MD5")
    inputs.toSeq.sortBy(_._1).foreach { case (n, t) =>
      md.update(n.getBytes("UTF-8")); t.fingerprintInto(md)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** One loaded model instance: named tensors in, named tensors out. */
  trait OnnxSession extends AutoCloseable {
    def run(inputs: Map[String, Tensor]): Map[String, Tensor]
    override def close(): Unit = ()
  }

  /** Serializable session factory — ships to executors; the session
    * itself is created lazily ONCE per executor via [[ModelCache]].
    */
  trait SessionProvider extends Serializable {
    def name: String
    def create(): OnnxSession
  }

  /** Per-executor cached session lookup. */
  def cachedSession(p: SessionProvider): OnnxSession =
    ModelCache.getOrCreate[OnnxSession](s"onnx:${p.name}")(p.create())

  // ------------------------------------------------- reflective runtime

  /** Reflective binding to the public `ai.onnxruntime` JVM API. Uses no
    * compile-time dependency: [[available]] is false when the jar is
    * absent and [[load]] throws a clear error that flows to the S10
    * failed-status path.
    */
  object OnnxRuntimeJvm {
    def available: Boolean =
      try { Class.forName("ai.onnxruntime.OrtEnvironment"); true }
      catch { case _: ClassNotFoundException | _: LinkageError => false }

    /** Create a real OrtSession from model bytes (reflection only). */
    def load(modelBytes: Array[Byte]): OnnxSession = {
      if (!available)
        throw new UnsupportedOperationException(
          "ai.onnxruntime not on the classpath — add the public onnxruntime jar " +
            "to the executor classpath or use a RecordedOnnxSession / mock")
      val envCls = Class.forName("ai.onnxruntime.OrtEnvironment")
      val env = envCls.getMethod("getEnvironment").invoke(null)
      val session = envCls.getMethod("createSession", classOf[Array[Byte]])
        .invoke(env, modelBytes)
      new ReflectiveSession(env, session)
    }

    private final class ReflectiveSession(env: AnyRef, session: AnyRef)
        extends OnnxSession {
      private val tensorCls = Class.forName("ai.onnxruntime.OnnxTensor")
      private val envCls = Class.forName("ai.onnxruntime.OrtEnvironment")
      private val sessionCls = Class.forName("ai.onnxruntime.OrtSession")

      private def toOrt(t: Tensor): AnyRef = t match {
        case FloatTensor(shape, data) =>
          tensorCls.getMethod("createTensor", envCls,
              classOf[java.nio.FloatBuffer], classOf[Array[Long]])
            .invoke(null, env, java.nio.FloatBuffer.wrap(data), shape)
        case LongTensor(shape, data) =>
          tensorCls.getMethod("createTensor", envCls,
              classOf[java.nio.LongBuffer], classOf[Array[Long]])
            .invoke(null, env, java.nio.LongBuffer.wrap(data), shape)
      }

      def run(inputs: Map[String, Tensor]): Map[String, Tensor] = {
        val ortIn = new java.util.HashMap[String, AnyRef]()
        inputs.foreach { case (k, v) => ortIn.put(k, toOrt(v)) }
        try runAndRead(ortIn)
        finally {
          // input OnnxTensors are native-backed AutoCloseables: leaving
          // them to the GC leaks native memory one batch at a time
          val it = ortIn.values().iterator()
          while (it.hasNext) it.next() match {
            case c: AutoCloseable => try c.close() catch { case _: Exception => () }
            case _ => ()
          }
        }
      }

      private def runAndRead(ortIn: java.util.Map[String, AnyRef]): Map[String, Tensor] = {
        val result = sessionCls.getMethod("run", classOf[java.util.Map[_, _]])
          .invoke(session, ortIn)
        try {
          val out = scala.collection.mutable.Map.empty[String, Tensor]
          val it = result.asInstanceOf[java.lang.Iterable[AnyRef]].iterator()
          while (it.hasNext) {
            val entry = it.next() // Map.Entry<String, OnnxValue>
            val key = entry.getClass.getMethod("getKey").invoke(entry).asInstanceOf[String]
            val value = entry.getClass.getMethod("getValue").invoke(entry)
            val info = value.getClass.getMethod("getInfo").invoke(value)
            val shape = info.getClass.getMethod("getShape").invoke(info)
              .asInstanceOf[Array[Long]]
            // non-tensor values (sequence/map) have no getFloatBuffer, and
            // int64/etc tensors answer it with null — surface a typed
            // error rather than an opaque reflective NoSuchMethod/NPE
            val fbMethod =
              try value.getClass.getMethod("getFloatBuffer")
              catch { case _: NoSuchMethodException =>
                throw new UnsupportedOperationException(
                  s"ONNX output '$key' is not a tensor (${value.getClass.getName}); only float32 tensor outputs are supported")
              }
            val fb = fbMethod.invoke(value)
              .asInstanceOf[java.nio.FloatBuffer]
            if (fb == null)
              throw new UnsupportedOperationException(
                s"ONNX output '$key' is not float32 (shape ${shape.mkString("x")}); only float32 tensor outputs are supported")
            val arr = new Array[Float](fb.remaining())
            fb.get(arr)
            out(key) = FloatTensor(shape, arr)
          }
          out.toMap
        } finally result.getClass.getMethod("close").invoke(result)
      }

      override def close(): Unit =
        session.getClass.getMethod("close").invoke(session)
    }
  }

  // --------------------------------------------------- recorded session

  /** Golden-fixture session: replays recorded outputs keyed by the
    * input [[fingerprint]]. An unrecorded input throws (→ S10) — a
    * recorded model never silently invents outputs.
    */
  final class RecordedOnnxSession(
      fixtures: Map[String, Map[String, Tensor]]) extends OnnxSession {
    def run(inputs: Map[String, Tensor]): Map[String, Tensor] = {
      val fp = fingerprint(inputs)
      fixtures.getOrElse(fp, throw new NoSuchElementException(
        s"no recorded ONNX fixture for input fingerprint $fp " +
          s"(inputs: ${inputs.keys.toSeq.sorted.mkString(",")})"))
    }
  }

  /** Wraps any session and captures (fingerprint → outputs) — run once
    * against the real runtime (or a reference implementation) to mint
    * the golden fixtures a [[RecordedOnnxSession]] replays.
    */
  final class RecordingSession(inner: OnnxSession) extends OnnxSession {
    private val rec = scala.collection.mutable.Map.empty[String, Map[String, Tensor]]
    def run(inputs: Map[String, Tensor]): Map[String, Tensor] = {
      val out = inner.run(inputs)
      rec(fingerprint(inputs)) = out
      out
    }
    def fixtures: Map[String, Map[String, Tensor]] = rec.toMap
    override def close(): Unit = inner.close()
  }

  // ------------------------------------------------------ DNSMOS (M10)

  /** M10 — DNSMOS through an ONNX session (`dnsmos.py:149-151`): the
    * reference feeds `{"input_1": float32[1, winLen]}` per hop window
    * and reads `[1, 3]` = (SIG_raw, BAK_raw, OVRL_raw). This model
    * batches B windows into ONE `[B, winLen]` run — same weights, one
    * session call per batch instead of per window — and emits the
    * (file, ovrl_raw, sig_raw, bak_raw) rows [[Transcription.dnsmosScores]]
    * aggregates (A9 means). Same I/O shape as [[MockModels.MockDnsmos]],
    * so the two are drop-in interchangeable behind [[InferenceOp]].
    */
  final class OnnxDnsmos(provider: SessionProvider)
      extends BatchModel[(String, Array[Float]), (String, Double, Double, Double)] {
    val name = s"onnx_dnsmos:${provider.name}"
    def predictBatch(xs: Seq[(String, Array[Float])])
        : Seq[(String, Double, Double, Double)] = {
      if (xs.isEmpty) return Nil
      // a mixed-sample-rate corpus puts different window lengths in one
      // partition batch (winLen = sr·winSec per file): sub-batch by
      // length so the [B, L] run stays rectangular and the model stays
      // drop-in interchangeable with the per-window mock
      if (xs.exists(_._2.length != xs.head._2.length)) {
        val results = new Array[(String, Double, Double, Double)](xs.length)
        xs.zipWithIndex.groupBy(_._1._2.length).foreach { case (_, group) =>
          group.zip(predictBatch(group.map(_._1))).foreach {
            case ((_, idx), o) => results(idx) = o
          }
        }
        return results.toSeq
      }
      val winLen = xs.head._2.length
      val batch = new Array[Float](xs.length * winLen)
      xs.zipWithIndex.foreach { case ((_, w), i) =>
        System.arraycopy(w, 0, batch, i * winLen, winLen)
      }
      val session = cachedSession(provider)
      val out = session.run(Map("input_1" ->
        FloatTensor(Array(xs.length.toLong, winLen.toLong), batch)))
      // DNSMOS exports one output; a multi-output model would make
      // `values.head` pick one at the Map's iteration whim — fail loud
      // instead and let the caller name the tensor explicitly.
      require(out.size == 1,
        s"DNSMOS session returned ${out.size} outputs (${out.keys.mkString(",")}); expected exactly one")
      val scores = out.values.head match {
        case FloatTensor(shape, data) =>
          require(shape.sameElements(Array(xs.length.toLong, 3L)),
            s"DNSMOS output shape ${shape.mkString("x")} != ${xs.length}x3")
          data
        case t => throw new IllegalStateException(s"DNSMOS returned $t")
      }
      xs.zipWithIndex.map { case ((file, _), i) =>
        // reference unpack order: sig, bak, ovr (dnsmos.py:151)
        val sig = scores(i * 3).toDouble
        val bak = scores(i * 3 + 1).toDouble
        val ovr = scores(i * 3 + 2).toDouble
        (file, ovr, sig, bak)
      }
    }
  }

  // -------------------------------------------------- Silero VAD (M1)

  /** M1 — Silero VAD through an ONNX session (`silero_vad.py:38-44` via
    * torch.hub onnx=True): 512-sample windows at 16 kHz, each run
    * `{"input": [1, 512], "sr": int64[1], "state": [2, 1, 128]}` →
    * `{"output": [1, 1] speech prob, "stateN": [2, 1, 128]}` with the
    * RNN state threaded window-to-window WITHIN a file and reset
    * between files. Probabilities become segments with the public
    * get_speech_timestamps hysteresis: enter at `threshold`, exit at
    * `negThreshold`, drop speech runs under `minSpeechSec`, bridge
    * silences under `minSilenceSec`.
    */
  final class OnnxSileroVad(provider: SessionProvider,
      threshold: Float = 0.5f, negThreshold: Float = 0.35f,
      minSpeechSec: Double = 0.25, minSilenceSec: Double = 0.1,
      windowSamples: Int = 512)
      extends BatchModel[AudioFile, Seq[Segment]] {
    val name = s"onnx_silero:${provider.name}"

    def predictBatch(xs: Seq[AudioFile]): Seq[Seq[Segment]] = {
      val session = cachedSession(provider)
      xs.map { a =>
        val probs = windowProbs(session, a)
        probsToSegments(a, probs)
      }
    }

    private def windowProbs(session: OnnxSession, a: AudioFile): Array[Float] = {
      val n = a.waveform.length
      val nWin = (n + windowSamples - 1) / windowSamples
      val probs = new Array[Float](nWin)
      var state = FloatTensor(Array(2L, 1L, 128L), new Array[Float](2 * 128))
      var w = 0
      while (w < nWin) {
        val win = new Array[Float](windowSamples) // zero-padded tail
        val len = math.min(windowSamples, n - w * windowSamples)
        System.arraycopy(a.waveform, w * windowSamples, win, 0, len)
        val out = session.run(Map(
          "input" -> FloatTensor(Array(1L, windowSamples.toLong), win),
          "sr" -> LongTensor(Array(1L), Array(a.sr.toLong)),
          "state" -> state))
        probs(w) = out("output") match {
          case FloatTensor(_, d) => d(0)
          case t => throw new IllegalStateException(s"VAD output $t")
        }
        out.get("stateN").foreach {
          case f: FloatTensor => state = f
          case _ => ()
        }
        w += 1
      }
      probs
    }

    /** Hysteresis + min-duration post-processing (the public
      * get_speech_timestamps semantics, simplified to its deterministic
      * core): windows are `windowSamples/sr` seconds each.
      */
    private def probsToSegments(a: AudioFile, probs: Array[Float]): Seq[Segment] = {
      val winSec = windowSamples.toDouble / a.sr
      val raw = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      var inSpeech = false
      var start = 0d
      probs.zipWithIndex.foreach { case (p, i) =>
        if (!inSpeech && p >= threshold) { inSpeech = true; start = i * winSec }
        else if (inSpeech && p < negThreshold) {
          inSpeech = false; raw += ((start, i * winSec))
        }
      }
      if (inSpeech) raw += ((start, probs.length * winSec))
      // bridge short silences, then drop short speech
      val bridged = raw.foldLeft(List.empty[(Double, Double)]) {
        case ((ps, pe) :: tail, (s, e)) if s - pe < minSilenceSec =>
          (ps, e) :: tail
        case (acc, seg) => seg :: acc
      }.reverse
      val fileEnd = a.waveform.length.toDouble / a.sr
      bridged.filter { case (s, e) => e - s >= minSpeechSec }
        .map { case (s, e) => Segment(a.file, s, math.min(e, fileEnd)) }
    }
  }
}
