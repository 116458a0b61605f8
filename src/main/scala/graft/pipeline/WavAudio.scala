package graft.pipeline

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.model.AudioFile

/** S2 — REAL audio decode: WAV/AIFF/AU via `javax.sound.sampled` (in
  * the JDK, no external runtime) and FLAC via the pure-JVM
  * [[FlacAudio]] decoder, replacing the mock decode seam for the
  * container-friendly formats. Reference call sites:
  * `separation_filter.py:101,207` (librosa load), `vad_multi.py:28`.
  *
  * Decode runs behind the same [[BatchModel]] inference shell as every
  * other kernel — per-executor instantiation, fixed-size batches inside
  * `mapPartitions` — so swapping in codecs for other containers changes
  * only the `predictBatch` body, and the relational plumbing
  * (binaryFile glob scan → decode → VAD → …) is identical for mock and
  * real bytes.
  */
object WavAudio {

  /** Decode a WAV container to (sampleRate, mono float samples in
    * [−1, 1]). Any PCM encoding javax.sound can convert is accepted;
    * multi-channel audio is averaged to mono (the reference loads
    * `mono=True`).
    */
  def decode(bytes: Array[Byte]): (Int, Array[Float]) = {
    // FLAC, MP3 and Ogg/Vorbis are decoded by the pure-JVM codecs
    // ([[FlacAudio]], [[Mp3Audio]], [[VorbisAudio]]); everything else
    // goes through javax.sound
    if (bytes != null && bytes.length >= 4 && bytes(0) == 'f' && bytes(1) == 'L'
        && bytes(2) == 'a' && bytes(3) == 'C')
      return FlacAudio.decode(bytes)
    if (Mp3Audio.looksLikeMp3(bytes))
      return Mp3Audio.decode(bytes)
    if (bytes != null && bytes.length >= 4 && bytes(0) == 'O' && bytes(1) == 'g'
        && bytes(2) == 'g' && bytes(3) == 'S') {
      val res = VorbisAudio.decode(bytes)
      require(res.packetsOk > 0 &&
        res.packetsOk * 2 >= res.packetsOk + res.packetsFailed,
        s"only ${res.packetsOk}/${res.packetsOk + res.packetsFailed} vorbis packets decoded")
      val mono =
        if (res.channels == 1) res.samples(0)
        else Array.tabulate(res.samples(0).length) { i =>
          var acc = 0f
          res.samples.foreach(chArr => acc += chArr(i))
          acc / res.channels
        }
      return (res.sampleRate, mono)
    }
    // AAC: ADTS sync or ISO-BMFF ftyp (the .aac/.m4a globs) — pure-JVM
    // AAC-LC decode; anything the demux/grammar rejects stays loud (S10)
    if (AacAudio.looksLikeAdts(bytes))
      return AacAudio.decodeAdts(bytes)
    if (AacAudio.looksLikeM4a(bytes))
      return AacAudio.decodeM4a(bytes)
    val raw = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    try {
      val src = raw.getFormat
      val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        src.getSampleRate, 16, src.getChannels,
        src.getChannels * 2, src.getSampleRate, false)
      val in: AudioInputStream =
        if (src.matches(target)) raw else AudioSystem.getAudioInputStream(target, raw)
      val data = in.readAllBytes()
      val ch = target.getChannels
      val nFrames = data.length / (2 * ch)
      val out = new Array[Float](nFrames)
      var f = 0
      while (f < nFrames) {
        var acc = 0f
        var c = 0
        while (c < ch) {
          val o = (f * ch + c) * 2
          val s = ((data(o) & 0xff) | (data(o + 1) << 8)).toShort
          acc += s / 32768f
          c += 1
        }
        out(f) = acc / ch
        f += 1
      }
      (target.getSampleRate.toInt, out)
    } finally raw.close()
  }

  /** Encode mono float samples to a 16-bit PCM WAV container (the test
    * fixture generator and the round-trip dual of [[decode]]).
    */
  def encode(sr: Int, samples: Array[Float]): Array[Byte] =
    encodeAs(sr, samples, AudioFileFormat.Type.WAVE)

  /** Encode to any javax.sound container (WAVE little-endian, AIFF/AU
    * big-endian — the container's native sample order). [[decode]]
    * auto-detects all of them, so the decode seam is genuinely
    * multi-format: three real containers here plus the pure-JVM codecs
    * it dispatches by magic — FLAC ([[FlacAudio]]), MP3 ([[Mp3Audio]]),
    * Ogg/Vorbis ([[VorbisAudio]]) and AAC in ADTS or M4A
    * ([[AacAudio]]).
    */
  def encodeAs(sr: Int, samples: Array[Float],
               container: AudioFileFormat.Type): Array[Byte] = {
    val bigEndian = container != AudioFileFormat.Type.WAVE
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val clamped = math.max(-1f, math.min(1f, samples(i)))
      val s = math.round(clamped * 32767f).toShort
      val (b0, b1) = ((s & 0xff).toByte, ((s >> 8) & 0xff).toByte)
      if (bigEndian) { pcm(i * 2) = b1; pcm(i * 2 + 1) = b0 }
      else { pcm(i * 2) = b0; pcm(i * 2 + 1) = b1 }
      i += 1
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, sr.toFloat, 16, 1, 2,
      sr.toFloat, bigEndian)
    val in = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(in, container, bos)
    bos.toByteArray
  }

  /** The decode kernel as a [[BatchModel]]: (file, bytes) → [[AudioFile]]. */
  final class WavDecodeModel extends BatchModel[(String, Array[Byte]), AudioFile] {
    val name = "wav_decode"
    def predictBatch(xs: Seq[(String, Array[Byte])]): Seq[AudioFile] =
      xs.map { case (file, bytes) =>
        val (sr, wave) = decode(bytes)
        AudioFile(file, sr, wave)
      }
  }

  /** Decode a (file, wav-bytes) dataset through the inference shell. */
  def decodeDataset(ds: Dataset[(String, Array[Byte])], batchSize: Int = 8)
      : Dataset[AudioFile] = {
    import ds.sparkSession.implicits._
    InferenceOp.mapBatched[(String, Array[Byte]), AudioFile](
      ds, "wav_decode", () => new WavDecodeModel, batchSize)
  }

  /** S1+S2 composed — binaryFile glob scan of `*.wav` under `dir`
    * decoded to [[AudioFile]]s: the head of the real pipeline
    * (`vad_multi.py:22-28` directory walk + load).
    */
  def readWavDir(df: DataFrame): Dataset[AudioFile] = {
    import df.sparkSession.implicits._
    decodeDataset(df.selectExpr("path", "content").as[(String, Array[Byte])])
  }

  /** The decode kernel with per-record status (emits, never throws).
    * Status is decided per payload, so a corrupt payload fails only its
    * own row and no payload of its batch is decoded twice.
    */
  final class WavDecodeStatusModel
      extends BatchModel[(String, Array[Byte]), graft.model.DecodedAudio] {
    val name = "wav_decode_status"
    def predictBatch(xs: Seq[(String, Array[Byte])]): Seq[graft.model.DecodedAudio] =
      xs.map { case (file, bytes) =>
        try {
          val (sr, wave) = decode(bytes)
          graft.model.DecodedAudio(file, sr, wave, "completed", "")
        } catch {
          case scala.util.control.NonFatal(e) =>
            graft.model.DecodedAudio(file, 0, Array.empty, "failed",
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")
        }
      }
  }

  /** S2+S10 — decode with per-record fault isolation: a corrupt or
    * undecodable payload (the reference globs six formats,
    * `modules/models/utils.py:11-16`; [[decode]] handles all six) yields a
    * `status="failed"` row carrying the error instead of killing the
    * task (`vad_multi.py:48-54` per-file try/except). Tally with
    * [[graft.sources.Incremental.statusCounts]]; the failed subset is
    * the retry/quarantine set.
    */
  def decodeDatasetWithStatus(ds: Dataset[(String, Array[Byte])], batchSize: Int = 8)
      : Dataset[graft.model.DecodedAudio] = {
    import ds.sparkSession.implicits._
    InferenceOp.mapBatched[(String, Array[Byte]), graft.model.DecodedAudio](
      ds, "wav_decode_status", () => new WavDecodeStatusModel, batchSize)
  }
}
