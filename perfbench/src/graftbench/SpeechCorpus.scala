package graftbench

import graft.pipeline.{AacEncoder, FlacAudio, Mp3Encoder, MockModels, VorbisEncoder, WavAudio}
import graft.model.SpeakerSegment

/** A seeded synthetic podcast corpus for the speech pipeline.
  *
  * Voices are built for the engine's mock models: the VAD keys on
  * |x| > 0.1 held for 50 ms, diarization labels a span `speaker_0` when
  * its peak is above 0.5, and the mock embedder sums |x| into 16 bins by
  * sample index mod 16. So a voice is a positive level (0.105, above the
  * VAD threshold) plus one spike per 16 samples at a voice-specific
  * phase. Hosts spike to 0.955, guests to 0.445. Every burst and silence
  * starts on a multiple of 0.25 s and the pipeline pads VAD spans by
  * 0.125 s, so every span edge is an exact binary fraction and every
  * waveform slice starts on a multiple of 16 samples: a host's slices
  * embed to its print whatever the file. Lossy codecs shift and smear
  * the spikes, so host matches are asserted on lossless files only.
  */
object SpeechCorpus {
  val Sr = 16000
  val Codecs: Seq[String] = Seq("wav", "flac", "mp3", "vorbis", "aac")
  val Lossless: Set[String] = Set("wav", "flac")
  val Hosts: Int = 3
  val PadSec = 0.125
  private val Base = 0.105f

  final case class Item(round: Int, name: String, codec: String, host: Option[String],
                        corrupt: Boolean, bytes: Array[Byte], audioSec: Double)

  def hostId(h: Int): String = s"host_$h"
  private def hostPhase(h: Int): Int = (h * 5 + 1) % 16
  private def guestPhase(g: Int): Int = (g * 5 + 3) % 16

  private def fill(w: Array[Float], from: Int, to: Int, amp: Float, phase: Int): Unit = {
    var i = from
    while (i < math.min(to, w.length)) {
      w(i) = Base + (if ((i & 15) == phase) amp else 0f)
      i += 1
    }
  }

  /** A voice's clean embedding under the mock embedder — the host print. */
  def print(h: Int): Array[Float] = {
    val w = new Array[Float](Sr)
    fill(w, 0, Sr, 0.85f, hostPhase(h))
    new MockModels.MockEmbedder().predictBatch(Seq((SpeakerSegment("p", 0, 1, "p"), w))).head._2
  }

  def prints: Map[String, Array[Float]] = (0 until Hosts).map(h => hostId(h) -> print(h)).toMap

  /** One file: host bursts and guest bursts separated by silences. The
    * turn lengths follow the file's index, so every seed gives the corpus
    * the same shape (and the pipeline the same amount of work); the seed
    * picks the guests' voices and the arrival order.
    */
  def waveform(rng: java.util.SplittableRandom, seconds: Int, host: Int, idx: Int): Array[Float] = {
    val w = new Array[Float](seconds * Sr)
    val q = Sr / 4 // quarter-second grid
    var t = 2 * q
    var turn = 0
    while (t < w.length - 8 * q) {
      val hostTurn = turn % 2 == 0
      val k = turn * 5 + idx * 3
      val len = (if (hostTurn) 6 + k % 7 else 3 + k % 4) * q
      if (hostTurn) fill(w, t, t + len, 0.85f, hostPhase(host))
      else fill(w, t, t + len, 0.34f, guestPhase(rng.nextInt(3)))
      t += len + (2 + k % 3) * q
      turn += 1
    }
    w
  }

  def encode(codec: String, w: Array[Float]): Array[Byte] = codec match {
    case "wav" => WavAudio.encode(Sr, w)
    case "flac" => FlacAudio.encode(Sr, w)
    case "mp3" => Mp3Encoder.encodeLsf(Sr, w)
    case "vorbis" => VorbisEncoder.encode(Sr, w)
    case "aac" => AacEncoder.encode(Sr, w)
  }

  /** A payload no decoder accepts, dressed with a real container magic. */
  private def corruptPayload(rng: java.util.SplittableRandom, kind: Int): Array[Byte] = {
    val body = Array.fill[Byte](4096)(rng.nextInt(256).toByte)
    val magic = Seq("fLaC", "OggS", "RIFF")(kind % 3).getBytes("US-ASCII")
    System.arraycopy(magic, 0, body, 0, 4)
    // no MP3 frame sync anywhere, so no decoder can lock onto the noise
    var i = 4
    while (i < body.length) { if ((body(i) & 0xff) == 0xff) body(i) = 0x7f; i += 1 }
    body
  }

  /** `rounds` arrival rounds. Each round holds one valid file per codec,
    * the hosts taking turns file by file, plus the planted corrupt
    * payloads dealt round-robin over the rounds (each with the next
    * container magic), in a seeded order — so every increment carries the
    * same codec mix.
    */
  def generate(seed: Long, rounds: Int, seconds: Int, corrupt: Int): Seq[Item] = {
    val rng = new java.util.SplittableRandom(seed)
    (0 until rounds).flatMap { r =>
      val valid = Codecs.zipWithIndex.map { case (codec, c) =>
        val h = (r * Codecs.size + c) % Hosts
        val w = waveform(rng, seconds, h, r * Codecs.size + c)
        Item(r, f"ep$r%02d_$codec.$codec", codec, Some(hostId(h)), corrupt = false,
          encode(codec, w), w.length.toDouble / Sr)
      }
      val bad = (r until corrupt by rounds).map(b => Item(r,
        f"bad$b%02d.${Seq("flac", "ogg", "wav")(b % 3)}", "corrupt", None, corrupt = true,
        corruptPayload(rng, b), 0d))
      val round = (valid ++ bad).toArray
      var k = round.length - 1
      while (k > 0) {
        val j = rng.nextInt(k + 1)
        val tmp = round(k); round(k) = round(j); round(j) = tmp
        k -= 1
      }
      round.toSeq
    }
  }
}
