package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{AacEncoder, FlacAudio, Mdct, Mp3Encoder, VorbisEncoder, WavAudio}

/** Codec MDCT kernel: the fast transform against the direct-form
  * definition, its size guard, and SHA-256 pins of every encoder's
  * bytes and of the float32 PCM each pinned stream decodes to.
  */
class MdctSpec extends AnyFunSuite {

  /** The definition both codecs share, cos(2π/n·(j + ½ + n/4)(k + ½)),
    * evaluated term by term: O(n²), kept only as the oracle.
    */
  private def basis(n: Int, j: Int, k: Int): Double =
    math.cos(2 * math.Pi / n * (j + 0.5 + n / 4.0) * (k + 0.5))

  private def directInverse(spec: Array[Double], n: Int): Array[Double] = {
    val cosTab = Array.tabulate(n, n / 2)((j, k) => basis(n, j, k))
    Array.tabulate(n)(j => (0 until n / 2).map(k => spec(k) * cosTab(j)(k)).sum)
  }

  private def directForward(x: Array[Double], win: Array[Double]): Array[Double] = {
    val n = x.length
    val cosTab = Array.tabulate(n / 2, n)((k, j) => basis(n, j, k))
    Array.tabulate(n / 2)(k => (0 until n).map(j => x(j) * win(j) * cosTab(k)(j)).sum * 4.0 / n)
  }

  private def relErr(fast: Array[Double], direct: Array[Double]): Double = {
    assert(fast.length == direct.length)
    fast.zip(direct).map { case (a, b) => math.abs(a - b) }.max / direct.map(math.abs).max
  }

  test("fast inverse and forward match the direct form at n = 64..8192") {
    for (n <- Seq(64, 256, 1024, 2048, 8192)) {
      val rnd = new scala.util.Random(n)
      val spec = Array.fill(n / 2)(rnd.nextGaussian())
      val x = Array.fill(n)(rnd.nextGaussian())
      val win = Array.fill(n)(rnd.nextGaussian())
      val inv = relErr(Mdct.inverse(spec, n), directInverse(spec, n))
      val fwd = relErr(Mdct.forward(x, win), directForward(x, win))
      assert(inv <= 1e-11, s"inverse n=$n relative error $inv")
      assert(fwd <= 1e-11, s"forward n=$n relative error $fwd")
    }
  }

  test("sizes that are not a power of two >= 8 throw, naming n") {
    for (n <- Seq(48, 0)) {
      val e1 = intercept[IllegalArgumentException](Mdct.inverse(new Array[Double](n / 2), n))
      assert(e1.getMessage.contains(s"n=$n"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](
        Mdct.forward(new Array[Double](n), new Array[Double](n)))
      assert(e2.getMessage.contains(s"n=$n"), e2.getMessage)
    }
  }

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  private def tone(sr: Int): Array[Float] =
    Array.tabulate(sr)(i => (0.5 * math.sin(2 * math.Pi * 500 * i / sr)).toFloat)

  /** Hashes of the encoders' output before the fast kernel replaced the
    * direct-form transform: the rewrite changed no byte.
    */
  private val pinned = Map(
    "aac shape=0 short=0 tns=false" -> "c6e347a844300bf980ab84c1ee786033f7edfaf3fefc7c69fb410f76020637f1",
    "aac shape=0 short=0 tns=true" -> "85e52da0ffed09162b86d678a2b6c42d227ef46271881cdb67823a7974fc239b",
    "aac shape=0 short=3 tns=false" -> "61fd4dca8d5b89d68ebf36b390eb43f47b22f19b8545c6267b5d297ec2e5bafa",
    "aac shape=0 short=3 tns=true" -> "2421eab28a90a9a15463be597451603882bab3017831f7f88d5e4b4725e38a28",
    "aac shape=1 short=0 tns=false" -> "4d197cc62a4c6664898b565c156944d1842b04d69ebbafe1d53a97c1e7dd393c",
    "aac shape=1 short=0 tns=true" -> "d2bb810d5feb1a03e98d0723b19ee1675d5944ebf15f1ad50043dbc629f0ac27",
    "aac shape=1 short=3 tns=false" -> "c87225859edc332cab236870e319bd403af373f5d0dbc33329c7f52880bf0708",
    "aac shape=1 short=3 tns=true" -> "de3d04f2181d5241e0717256278268262f7c7bee76f86c9796c89b88ca3f0514",
    "aac m4a" -> "acc4fc904c1090ae8360518807d36c414b61de9407101902a86b39e10b191a96",
    "vorbis" -> "227370022669ca44c71cf26b97159ef0c971b64c546e77476e1d1e07c90bb349",
    "vorbis mixed" -> "2a826ede0f9d0d9a453038c318163d4ccc5354d483819a0813c326599b32cf6f",
    // FLAC and MP3 bytes, and the decoded PCM of every pinned stream plus
    // one WAV, pinned before the codecs moved onto one bit reader/writer,
    // one canonical-Huffman builder and one decode trie
    "flac" -> "9b041d64d098c3f2a5a5fa2656c357b0a710642f5da92210116011a04e03b9a6",
    "flac lpc" -> "11ab5933769092ed8d6dcb85f3c836e4cd4afa42abe3fe1c0242afb512b884ec",
    "mp3 128" -> "e01be4a2d58d3d7b1ea64a0ca295746d012be70a5e0fbbbf7fa3a3ff8d714e0e",
    "mp3 lsf" -> "454b3dae5413da98192452fa8bfd50fa37fe64ba8012dc67bfdd2ecf9393de49",
    "pcm aac shape=0 short=0 tns=false" -> "5c43ddc4fc58587e62aa45ae8a4f355c31cd4aec52a2cc4d0c84e102be358a1e",
    "pcm aac shape=0 short=0 tns=true" -> "5c43ddc4fc58587e62aa45ae8a4f355c31cd4aec52a2cc4d0c84e102be358a1e",
    "pcm aac shape=0 short=3 tns=false" -> "35a07d538829eaa455933b05b4628dff682c38ee046741c98aeccf6cadea5800",
    "pcm aac shape=0 short=3 tns=true" -> "35a07d538829eaa455933b05b4628dff682c38ee046741c98aeccf6cadea5800",
    "pcm aac shape=1 short=0 tns=false" -> "9ab5e656160b3163e913602833b302a920ec35d1e2abae511f15028a5ac3bbab",
    "pcm aac shape=1 short=0 tns=true" -> "9ab5e656160b3163e913602833b302a920ec35d1e2abae511f15028a5ac3bbab",
    "pcm aac shape=1 short=3 tns=false" -> "cc487c6f59af3436337b6b0e25a94687fb441478b97a83aeb3de2d53bd28ca0a",
    "pcm aac shape=1 short=3 tns=true" -> "cc487c6f59af3436337b6b0e25a94687fb441478b97a83aeb3de2d53bd28ca0a",
    "pcm aac m4a" -> "5c43ddc4fc58587e62aa45ae8a4f355c31cd4aec52a2cc4d0c84e102be358a1e",
    "pcm vorbis" -> "0f4d3f23cf51aa1cb211f7b936a99d71820f269f0e9bff8e77f5a9d2636b46c4",
    "pcm vorbis mixed" -> "4072facb44658a1444f3256a0bafda9f41462dc5e3008fad054c456573806f5d",
    "pcm flac" -> "367819711f7344e74927f24229d06602bf7dc1893d11fae5e35e94d51c411671",
    "pcm flac lpc" -> "367819711f7344e74927f24229d06602bf7dc1893d11fae5e35e94d51c411671",
    "pcm mp3 128" -> "368c86ed2d969d4d0f9a64a06da68898708fb726847454668d7738c167e40353",
    "pcm mp3 lsf" -> "d4dbf6a1f7c26fe3259691a95f45f177a83fe954bc3e57586f06aa2e8b41aa00",
    "pcm wav" -> "367819711f7344e74927f24229d06602bf7dc1893d11fae5e35e94d51c411671")

  /** SHA-256 of the float32 samples [[WavAudio.decode]] returns. */
  private def pcmSha(bytes: Array[Byte]): String = {
    val (_, pcm) = WavAudio.decode(bytes)
    val bb = java.nio.ByteBuffer.allocate(4 * pcm.length)
    pcm.foreach(x => bb.putInt(java.lang.Float.floatToRawIntBits(x)))
    sha256(bb.array)
  }

  /** 20 s at 16 kHz: voiced bursts (a 220 Hz harmonic pair under a
    * 2.5 Hz envelope) over seeded noise, with 2 s of digital silence in
    * the middle. Its 320,000 samples run the decoders' output buffers
    * past the 65,536-sample growth point that the 1 s pins never reach.
    */
  private def speechLike(sr: Int): Array[Float] = {
    val rnd = new scala.util.Random(20)
    Array.tabulate(20 * sr) { i =>
      val t = i.toDouble / sr
      if (t >= 9.0 && t < 11.0) 0f
      else {
        val env = math.max(0.0, math.sin(2 * math.Pi * 2.5 * t))
        (env * (0.3 * math.sin(2 * math.Pi * 220 * t) + 0.15 * math.sin(2 * math.Pi * 660 * t)) +
          0.02 * rnd.nextGaussian()).toFloat
      }
    }
  }

  /** Decoded float32 PCM of [[speechLike]] per codec, pinned before the
    * decode loops moved onto reused buffers and table-driven CRCs.
    */
  private val pinnedLong = Map(
    "pcm flac 20s" -> "394e521e90fd172ab189046ec5f686a6256006c7316c5cd802f23bc01f10da72",
    "pcm mp3 lsf 20s" -> "9f65ae2c6aeb1ab31ad085ca026b48efac956b651b0c4fcfbed035b57da120d4",
    "pcm vorbis 20s" -> "de12025bca336e54c7cc17cc75e4fc73d285d599ba14d818f316dc8963b81c1f",
    "pcm aac 20s" -> "9d17d862b09965cb8d2ce3294f32de5048220e817a27aeeec5873c05ca5bff57")

  test("decoded PCM pins: FLAC, MP3 LSF, Vorbis and AAC ADTS on a 20 s 16 kHz stream") {
    val x = speechLike(16000)
    val streams = Map(
      "flac" -> FlacAudio.encode(16000, x),
      "mp3 lsf" -> Mp3Encoder.encodeLsf(16000, x),
      "vorbis" -> VorbisEncoder.encode(16000, x),
      "aac" -> AacEncoder.encode(16000, x))
    val got = streams.map { case (k, b) => s"pcm $k 20s" -> pcmSha(b) }
    assert(got.keySet == pinnedLong.keySet)
    val moved = pinnedLong.keys.toSeq.sorted.filter(k => got(k) != pinnedLong(k))
    assert(moved.isEmpty, s"pinned hashes changed: ${moved.map(k => s"$k -> ${got(k)}").mkString(", ")}")
  }

  test("encoder byte pins: AAC ADTS/M4A and Vorbis equal/mixed on a 1 s tone") {
    val aac = tone(24000)
    val vorbis = tone(16000)
    val streams =
      (for (shape <- Seq(0, 1); sp <- Seq(0, 3); tns <- Seq(false, true))
        yield s"aac shape=$shape short=$sp tns=$tns" ->
          AacEncoder.encode(24000, aac, shape, sp, tns)).toMap ++ Map(
        "aac m4a" -> AacEncoder.encodeM4a(24000, aac),
        "vorbis" -> VorbisEncoder.encode(16000, vorbis),
        "vorbis mixed" -> VorbisEncoder.encodeMixed(16000, vorbis),
        "flac" -> FlacAudio.encode(16000, vorbis),
        "flac lpc" -> FlacAudio.encode(16000, vorbis, lpc = true),
        "mp3 128" -> Mp3Encoder.encode(32000, tone(32000), 128),
        "mp3 lsf" -> Mp3Encoder.encodeLsf(16000, vorbis))
    val got = streams.map { case (k, b) => k -> sha256(b) } ++
      streams.map { case (k, b) => s"pcm $k" -> pcmSha(b) } +
      ("pcm wav" -> pcmSha(WavAudio.encode(16000, vorbis)))
    assert(got.keySet == pinned.keySet)
    val moved = pinned.keys.toSeq.sorted.filter(k => got(k) != pinned(k))
    assert(moved.isEmpty, s"pinned hashes changed for: ${moved.mkString(", ")}")
  }
}
