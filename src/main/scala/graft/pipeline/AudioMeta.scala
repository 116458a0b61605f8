package graft.pipeline

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

/** Byte-level audio container METADATA: probe, inject, and strip the
  * tag-carrying structures of the two lossless containers this engine
  * encodes ([[WavAudio]] RIFF/WAVE, [[FlacAudio]]) — the audio twin of
  * [[ImageMeta]] (L200) and the privacy-scrub surface a curation pass
  * over scraped audio needs: RIFF LIST/INFO tags and FLAC
  * VORBIS_COMMENT fields routinely carry artist/location/device
  * strings that must not survive into a training corpus.
  *
  * Everything here is the public container format, parsed directly:
  *  - RIFF/WAVE: `RIFF` + u32le size + `WAVE` + chunks, each
  *    4-byte id + u32le length + payload padded to even (the
  *    Microsoft/IBM RIFF spec); tags live in a `LIST` chunk of type
  *    `INFO` whose sub-chunks are NUL-terminated strings keyed by
  *    4-char tags (INAM title, IART artist, ICMT comment, ...).
  *  - FLAC: `fLaC` + metadata blocks, each 1-byte header (last-flag
  *    bit 7, type bits 0-6) + u24be length; VORBIS_COMMENT (type 4)
  *    holds a u32le-length vendor string and u32le-counted
  *    `KEY=value` fields (the Xiph comment spec, little-endian inside
  *    a big-endian container — deliberate in the spec); PADDING is
  *    type 1.
  *
  * `strip` rebuilds the container WITHOUT the metadata structures and
  * never touches the coded audio payload, so a decode of the stripped
  * file is bit-identical to the tagged one — the audit contract
  * [[graft.ops.Multimodal.audioMetaAudit]] certifies per row.
  *
  * Reference provenance: the reference pipeline ingests tagged
  * in-the-wild audio (modules/models/utils.py:11-16 globs arbitrary
  * `*.mp3,*.wav,*.flac,*.aac,*.ogg,*.m4a` downloads) but never
  * inspects or scrubs container tags; this is an extension surface
  * (SURVEY §2.11).
  */
object AudioMeta {

  import Bytes.{le32, putLe32}

  /** Probe result: `format` ("wav" | "flac"), `nFields` = tag fields
    * readable from the metadata structures (INFO sub-chunks / vorbis
    * comment fields), `metaBytes` = total container bytes occupied by
    * non-essential metadata (whole chunks/blocks including their own
    * headers — the bytes `strip` reclaims).
    */
  final case class AudioMetaInfo(format: String, nFields: Long,
      metaBytes: Long)

  // ------------------------------------------------------------------
  // RIFF/WAVE
  // ------------------------------------------------------------------

  private def isWav(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** Top-level RIFF chunks as (id, payloadOffset, payloadLen). */
  private def riffChunks(b: Array[Byte]): Seq[(String, Int, Int)] = {
    require(isWav(b), "not a RIFF/WAVE container")
    val out = Seq.newBuilder[(String, Int, Int)]
    var p = 12
    while (p + 8 <= b.length) {
      val id = new String(b, p, 4, US_ASCII)
      val len = le32(b, p + 4).toInt
      require(len >= 0 && p + 8 + len <= b.length,
        s"RIFF chunk '$id' at $p overruns the container")
      out += ((id, p + 8, len))
      p += 8 + len + (len & 1)
    }
    out.result()
  }

  /** Chunks the decoder needs — everything else is strippable
    * metadata (`fact` carries the PCM frame count some writers emit).
    */
  private val wavEssential = Set("fmt ", "data", "fact")

  private def rebuildWav(chunks: Seq[(String, Array[Byte])]): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    chunks.foreach { case (id, payload) =>
      body.write(id.getBytes(US_ASCII))
      body.write(putLe32(payload.length))
      body.write(payload)
      if ((payload.length & 1) == 1) body.write(0)
    }
    val out = new ByteArrayOutputStream()
    out.write("RIFF".getBytes(US_ASCII))
    out.write(putLe32(4 + body.size()))
    out.write("WAVE".getBytes(US_ASCII))
    body.writeTo(out)
    out.toByteArray
  }

  /** Insert a `LIST`/`INFO` tag chunk BEFORE the `data` chunk (where
    * every mainstream reader skips it). Each field value is written
    * NUL-terminated and padded to even length per the RIFF rules.
    */
  def wavWithInfo(wav: Array[Byte], fields: Seq[(String, String)]): Array[Byte] = {
    require(fields.forall(_._1.length == 4),
      "RIFF INFO tag ids are exactly 4 chars")
    val info = new ByteArrayOutputStream()
    info.write("INFO".getBytes(US_ASCII))
    fields.foreach { case (tag, value) =>
      val v = value.getBytes(UTF_8)
      val padded = v.length + 1 + ((v.length + 1) & 1)
      info.write(tag.getBytes(US_ASCII))
      info.write(putLe32(padded))
      info.write(v)
      var pad = padded - v.length
      while (pad > 0) { info.write(0); pad -= 1 }
    }
    val chunks = riffChunks(wav).map { case (id, off, len) =>
      (id, java.util.Arrays.copyOfRange(wav, off, off + len))
    }
    val (before, after) = chunks.span(_._1 != "data")
    rebuildWav(before ++ Seq(("LIST", info.toByteArray)) ++ after)
  }

  /** (nFields, metaBytes) over a WAV: INFO sub-chunk count and the
    * full on-disk size of every non-essential chunk.
    */
  private def wavMetaStats(b: Array[Byte]): (Long, Long) = {
    var nFields = 0L
    var metaBytes = 0L
    riffChunks(b).foreach { case (id, off, len) =>
      if (!wavEssential(id)) {
        metaBytes += 8L + len + (len & 1)
        if (id == "LIST" && len >= 4 &&
            new String(b, off, 4, US_ASCII) == "INFO") {
          var p = off + 4
          while (p + 8 <= off + len) {
            val sublen = le32(b, p + 4).toInt
            require(sublen >= 0 && p + 8 + sublen <= off + len,
              "INFO sub-chunk overruns its LIST")
            nFields += 1
            p += 8 + sublen + (sublen & 1)
          }
        }
      }
    }
    (nFields, metaBytes)
  }

  /** Drop every non-essential chunk; the coded payload is untouched. */
  def stripWav(b: Array[Byte]): Array[Byte] =
    rebuildWav(riffChunks(b).collect {
      case (id, off, len) if wavEssential(id) =>
        (id, java.util.Arrays.copyOfRange(b, off, off + len))
    })

  // ------------------------------------------------------------------
  // FLAC
  // ------------------------------------------------------------------

  private def isFlac(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 &&
      b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C'

  /** Metadata blocks as (type, payloadOffset, payloadLen); returns
    * (blocks, firstFrameOffset).
    */
  private def flacBlocks(b: Array[Byte]): (Seq[(Int, Int, Int)], Int) = {
    require(isFlac(b), "not a FLAC stream")
    val out = Seq.newBuilder[(Int, Int, Int)]
    var p = 4
    var last = false
    while (!last) {
      require(p + 4 <= b.length, "FLAC metadata header overruns stream")
      val h = FlacAudio.readBlockHeader(new Bitstream.BitReader(b, p * 8L, b.length * 8L))
      last = h.last
      require(p + 4 + h.length <= b.length,
        s"FLAC metadata block type ${h.blockType} overruns stream")
      out += ((h.blockType, p + 4, h.length))
      p += 4 + h.length
    }
    (out.result(), p)
  }

  private def rebuildFlac(b: Array[Byte], blocks: Seq[(Int, Array[Byte])],
      frames: Array[Byte]): Array[Byte] = {
    require(blocks.nonEmpty && blocks.head._1 == 0,
      "FLAC rebuild needs STREAMINFO first")
    val out = new ByteArrayOutputStream()
    out.write("fLaC".getBytes(US_ASCII))
    blocks.zipWithIndex.foreach { case ((tpe, payload), i) =>
      out.write(FlacAudio.blockHeader(i == blocks.size - 1, tpe, payload.length))
      out.write(payload)
    }
    out.write(frames)
    out.toByteArray
  }

  private def parsedFlac(b: Array[Byte]): (Seq[(Int, Array[Byte])], Array[Byte]) = {
    val (blocks, frameOff) = flacBlocks(b)
    (blocks.map { case (tpe, off, len) =>
      (tpe, java.util.Arrays.copyOfRange(b, off, off + len))
    }, java.util.Arrays.copyOfRange(b, frameOff, b.length))
  }

  /** Append a VORBIS_COMMENT block (type 4) after the existing
    * metadata: u32le vendor length + vendor, u32le field count, then
    * per field u32le length + `KEY=value` UTF-8 bytes (the Xiph spec).
    */
  def flacWithVorbisComment(flac: Array[Byte], vendor: String,
      fields: Seq[(String, String)]): Array[Byte] = {
    val payload = new ByteArrayOutputStream()
    val v = vendor.getBytes(UTF_8)
    payload.write(putLe32(v.length)); payload.write(v)
    payload.write(putLe32(fields.size))
    fields.foreach { case (k, value) =>
      val f = s"$k=$value".getBytes(UTF_8)
      payload.write(putLe32(f.length)); payload.write(f)
    }
    val (blocks, frames) = parsedFlac(flac)
    rebuildFlac(flac, blocks :+ ((4, payload.toByteArray)), frames)
  }

  /** Append a PADDING block (type 1) of `n` zero bytes. */
  def flacWithPadding(flac: Array[Byte], n: Int): Array[Byte] = {
    val (blocks, frames) = parsedFlac(flac)
    rebuildFlac(flac, blocks :+ ((1, new Array[Byte](n))), frames)
  }

  /** (nFields, metaBytes): vorbis field counts and the full size
    * (header + payload) of every non-STREAMINFO block.
    */
  private def flacMetaStats(b: Array[Byte]): (Long, Long) = {
    val (blocks, _) = flacBlocks(b)
    var nFields = 0L
    var metaBytes = 0L
    blocks.foreach { case (tpe, off, len) =>
      if (tpe != 0) {
        metaBytes += 4L + len
        if (tpe == 4) {
          require(len >= 8, "VORBIS_COMMENT too short")
          val vlen = le32(b, off).toInt
          require(vlen >= 0 && off + 4 + vlen + 4 <= off + len,
            "VORBIS_COMMENT vendor overruns block")
          nFields += le32(b, off + 4 + vlen).toInt
        }
      }
    }
    (nFields, metaBytes)
  }

  /** Keep only STREAMINFO; the frame section is untouched. */
  def stripFlac(b: Array[Byte]): Array[Byte] = {
    val (blocks, frames) = parsedFlac(b)
    rebuildFlac(b, blocks.filter(_._1 == 0), frames)
  }

  // ------------------------------------------------------------------
  // Unified surface
  // ------------------------------------------------------------------

  def probeMeta(bytes: Array[Byte]): AudioMetaInfo =
    if (isWav(bytes)) {
      val (n, m) = wavMetaStats(bytes)
      AudioMetaInfo("wav", n, m)
    } else if (isFlac(bytes)) {
      val (n, m) = flacMetaStats(bytes)
      AudioMetaInfo("flac", n, m)
    } else throw new IllegalArgumentException(
      "audio metadata probe: neither RIFF/WAVE nor FLAC")

  def strip(bytes: Array[Byte]): Array[Byte] =
    if (isWav(bytes)) stripWav(bytes)
    else if (isFlac(bytes)) stripFlac(bytes)
    else throw new IllegalArgumentException(
      "audio metadata strip: neither RIFF/WAVE nor FLAC")
}
