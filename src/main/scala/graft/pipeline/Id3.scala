package graft.pipeline

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** ID3v2 tag walk — the metadata container prepended to most MP3
  * files in the wild (the WAV RIFF-INFO / FLAC VORBIS_COMMENT sibling,
  * completing the audio-metadata privacy surface of
  * [[AudioMeta]]): a crawl's audio payloads carry titles, artists,
  * and comment frames that are PII the pipeline must see (for
  * provenance) and strip (for privacy) BEFORE the bytes reach a
  * corpus. Covers ID3v2.3 (plain big-endian frame sizes) and ID3v2.4
  * (SYNCSAFE frame sizes — 7 bits per byte so no 0xFF can appear,
  * the classic off-by-8× trap pinned in the spec tests); the tag
  * header size is syncsafe in both.
  *
  * Parsing is LOUD (bad magic, truncated frame, unsupported version
  * throw); [[strip]] returns the audio bytes after the tag, the
  * privacy-scrub output.
  */
object Id3 {

  /** One parsed frame: 4-char id, payload size, and the decoded text
    * for text frames (T*** with encoding byte 0 latin-1 / 3 UTF-8).
    */
  final case class Frame(id: String, size: Int, text: Option[String])

  /** One parsed tag: version (3 or 4), total tag size INCLUDING the
    * 10-byte header, frames in file order.
    */
  final case class Tag(versionMajor: Int, size: Int, frames: Seq[Frame])

  private[graft] def syncsafe(n: Int): Array[Byte] = {
    require(n >= 0 && n < (1 << 28), s"syncsafe range is 28 bits: $n")
    Array(((n >> 21) & 0x7f).toByte, ((n >> 14) & 0x7f).toByte,
      ((n >> 7) & 0x7f).toByte, (n & 0x7f).toByte)
  }

  private[graft] def unsyncsafe(b: Array[Byte], off: Int): Int = {
    (0 until 4).foreach(i => require((b(off + i) & 0x80) == 0,
      s"syncsafe byte with high bit set at offset ${off + i}"))
    ((b(off) & 0x7f) << 21) | ((b(off + 1) & 0x7f) << 14) |
      ((b(off + 2) & 0x7f) << 7) | (b(off + 3) & 0x7f)
  }

  /** Mint an ID3v2.3 or v2.4 tag followed by `audio`: text frames
    * (latin-1, encoding byte 0) from (frameId, text) pairs, then
    * `padding` zero bytes (fixture dual of [[probe]]/[[strip]]).
    */
  def mint(versionMajor: Int, frames: Seq[(String, String)],
      padding: Int, audio: Array[Byte]): Array[Byte] = {
    require(versionMajor == 3 || versionMajor == 4,
      s"ID3v2.$versionMajor not supported")
    val out = new java.io.ByteArrayOutputStream()
    val body = new java.io.ByteArrayOutputStream()
    frames.foreach { case (fid, text) =>
      require(fid.length == 4, s"bad frame id: $fid")
      val payload = 0.toByte +: text.getBytes(ISO_8859_1)
      body.write(fid.getBytes(ISO_8859_1))
      body.write(if (versionMajor == 4) syncsafe(payload.length)
        else Bytes.putBe32(payload.length))
      body.write(Array(0.toByte, 0.toByte))
      body.write(payload)
    }
    body.write(new Array[Byte](padding))
    out.write("ID3".getBytes(ISO_8859_1))
    out.write(Array(versionMajor.toByte, 0.toByte, 0.toByte))
    out.write(syncsafe(body.size()))
    body.writeTo(out)
    out.write(audio)
    out.toByteArray
  }

  /** True when the payload starts with an ID3v2 tag. */
  def hasTag(bytes: Array[Byte]): Boolean =
    bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
      bytes(2) == '3'

  /** Where the audio after a leading ID3v2 tag starts (0 without a
    * tag): the 10-byte header, the body size in its four syncsafe bytes
    * (7 bits each, the high bit ignored), and the 10-byte footer when
    * the v2.4 footer flag (flags bit 4) is set. The MP3 decoder and the
    * S3 probe skip the tag by it; unlike [[probe]] it accepts any
    * version and flags.
    */
  private[graft] def tagEnd(bytes: Array[Byte]): Int =
    if (!hasTag(bytes)) 0
    else 10 + (((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
      ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)) +
      (if ((bytes(5) & 0x10) != 0) 10 else 0)

  /** Parse the leading ID3v2 tag, loudly. */
  def probe(bytes: Array[Byte]): Tag = {
    require(hasTag(bytes), "no ID3v2 tag at offset 0")
    val ver = bytes(3) & 0xff
    require(ver == 3 || ver == 4, s"ID3v2.$ver not supported")
    require((bytes(5) & 0xff) == 0, "ID3v2 tag flags not supported")
    val bodySize = unsyncsafe(bytes, 6)
    require(10 + bodySize <= bytes.length,
      s"ID3v2 tag body ($bodySize) runs past end of payload")
    val frames = scala.collection.mutable.ArrayBuffer[Frame]()
    var pos = 10
    val end = 10 + bodySize
    var inPadding = false
    while (pos + 10 <= end && !inPadding) {
      if (bytes(pos) == 0) inPadding = true // padding reached
      else {
        val fid = new String(bytes, pos, 4, ISO_8859_1)
        require(fid.forall(c => c.isUpper || c.isDigit),
          s"bad ID3v2 frame id '$fid' at offset $pos")
        val size = if (ver == 4) unsyncsafe(bytes, pos + 4)
          else Bytes.be32(bytes, pos + 4).toInt
        require(size >= 0 && pos + 10 + size <= end,
          s"ID3v2 frame $fid ($size octets) runs past the tag body")
        val text =
          if (fid.startsWith("T") && size >= 1) {
            val enc = bytes(pos + 10) & 0xff
            require(enc == 0 || enc == 3,
              s"unsupported text encoding $enc in frame $fid")
            val cs = if (enc == 0) ISO_8859_1 else UTF_8
            Some(new String(bytes, pos + 11, size - 1, cs))
          } else None
        frames += Frame(fid, size, text)
        pos += 10 + size
      }
    }
    Tag(ver, 10 + bodySize, frames.toSeq)
  }

  /** The audio bytes after the tag — the privacy-scrub output; a
    * payload with no tag passes through unchanged (nothing to strip).
    */
  def strip(bytes: Array[Byte]): Array[Byte] =
    if (!hasTag(bytes)) bytes
    else {
      val t = probe(bytes)
      java.util.Arrays.copyOfRange(bytes, t.size, bytes.length)
    }
}
