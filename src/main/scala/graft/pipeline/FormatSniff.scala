package graft.pipeline

/** Magic-byte FORMAT ROUTER — the dispatch step in front of every
  * decoder in this repo: a 100 TB crawl delivers extension-less and
  * mis-labeled blobs, and the S1 glob scan only routes what the path
  * already claims; this sniffs the CONTENT. All signatures are the
  * public container magics (PNG/JPEG/GIF/BMP imaging, WAV/AIFF/AU/
  * FLAC/OGG/AAC/MP3 audio, PDF, WARC, gzip, zip). Container-first: a
  * `.warc.gz` reports `gzip` — layered containers are unwrapped one
  * level at a time, each level's router loud and explicit (the same
  * posture as [[WarcIO]]'s member walk).
  *
  * Pure per-row kernel; never reads past the fixed header window.
  */
object FormatSniff {

  private def starts(bytes: Array[Byte], magic: Array[Int],
      offset: Int = 0): Boolean =
    bytes.length >= offset + magic.length &&
      magic.indices.forall(i => (bytes(offset + i) & 0xff) == magic(i))

  private def ascii(s: String): Array[Int] = s.map(_.toInt).toArray

  def sniff(bytes: Array[Byte]): String =
    if (bytes == null || bytes.length < 4) "unknown"
    else if (starts(bytes,
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))) "png"
    else if (starts(bytes, Array(0xff, 0xd8, 0xff))) "jpeg"
    else if (starts(bytes, ascii("GIF87a"))
      || starts(bytes, ascii("GIF89a"))) "gif"
    else if (starts(bytes, ascii("BM"))) "bmp"
    else if (starts(bytes, ascii("RIFF"))
      && starts(bytes, ascii("WAVE"), 8)) "wav"
    else if (starts(bytes, ascii("RIFF"))
      && starts(bytes, ascii("WEBP"), 8)) "webp"
    else if (starts(bytes, ascii("FORM"))
      && starts(bytes, ascii("AIFF"), 8)) "aiff"
    else if (starts(bytes, ascii(".snd"))) "au"
    else if (starts(bytes, ascii("fLaC"))) "flac"
    else if (starts(bytes, ascii("OggS"))) "ogg"
    // ADTS's 0xFFF sync also passes the MPEG audio sync test below
    else if (AacAudio.isAdtsSync(bytes, 0)) "aac"
    else if (starts(bytes, ascii("ID3")) || Mp3Audio.isSync(bytes, 0)) "mp3"
    else if (starts(bytes, ascii("%PDF-"))) "pdf"
    else if (starts(bytes, ascii("WARC/"))) "warc"
    else if (starts(bytes, Array(0x1f, 0x8b))) "gzip"
    else if (starts(bytes, Array(0x50, 0x4b, 0x03, 0x04))) "zip"
    // ustar magic sits at offset 257 (POSIX tar has no offset-0 magic)
    else if (starts(bytes, ascii("ustar"), 257)) "tar"
    // TIFF: II*\0 (little-endian) or MM\0* (big-endian)
    else if (starts(bytes, Array(0x49, 0x49, 0x2a, 0x00))
      || starts(bytes, Array(0x4d, 0x4d, 0x00, 0x2a))) "tiff"
    // ISO-BMFF: 'ftyp' box type at offset 4
    else if (starts(bytes, ascii("ftyp"), 4)) "mp4"
    // EBML (Matroska/WebM) magic
    else if (starts(bytes, Array(0x1a, 0x45, 0xdf, 0xa3))) "mkv"
    else "unknown"
}
