package graft.pipeline

import java.io.ByteArrayInputStream

import javax.sound.sampled.AudioSystem

/** S3 — HEADER-LEVEL duration/rate probe for containers the JVM cannot
  * decode. The reference globs six formats and ffprobe-style metadata is
  * enough for the S3 duration gate and the S1 manifest stats — decoding
  * is only needed once a file passes them. Each container layout is
  * read through the module that owns it ([[FlacAudio]], [[Id3]] and
  * [[Mp3Audio]], [[Ogg]], [[Mp4Probe]], [[AacAudio]]). The probe reads
  * headers only, with bounded reads; it never decodes a payload or
  * checks its CRCs:
  *
  *  - WAV/AIFF/AU: `javax.sound` file-format headers (frame count /
  *    frame rate), no sample decode.
  *  - FLAC: the mandatory STREAMINFO block (sample rate 20 bits, total
  *    samples 36 bits) right after the `fLaC` magic.
  *  - MP3: skip an ID3v2 tag, scan up to [[Mp3Audio.firstFrame]]'s
  *    64 KiB past it for the first valid frame header (padding before
  *    the first frame is legal), the same bound as the decoder. If the
  *    first frame carries a Xing/Info or VBRI header the frame count
  *    gives the EXACT duration (frames × samplesPerFrame / sr);
  *    otherwise the CBR estimate `bytes·8/bitrate` — exact for CBR
  *    files, a documented estimate for headerless VBR.
  *  - Ogg/Vorbis: the first page's identification header for the rate,
  *    and the granule position of the last page, found in the last
  *    64 KiB.
  *  - M4A: the box tree down to `mvhd` and the first `mdhd`.
  *  - ADTS AAC: every frame header, one per frame.
  *
  * The probe NEVER throws on foreign bytes — `None` routes the file to
  * the S10 failed-status path, same as decode failures.
  */
object AudioProbe {

  import Bytes.{be32, be64, isCode, le32, putLe32}

  /** (container, sampleRate Hz, duration µs, exact?) — `exact = false`
    * marks the MP3 CBR estimate.
    */
  final case class Probe(container: String, sampleRate: Int,
      durationUs: Long, exact: Boolean)

  /** S3 pre-decode duration gate (`vad_multi.py:12-16,31`): header-probe
    * every payload and keep those with duration in [minSec, maxSec];
    * probe failure reports duration 0 (the reference's get_duration
    * failure contract), so any minSec > 0 drops undecodable files
    * before the expensive decode stage ever sees them.
    */
  def probeGate(ds: org.apache.spark.sql.Dataset[(String, Array[Byte])],
                minSec: Double, maxSec: Double = Double.MaxValue):
      org.apache.spark.sql.Dataset[(String, Array[Byte])] =
    ds.filter { x: (String, Array[Byte]) =>
      val durSec = probe(x._2).map(_.durationUs / 1e6d).getOrElse(0d)
      durSec >= minSec && durSec <= maxSec
    }

  def probe(bytes: Array[Byte]): Option[Probe] =
    if (bytes == null || bytes.length < 12) None
    else if (bytes.startsWith("fLaC".getBytes)) probeFlac(bytes)
    else if (bytes.startsWith("OggS".getBytes)) probeOgg(bytes)
    else if (isCode(bytes, 4, "ftyp")) probeMp4(bytes)
    else if (AacAudio.isAdtsSync(bytes, 0)) probeAdts(bytes)
    else if (Id3.hasTag(bytes) || Mp3Audio.isSync(bytes, 0)) probeMp3(bytes)
    else probeJavaSound(bytes)

  private def probeJavaSound(bytes: Array[Byte]): Option[Probe] =
    try {
      val f = AudioSystem.getAudioFileFormat(new ByteArrayInputStream(bytes))
      val fmt = f.getFormat
      val frames = f.getFrameLength.toLong
      if (frames <= 0 || fmt.getFrameRate <= 0) None
      else Some(Probe(f.getType.toString.toLowerCase,
        math.round(fmt.getSampleRate),
        math.round(frames * 1e6d / fmt.getFrameRate),
        exact = true))
    } catch { case _: Exception => None }

  /** STREAMINFO (spec §8.2): the first metadata block, right after the
    * 4-byte magic; its 34-byte body lies inside the 42 bytes checked.
    */
  private def probeFlac(bytes: Array[Byte]): Option[Probe] = {
    if (bytes.length < 8 + 34) return None
    val r = new Bitstream.BitReader(bytes, 32L, bytes.length * 8L)
    if (FlacAudio.readBlockHeader(r).blockType != 0) return None
    val si = FlacAudio.parseStreamInfo(r)
    if (si.sampleRate <= 0 || si.totalSamples <= 0) None
    else Some(Probe("flac", si.sampleRate,
      si.totalSamples * 1000000L / si.sampleRate, exact = true))
  }

  private def probeMp3(bytes: Array[Byte]): Option[Probe] =
    Mp3Audio.firstFrame(bytes).map { h =>
      // VBR headers in the first frame give an exact frame count.
      // Xing/Info sits after the side info; VBRI always at header + 36.
      val xing = h.offset + 4 + h.sideInfoBytes
      val vbri = h.offset + 36
      val vbrFrames: Option[Long] =
        if (bytes.length >= xing + 4 &&
            (isCode(bytes, xing, "Xing") || isCode(bytes, xing, "Info"))) {
          if (bytes.length >= xing + 12 && (be32(bytes, xing + 4) & 1L) != 0)
            Some(be32(bytes, xing + 8))
          else None
        } else if (bytes.length >= vbri + 18 && isCode(bytes, vbri, "VBRI"))
          Some(be32(bytes, vbri + 14))
        else None
      // Encoder conventions disagree on whether the Xing/VBRI frame count
      // includes the header frame itself (LAME does, some others don't), so
      // "exact" carries a one-frame (~26 ms at 44.1 kHz) ambiguity. The
      // count is used as written — downstream gates operate at whole-second
      // granularity (`vad_multi.py` min/max duration), so one frame never
      // flips a decision.
      vbrFrames.filter(_ > 0) match {
        case Some(nf) =>
          Probe("mp3", h.sampleRate, nf * h.samplesPerFrame * 1000000L / h.sampleRate,
            exact = true)
        case None =>
          val payload = (bytes.length - h.offset).toLong
          Probe("mp3", h.sampleRate, payload * 8000000L / (h.bitrateKbps * 1000L),
            exact = false)
      }
    }

  // ------------------------------------------------------- Ogg/Vorbis
  /** The FIRST page's first packet is the Vorbis identification header
    * (Vorbis I §4.2.2): type 1, "vorbis", version(4), channels(1),
    * rate(4 LE). Duration = the LAST page's granule position (absolute
    * PCM sample count) / rate — found by a bounded backward scan for
    * the final page header. Exact by the container spec.
    */
  private def probeOgg(bytes: Array[Byte]): Option[Probe] = {
    if (bytes.length < 58) return None
    val packet = Ogg.bodyAt(bytes, 0)
    if (bytes.length < packet + 30) return None
    if (bytes(packet) != 1 || !isCode(bytes, packet + 1, "vorb")) return None
    val sr = le32(bytes, packet + 12)
    if (sr <= 0) return None
    val scanFrom = math.max(0, bytes.length - 65536)
    var last = bytes.length - 27
    while (last >= scanFrom && !Ogg.isPageAt(bytes, last)) last -= 1
    if (last < scanFrom) return None
    val gp = Ogg.granuleAt(bytes, last)
    if (gp <= 0) None
    else Some(Probe("ogg", sr.toInt, gp * 1000000L / sr, exact = true))
  }

  // ---------------------------------------------------------- MP4/M4A
  /** ISO-BMFF box walk through [[Mp4Probe.boxAt]]. Inside `moov`,
    * `mvhd` v0 holds timescale(4) + duration(4) at offset 12 past the
    * version byte block; v1 widens times to 64 bits. The first `mdhd`
    * (track media header) supplies the media timescale — the audio
    * sample rate for sound tracks. Duration = mvhd duration / mvhd
    * timescale, exact per container.
    */
  private def probeMp4(bytes: Array[Byte]): Option[Probe] = {
    var mvhdDur = -1L
    var mvhdScale = -1L
    var mdhdScale = -1L
    def walk(from: Int, to: Int, depth: Int): Unit = {
      var off = from
      while (off + 8 <= to && depth < 8) {
        val (body, end) = Mp4Probe.boxAt(bytes, off, to) match {
          case Some(box) => box
          case None => return
        }
        val typ = off + 4
        if (isCode(bytes, typ, "moov") || isCode(bytes, typ, "trak") ||
            isCode(bytes, typ, "mdia"))
          walk(body, end, depth + 1)
        else if (isCode(bytes, typ, "mvhd") && mvhdDur < 0) {
          val ver = bytes(body) & 0xff
          if (ver == 1 && body + 28 <= to) {
            mvhdScale = be32(bytes, body + 20)
            mvhdDur = be64(bytes, body + 24)
          } else if (ver == 0 && body + 20 <= to) {
            mvhdScale = be32(bytes, body + 12)
            mvhdDur = be32(bytes, body + 16)
          }
        } else if (isCode(bytes, typ, "mdhd") && mdhdScale < 0) {
          val ver = bytes(body) & 0xff
          if (ver == 1 && body + 24 <= to) mdhdScale = be32(bytes, body + 20)
          else if (ver == 0 && body + 16 <= to) mdhdScale = be32(bytes, body + 12)
        }
        off = end
      }
    }
    try walk(0, bytes.length, 0)
    catch { case _: Exception => return None }
    if (mvhdDur <= 0 || mvhdScale <= 0) None
    else {
      val sr = if (mdhdScale > 0) mdhdScale else mvhdScale
      Some(Probe("m4a", sr.toInt, mvhdDur * 1000000L / mvhdScale, exact = true))
    }
  }

  // --------------------------------------------------------- ADTS AAC
  /** ADTS frame walk: each header carries a 13-bit frame length and a
    * 2-bit raw-data-block count; each block is 1024 samples. Duration =
    * Σ blocks · 1024 / rate — exact, one header read per frame.
    */
  private def probeAdts(bytes: Array[Byte]): Option[Probe] = {
    var off = 0
    var sr = -1
    var samples = 0L
    var frames = 0
    var next = AacAudio.adtsFields(bytes, off)
    while (next.isDefined) {
      val h = next.get
      if (h.srIdx >= AacTables.SampleRates.length) return None
      val rate = AacTables.SampleRates(h.srIdx)
      if (sr < 0) sr = rate else if (sr != rate) return None
      if (h.frameLen < 7) return None
      samples += h.blocks.toLong * 1024L
      frames += 1
      off += h.frameLen
      next = AacAudio.adtsFields(bytes, off)
    }
    if (sr <= 0 || samples <= 0 || frames == 0) None
    else Some(Probe("aac", sr, samples * 1000000L / sr, exact = true))
  }

  // --------------------------------------------- fixture minters (S3)
  /** Header-accurate container shells for probe tests and oracle
    * queries: real page/box/frame structure with silent payloads — the
    * probe reads only headers, so these exercise exactly the production
    * parse paths.
    */
  object Mint {
    /** Two-page Ogg/Vorbis shell: identification page + one audio page
      * whose granule position encodes `totalSamples`.
      */
    def ogg(sr: Int, totalSamples: Long): Array[Byte] = {
      val ident = new java.io.ByteArrayOutputStream()
      ident.write(1); ident.write("vorbis".getBytes)
      ident.write(new Array[Byte](4)) // version
      ident.write(1) // channels
      ident.write(putLe32(sr))
      ident.write(new Array[Byte](12)) // bitrates
      ident.write(0xb8); ident.write(1) // blocksizes + framing
      val out = new java.io.ByteArrayOutputStream()
      Ogg.writePage(out, headerType = 2, granule = 0L, serial = 0x1234, seq = 0,
        Seq(ident.toByteArray))
      Ogg.writePage(out, headerType = 4, granule = totalSamples, serial = 0x1234,
        seq = 1, Seq(new Array[Byte](32)))
      out.toByteArray
    }

    /** Minimal ISO-BMFF shell: [[Mp4Probe.mint]]'s ftyp + moov with one
      * sound track, then a silent mdat.
      */
    def m4a(sr: Int, durationInSr: Long): Array[Byte] =
      Mp4Probe.mint("M4A ", sr, durationInSr,
        Seq(Mp4Probe.TrackInfo(1L, "soun", sr, durationInSr, 0L, 0L))) ++
        Mp4Probe.box("mdat", new Array[Byte](16))

    /** CBR MPEG-1 Layer III silence: `frames` all-zero frames (zero
      * side info = empty granules, a fully legal silent stream — the
      * same shape LAME emits for digital silence). 128 kbps @ 32 kHz
      * mono → 576 bytes per frame, no padding, no Xing header, so the
      * probe's CBR byte-length estimate is exact.
      */
    def mp3Cbr(frames: Int): Array[Byte] = {
      val frame = new Array[Byte](576)
      frame(0) = 0xff.toByte; frame(1) = 0xfb.toByte
      frame(2) = ((9 << 4) | (2 << 2)).toByte // 128 kbps, 32 kHz
      frame(3) = 0xc0.toByte // mono
      val out = new Array[Byte](frames * 576)
      (0 until frames).foreach(i => System.arraycopy(frame, 0, out, i * 576, 576))
      out
    }

    /** ADTS shell: `frames` one-block frames at `sr` (1024 samples each). */
    def adts(sr: Int, frames: Int): Array[Byte] = {
      val srIdx = AacEncoder.adtsRateIndex(sr)
      val out = new java.io.ByteArrayOutputStream()
      (0 until frames).foreach(_ => AacEncoder.writeAdtsFrame(out, srIdx, new Array[Byte](13)))
      out.toByteArray
    }
  }
}
