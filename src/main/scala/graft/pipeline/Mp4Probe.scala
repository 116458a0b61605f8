package graft.pipeline

/** ISO-BMFF (MP4) VIDEO-side probe — the container walk a video
  * corpus front door needs before any codec question arises: brand,
  * movie duration, and the per-track catalog (kind, timescale,
  * duration, pixel dimensions). The AUDIO duration walk lives in
  * pipeline/AudioProbe.scala (S3); this is its trak-level sibling for
  * the mm video family (shot detection L119/L178 consumes frames,
  * this certifies the container they'd come from). Spec-only
  * (ISO/IEC 14496-12): box = [size(4 BE) type(4)], `ftyp` major
  * brand, `moov/mvhd` timescale+duration, per-`trak`: `tkhd` v0/v1
  * (track id, width/height as 16.16 fixed point) and
  * `mdia/mdhd` + `mdia/hdlr` (handler `vide`/`soun`). Catalog only —
  * `mdat` stays untouched (the lazy-decode posture); structural
  * violations raise for the S10 tier.
  */
object Mp4Probe {

  import Bytes.{be32, be64, code, putBe32}

  final case class TrackInfo(trackId: Long, handler: String,
      timescale: Long, duration: Long, width: Long, height: Long)

  final case class Mp4Info(brand: String, timescale: Long, duration: Long,
      tracks: Seq[TrackInfo])

  /** The box header at `off` in a parent that ends at `to` (ISO/IEC
    * 14496-12 §4.2): [size(4 BE) type(4)]; size 1 means a 64-bit
    * largesize follows, size 0 means the box runs to the end of its
    * parent. Returns (body offset, box end), or None when the header or
    * the box does not fit the parent. The one box-header rule of the
    * M4A decoder, the S3 probe and this probe.
    */
  private[graft] def boxAt(b: Array[Byte], off: Int, to: Int): Option[(Int, Int)] =
    if (off + 8 > to) None
    else {
      val small = be32(b, off)
      val body = if (small == 1) off + 16 else off + 8
      if (body > to) None
      else {
        val size = if (small == 1) be64(b, off + 8) else if (small == 0) to - off else small
        if (size < body - off || size > to - off) None
        else Some((body, off + size.toInt))
      }
    }

  /** One box: [size(4 BE) type(4)] then `body`, in order. */
  private[graft] def box(t: String, body: Array[Byte]*): Array[Byte] = {
    val payload = body.flatten.toArray
    putBe32(8L + payload.length) ++ t.getBytes("US-ASCII") ++ payload
  }

  def probe(bytes: Array[Byte]): Mp4Info = {
    var brand = ""
    var mvScale = -1L
    var mvDur = -1L
    val tracks = Seq.newBuilder[TrackInfo]
    // per-trak accumulation
    var tkId = -1L; var tkW = -1L; var tkH = -1L
    var mdScale = -1L; var mdDur = -1L; var hdlr = ""

    def flushTrak(): Unit = {
      require(tkId > 0, "mp4: trak without tkhd")
      require(mdScale > 0, "mp4: trak without mdhd")
      require(hdlr.nonEmpty, "mp4: trak without hdlr")
      tracks += TrackInfo(tkId, hdlr, mdScale, mdDur, tkW, tkH)
      tkId = -1L; tkW = -1L; tkH = -1L
      mdScale = -1L; mdDur = -1L; hdlr = ""
    }

    def walk(from: Int, to: Int, depth: Int): Unit = {
      require(depth < 8, "mp4: box nesting too deep")
      var off = from
      while (off < to) {
        require(off + 8 <= to, s"mp4: truncated box header at $off")
        val box = boxAt(bytes, off, to)
        require(box.isDefined, s"mp4: box size ${be32(bytes, off)} overruns parent at $off")
        val (body, end) = box.get
        code(bytes, off + 4) match {
          case "ftyp" if brand.isEmpty =>
            require(end - off >= 12, "mp4: ftyp too small")
            brand = code(bytes, body)
          case "moov" | "mdia" =>
            walk(body, end, depth + 1)
          case "trak" =>
            walk(body, end, depth + 1)
            flushTrak()
          case "mvhd" =>
            val ver = bytes(body) & 0xff
            if (ver == 1) {
              mvScale = be32(bytes, body + 20)
              mvDur = be64(bytes, body + 24)
            } else {
              mvScale = be32(bytes, body + 12)
              mvDur = be32(bytes, body + 16)
            }
          case "tkhd" =>
            val ver = bytes(body) & 0xff
            // v0: ctime(4) mtime(4) id(4); v1: 8/8/4
            tkId = if (ver == 1) be32(bytes, body + 20)
                   else be32(bytes, body + 12)
            // width/height: last 8 bytes of the box, 16.16 fixed
            val wOff = end - 8
            tkW = be32(bytes, wOff) >> 16
            tkH = be32(bytes, wOff + 4) >> 16
          case "mdhd" =>
            val ver = bytes(body) & 0xff
            if (ver == 1) {
              mdScale = be32(bytes, body + 20)
              mdDur = be64(bytes, body + 24)
            } else {
              mdScale = be32(bytes, body + 12)
              mdDur = be32(bytes, body + 16)
            }
          case "hdlr" =>
            hdlr = code(bytes, body + 8)
          case _ => () // skip: mdat, free, udta, minf, ...
        }
        off = end
      }
    }
    walk(0, bytes.length, 0)
    require(brand.nonEmpty, "mp4: no ftyp box")
    require(mvScale > 0, "mp4: no mvhd box")
    Mp4Info(brand, mvScale, mvDur, tracks.result())
  }

  /** Mint a minimal probe-valid MP4 (fixture dual of [[probe]]):
    * ftyp + moov(mvhd + one trak per spec) — v0 headers, no mdat.
    */
  def mint(brand: String, timescale: Long, duration: Long,
      tracks: Seq[TrackInfo]): Array[Byte] = {
    require(brand.length == 4, s"mp4: ftyp brand must be 4 chars, got '$brand'")
    val ftyp = box("ftyp",
      brand.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
        putBe32(0) ++ // minor_version
        brand.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++
      putBe32(0) ++ putBe32(0) ++ putBe32(timescale) ++ putBe32(duration) ++
      new Array[Byte](80))
    val traks = tracks.map { tr =>
      val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7) ++
        putBe32(0) ++ putBe32(0) ++ putBe32(tr.trackId) ++
        // reserved(4) duration(4) reserved(8) layer/group/volume/res(8)
        // matrix(36) = 60 bytes to the 16.16 width/height pair
        new Array[Byte](60) ++
        putBe32(tr.width << 16) ++ putBe32(tr.height << 16))
      val mdhd = box("mdhd", Array[Byte](0, 0, 0, 0) ++
        putBe32(0) ++ putBe32(0) ++ putBe32(tr.timescale) ++
        putBe32(tr.duration) ++ Array[Byte](0x55, (0xc4 & 0xff).toByte, 0, 0))
      val hdlr = box("hdlr", Array[Byte](0, 0, 0, 0) ++ putBe32(0) ++
        tr.handler.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
        new Array[Byte](13))
      box("trak", tkhd ++ box("mdia", mdhd ++ hdlr))
    }
    ftyp ++ box("moov", mvhd ++ traks.flatten)
  }
}
