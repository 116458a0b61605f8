package graft.pipeline

/** Ogg container layer (RFC 3533): page parse with CRC verification,
  * logical-stream packet reassembly (lacing values, spanning packets),
  * and a page writer — the transport under [[VorbisAudio]], kept
  * separate because the container is codec-agnostic. Reference decode
  * call sites: `modules/models/utils.py:11-16` globs `.ogg`.
  */
object Ogg {

  import Bytes.{le32, le64}

  /** Ogg CRC32: polynomial 0x04c11db7, no pre/post inversion, MSB-first
    * (NOT zlib's). Table-driven.
    */
  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var j = 0
      while (j < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        j += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  def crc32(bytes: Array[Byte], from: Int, until: Int): Int =
    crcUpdate(0, bytes, from, until)

  private def crcUpdate(crc0: Int, bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = crc0
    var i = from
    while (i < until) {
      crc = (crc << 8) ^ CrcTable(((crc >>> 24) ^ (bytes(i) & 0xff)) & 0xff)
      i += 1
    }
    crc
  }

  /** The CRC of the page at `off` ending at `end`, taken as the spec
    * defines it: over the whole page with its 4 CRC bytes read as zero.
    */
  private def pageCrc(bytes: Array[Byte], off: Int, end: Int): Int = {
    var crc = crcUpdate(0, bytes, off, off + 22)
    var i = 0
    while (i < 4) { crc = (crc << 8) ^ CrcTable((crc >>> 24) & 0xff); i += 1 }
    crcUpdate(crc, bytes, off + 26, end)
  }

  final case class Page(offset: Int, headerType: Int, granulePos: Long,
                        serial: Int, seq: Int, segments: Array[Int],
                        body: Array[Byte]) {
    def isBos: Boolean = (headerType & 2) != 0
  }

  /** True when a page header starts at `off` (RFC 3533 §6): its 27
    * fixed bytes are present, with the "OggS" capture pattern and
    * stream structure version 0.
    */
  private[graft] def isPageAt(bytes: Array[Byte], off: Int): Boolean =
    off >= 0 && off + 27 <= bytes.length && bytes(off) == 'O' &&
      bytes(off + 1) == 'g' && bytes(off + 2) == 'g' && bytes(off + 3) == 'S' &&
      bytes(off + 4) == 0

  /** The granule position of the page whose header is at `off`. */
  private[graft] def granuleAt(bytes: Array[Byte], off: Int): Long = le64(bytes, off + 6)

  /** Where the body of the page whose header is at `off` starts: after
    * the 27 fixed bytes and the segment table, whose length is byte 26.
    */
  private[graft] def bodyAt(bytes: Array[Byte], off: Int): Int =
    off + 27 + (bytes(off + 26) & 0xff)

  /** Parse every well-formed page; a CRC mismatch rejects the page
    * (decode skips it — the codec layer's fault isolation reports the
    * gap).
    */
  def pages(bytes: Array[Byte]): Seq[Page] = {
    val out = Seq.newBuilder[Page]
    var off = 0
    while (off + 27 <= bytes.length) {
      if (isPageAt(bytes, off)) {
        val headEnd = bodyAt(bytes, off)
        val nsegs = headEnd - off - 27
        if (headEnd > bytes.length) { off += 1 }
        else {
          val segs = new Array[Int](nsegs)
          var pageEnd = headEnd
          var i = 0
          while (i < nsegs) {
            segs(i) = bytes(off + 27 + i) & 0xff
            pageEnd += segs(i)
            i += 1
          }
          if (pageEnd > bytes.length) { off += 1 }
          else if (pageCrc(bytes, off, pageEnd) == le32(bytes, off + 22).toInt) {
            out += Page(off, bytes(off + 5) & 0xff, granuleAt(bytes, off),
              le32(bytes, off + 14).toInt, le32(bytes, off + 18).toInt, segs,
              java.util.Arrays.copyOfRange(bytes, headEnd, pageEnd))
            off = pageEnd
          } else off += 1
        }
      } else off += 1
    }
    out.result()
  }

  /** Reassemble the packets of ONE logical stream (the first BOS serial
    * unless given): lacing values chain 255-segments into packets;
    * packets may span pages (continuation flag). Returns (packets,
    * last granule position).
    */
  def packets(bytes: Array[Byte], serial: Option[Int] = None): (Seq[Array[Byte]], Long) = {
    val ps = pages(bytes)
    require(ps.nonEmpty, "no valid Ogg pages")
    val sid = serial.getOrElse(
      ps.find(_.isBos).getOrElse(ps.head).serial)
    val stream = ps.filter(_.serial == sid)
    val out = Seq.newBuilder[Array[Byte]]
    val cur = new java.io.ByteArrayOutputStream()
    var lastGranule = 0L
    stream.foreach { p =>
      if (p.granulePos != -1L) lastGranule = p.granulePos
      var bodyOff = 0
      var i = 0
      while (i < p.segments.length) {
        val lace = p.segments(i)
        cur.write(p.body, bodyOff, lace)
        bodyOff += lace
        if (lace < 255) { // packet boundary
          out += cur.toByteArray
          cur.reset()
        }
        i += 1
      }
    }
    // an unterminated trailing packet (lace 255 at EOS) is dropped per spec
    (out.result(), lastGranule)
  }

  /** Write one page. `granule` −1 marks "no packet ends here". */
  def writePage(out: java.io.ByteArrayOutputStream, headerType: Int,
                granule: Long, serial: Int, seq: Int,
                packetChunks: Seq[Array[Byte]]): Unit = {
    val lacing = new java.io.ByteArrayOutputStream()
    val body = new java.io.ByteArrayOutputStream()
    packetChunks.foreach { pk =>
      var rest = pk.length
      var off = 0
      while (rest >= 255) {
        lacing.write(255); body.write(pk, off, 255); off += 255; rest -= 255
      }
      lacing.write(rest)
      if (rest > 0) body.write(pk, off, rest)
    }
    val lace = lacing.toByteArray
    require(lace.length <= 255, "too many segments for one page")
    val head = java.nio.ByteBuffer.allocate(27)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    head.put("OggS".getBytes); head.put(0.toByte); head.put(headerType.toByte)
    head.putLong(granule); head.putInt(serial); head.putInt(seq)
    head.putInt(0) // crc placeholder
    head.put(lace.length.toByte)
    val page = new java.io.ByteArrayOutputStream()
    page.write(head.array()); page.write(lace); page.write(body.toByteArray)
    val arr = page.toByteArray
    val crc = crc32(arr, 0, arr.length)
    arr(22) = (crc & 0xff).toByte
    arr(23) = ((crc >> 8) & 0xff).toByte
    arr(24) = ((crc >> 16) & 0xff).toByte
    arr(25) = ((crc >> 24) & 0xff).toByte
    out.write(arr)
  }
}
