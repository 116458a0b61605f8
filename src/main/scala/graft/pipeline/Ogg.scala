package graft.pipeline

/** Ogg container layer (RFC 3533): page parse with CRC verification,
  * logical-stream packet reassembly (lacing values, spanning packets),
  * and a page writer — the transport under [[VorbisAudio]], kept
  * separate because the container is codec-agnostic. Reference decode
  * call sites: `modules/models/utils.py:11-16` globs `.ogg`.
  */
object Ogg {

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

  def crc32(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc = (crc << 8) ^ CrcTable(((crc >>> 24) ^ (bytes(i) & 0xff)) & 0xff)
      i += 1
    }
    crc
  }

  final case class Page(offset: Int, headerType: Int, granulePos: Long,
                        serial: Int, seq: Int, segments: Array[Int],
                        body: Array[Byte]) {
    def isBos: Boolean = (headerType & 2) != 0
  }

  private def u(b: Byte): Int = b & 0xff

  private def le32(b: Array[Byte], off: Int): Int =
    u(b(off)) | (u(b(off + 1)) << 8) | (u(b(off + 2)) << 16) | (u(b(off + 3)) << 24)

  private def le64(b: Array[Byte], off: Int): Long =
    (le32(b, off).toLong & 0xffffffffL) | (le32(b, off + 4).toLong << 32)

  /** Parse every well-formed page; a CRC mismatch rejects the page
    * (decode skips it — the codec layer's fault isolation reports the
    * gap).
    */
  def pages(bytes: Array[Byte]): Seq[Page] = {
    val out = Seq.newBuilder[Page]
    var off = 0
    while (off + 27 <= bytes.length) {
      if (bytes(off) == 'O' && bytes(off + 1) == 'g' && bytes(off + 2) == 'g' &&
          bytes(off + 3) == 'S' && bytes(off + 4) == 0) {
        val nsegs = u(bytes(off + 26))
        val headEnd = off + 27 + nsegs
        if (headEnd > bytes.length) { off += 1 }
        else {
          val segs = Array.tabulate(nsegs)(i => u(bytes(off + 27 + i)))
          val bodyLen = segs.sum
          val pageEnd = headEnd + bodyLen
          if (pageEnd > bytes.length) { off += 1 }
          else {
            // CRC: whole page with the 4 CRC bytes zeroed
            val page = java.util.Arrays.copyOfRange(bytes, off, pageEnd)
            val stored = le32(page, 22)
            page(22) = 0; page(23) = 0; page(24) = 0; page(25) = 0
            if (crc32(page, 0, page.length) == stored) {
              out += Page(off, u(bytes(off + 5)), le64(bytes, off + 6),
                le32(bytes, off + 14), le32(bytes, off + 18), segs,
                java.util.Arrays.copyOfRange(bytes, headEnd, pageEnd))
              off = pageEnd
            } else off += 1
          }
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
