package graft.pipeline

/** The byte layer under the container readers and writers: unsigned
  * big- and little-endian integers and four-character codes at a byte
  * offset, and the 32-bit writers. [[Bitstream]] is the bit layer
  * beside it. A read past the end of the array throws
  * `ArrayIndexOutOfBoundsException`, as the plain array read does, so a
  * reader that must not throw checks the length first.
  */
private[graft] object Bytes {

  def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  def be64(b: Array[Byte], off: Int): Long =
    (be32(b, off) << 32) | be32(b, off + 4)

  def le32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  def le64(b: Array[Byte], off: Int): Long =
    le32(b, off) | (le32(b, off + 4) << 32)

  /** True when the four bytes at `off` spell `code`; stops at the first
    * byte that differs.
    */
  def isCode(b: Array[Byte], off: Int, code: String): Boolean =
    b(off) == code.charAt(0).toByte && b(off + 1) == code.charAt(1).toByte &&
      b(off + 2) == code.charAt(2).toByte && b(off + 3) == code.charAt(3).toByte

  def code(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  def putBe32(v: Long): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)

  def putLe32(v: Long): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
}
