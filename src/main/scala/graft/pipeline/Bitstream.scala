package graft.pipeline

/** The bitstream layer the FLAC, MP3 and AAC codecs share: one
  * MSB-first bit reader and writer, one canonical-Huffman construction
  * and one Huffman decode trie. Vorbis decodes its codebooks through the
  * same trie but keeps its own LSB-first reader and writer
  * ([[VorbisHeaders]]), because its specification packs bits in that
  * order.
  */
object Bitstream {

  /** MSB-first reader over the bits `[startBit, endBit)` of `data`.
    * Positions are `Long` because a FLAC stream can pass 2^31 bits.
    * Reading past `endBit` throws `IllegalStateException`; MP3 and AAC
    * bound each frame's reader by it.
    */
  final class BitReader(data: Array[Byte], startBit: Long, val endBit: Long) {
    var pos: Long = startBit
    def remaining: Long = endBit - pos
    def bytePos: Int = (pos >> 3).toInt
    def atByteBoundary: Boolean = (pos & 7) == 0
    def alignToByte(): Unit = pos = (pos + 7) & ~7L

    def bit(): Int = {
      if (pos >= endBit) throw new IllegalStateException("bitstream exhausted")
      val b = (data((pos >> 3).toInt) >> (7 - (pos & 7).toInt)) & 1
      pos += 1
      b
    }

    /** Up to 56 bits, MSB first, unsigned, read a byte chunk at a time. */
    def readBits(n: Int): Long = {
      require(n >= 0 && n <= 56, s"readBits($n)")
      if (pos + n > endBit) throw new IllegalStateException("bitstream exhausted")
      var out = 0L
      var left = n
      while (left > 0) {
        val bitI = (pos & 7).toInt
        val avail = 8 - bitI
        val take = math.min(avail, left)
        val chunk = ((data((pos >> 3).toInt) & 0xff) >> (avail - take)) & ((1 << take) - 1)
        out = (out << take) | chunk
        pos += take
        left -= take
      }
      out
    }

    def bits(n: Int): Int = readBits(n).toInt

    /** n-bit two's-complement signed read. */
    def readSigned(n: Int): Long = {
      val v = readBits(n)
      if (n > 0 && (v & (1L << (n - 1))) != 0) v - (1L << n) else v
    }

    /** Count 0 bits until the terminating 1 (Rice quotient / unary). */
    def readUnary(): Int = {
      var q = 0
      while (bit() == 0) q += 1
      q
    }
  }

  /** MSB-first writer: the encoders' dual of [[BitReader]]. */
  final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nBits = 0

    /** The low `n` bits of `v`, MSB first, a byte chunk at a time. */
    def write(v: Long, n: Int): Unit = {
      var left = n
      while (left > 0) {
        val take = math.min(8 - nBits, left)
        left -= take
        cur = (cur << take) | ((v >>> left) & ((1 << take) - 1)).toInt
        nBits += take
        if (nBits == 8) { buf.write(cur); cur = 0; nBits = 0 }
      }
    }

    def bitLength: Int = buf.size * 8 + nBits
    def padToByte(): Unit = if (nBits > 0) write(0, 8 - nBits)
    def padToBytes(total: Int): Unit = {
      padToByte()
      while (buf.size < total) buf.write(0)
    }
    def toBytes: Array[Byte] = { padToByte(); buf.toByteArray }
  }

  /** Deterministic canonical Huffman code over `freq`, as (lengths,
    * codes): Huffman merge with equal-weight ties broken by the smallest
    * leaf index, depth capped at 19 (MP3's longest code) with a Kraft
    * re-balance, codes assigned in (length, index) order. The tie-break
    * makes the code identical across JVM and Scala library versions, so
    * a stream minted by one build always bit-accounts on another.
    */
  def canonicalCode(freq: Array[Double]): (Array[Int], Array[Long]) = {
    val n = freq.length
    final case class Node(w: Double, leaves: List[Int], minLeaf: Int)
    val heap = scala.collection.mutable.PriorityQueue.empty[Node](
      Ordering.by((nd: Node) => (-nd.w, -nd.minLeaf)))
    (0 until n).foreach(i => heap.enqueue(Node(freq(i), List(i), i)))
    val depth = new Array[Int](n)
    while (heap.size > 1) {
      val a = heap.dequeue(); val b = heap.dequeue()
      (a.leaves ++ b.leaves).foreach(i => depth(i) += 1)
      heap.enqueue(Node(a.w + b.w, a.leaves ++ b.leaves, math.min(a.minLeaf, b.minLeaf)))
    }
    // cap at 19 bits: raise any deeper leaf to 19, then deepen the least
    // frequent leaves below the cap and shallow the most frequent ones
    // until the Kraft sum is exactly 1
    val cap = 19
    var i = 0
    while (i < n) { if (depth(i) > cap) depth(i) = cap; i += 1 }
    def kraft: Double = depth.map(d => math.pow(2.0, -d)).sum
    while (kraft > 1.0 + 1e-12) {
      val j = (0 until n).filter(depth(_) < cap).minBy(freq(_))
      depth(j) += 1
    }
    while (1.0 - kraft > 1e-12) {
      val cands = (0 until n).filter(j => depth(j) > 1 &&
        kraft - math.pow(2.0, -depth(j)) + math.pow(2.0, -(depth(j) - 1)) <= 1.0 + 1e-12)
      if (cands.isEmpty) sys.error("canonicalCode: cannot complete Kraft")
      val j = cands.maxBy(freq(_))
      depth(j) -= 1
    }
    val codes = new Array[Long](n)
    var code = 0L
    var prevLen = 0
    (0 until n).sortBy(j => (depth(j), j)).foreach { j =>
      code <<= (depth(j) - prevLen)
      prevLen = depth(j)
      codes(j) = code
      code += 1
    }
    (depth, codes)
  }

  /** Binary Huffman decode trie over (length, code) pairs; symbols of
    * length 0 are unused. A node at offset i keeps its two children at
    * i and i+1; a leaf is −(symbol+1) and 0 marks a missing branch. Building it rejects any
    * prefix collision or duplicate code.
    */
  final class Trie(hlen: Array[Int], hcod: Array[Long]) {
    private val nodes = scala.collection.mutable.ArrayBuffer(0, 0) // root's children
    private def alloc(): Int = { val at = nodes.length; nodes += 0; nodes += 0; at }
    hlen.indices.foreach { sym =>
      if (hlen(sym) > 0) {
        var at = 0
        var b = hlen(sym) - 1
        while (b > 0) {
          val bit = ((hcod(sym) >> b) & 1L).toInt
          if (nodes(at + bit) == 0) nodes(at + bit) = alloc()
          require(nodes(at + bit) > 0, s"prefix collision at symbol $sym")
          at = nodes(at + bit)
          b -= 1
        }
        val bit = (hcod(sym) & 1L).toInt
        require(nodes(at + bit) == 0, s"duplicate code for symbol $sym")
        nodes(at + bit) = -(sym + 1)
      }
    }
    private val arr = nodes.toArray

    /** Walk bits until a leaf; returns the symbol. A bit sequence that
      * leaves the code (possible only in an incomplete one) throws
      * `IllegalStateException`.
      */
    def decode(nextBit: () => Int): Int = {
      var at = 0
      while (true) {
        val v = arr(at + nextBit())
        if (v < 0) return -v - 1
        if (v == 0) throw new IllegalStateException("invalid huffman codeword")
        at = v
      }
      -1
    }
  }
}
