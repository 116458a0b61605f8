package graft.pipeline

/** Vorbis I header layer: the LSB-first bit reader, the three header
  * packets (identification, comment, setup) and the full codebook
  * machinery — parse, spec codeword assignment, Huffman decode through
  * the codecs' shared trie ([[Bitstream.Trie]]), VQ lookup. Unlike
  * MP3, Vorbis is SELF-DESCRIBING: every codebook arrives in the
  * stream's own setup header, so there is no fixed spec data table
  * this offline build cannot verify — the codeword assignment
  * algorithm is pinned by the specification's own worked example in
  * VorbisSpec. Audio-packet decode (floor1/residue/MDCT) builds on
  * this layer.
  */
object VorbisHeaders {

  /** Vorbis packs bits LSB-first within each byte (the opposite of
    * MPEG audio's MSB-first reader).
    */
  final class BitReader(data: Array[Byte], startBit: Int = 0) {
    var pos: Int = startBit
    val endBit: Int = data.length * 8
    def bit(): Int = {
      if (pos >= endBit) throw new IllegalStateException("vorbis bitstream exhausted")
      val b = (data(pos >> 3) >> (pos & 7)) & 1
      pos += 1
      b
    }
    /** n ≤ 32 bits, little-endian accumulation (first bit = LSB). */
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v |= bit() << i; i += 1 }
      v
    }
    def bitsLong(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v |= bit().toLong << i; i += 1 }
      v
    }
    def remaining: Int = endBit - pos
  }

  final class BitWriter {
    private val buf = new scala.collection.mutable.ArrayBuffer[Byte]()
    private var cur = 0
    private var nbits = 0
    def write(value: Int, n: Int): Unit = {
      var i = 0
      while (i < n) {
        cur |= ((value >> i) & 1) << nbits
        nbits += 1
        if (nbits == 8) { buf += cur.toByte; cur = 0; nbits = 0 }
        i += 1
      }
    }
    def writeLong(value: Long, n: Int): Unit = {
      write((value & 0xffffffffL).toInt, math.min(n, 32))
      if (n > 32) write((value >>> 32).toInt, n - 32)
    }
    def toBytes: Array[Byte] = {
      val out = buf.clone()
      if (nbits > 0) out += cur.toByte
      out.toArray
    }
  }

  def ilog(x0: Int): Int = {
    var x = x0
    var r = 0
    while (x > 0) { r += 1; x >>= 1 }
    r
  }

  /** Spec float32_unpack: 21-bit mantissa, 10-bit biased exponent, sign. */
  def float32Unpack(x: Long): Double = {
    val mant = (x & 0x1fffffL).toDouble
    val sign = (x & 0x80000000L) != 0
    val exp = ((x & 0x7fe00000L) >> 21).toInt
    val m = if (sign) -mant else mant
    m * math.pow(2.0, exp - 788)
  }

  /** Inverse of float32Unpack for integer-valued smalls (encoder dual). */
  def float32Pack(v: Double): Long = {
    if (v == 0.0) return 0L
    val sign = if (v < 0) 0x80000000L else 0L
    var mant = math.abs(v)
    var exp = 788
    while (mant < (1L << 20) && exp > 0) { mant *= 2; exp -= 1 }
    while (mant >= (1L << 21)) { mant /= 2; exp += 1 }
    sign | (exp.toLong << 21) | math.round(mant)
  }

  def lookup1Values(entries: Int, dim: Int): Int = {
    var r = 0
    while (math.pow(r + 1, dim) <= entries + 1e-9) r += 1
    r
  }

  // --------------------------------------------------------- codebook
  final case class Codebook(dim: Int, entries: Int, lengths: Array[Int],
                            codewords: Array[Int], lookupType: Int,
                            vq: Array[Double]) {
    private lazy val trie =
      new Bitstream.Trie(lengths, codewords.map(_ & 0xffffffffL))
    /** Huffman-decode one scalar entry index. */
    def decodeEntry(br: BitReader): Int = trie.decode(() => br.bit())
    /** VQ vector for one entry (lookup type 1 or 2). */
    def vector(entry: Int): Array[Double] = {
      require(lookupType != 0, "scalar codebook has no VQ table")
      val out = new Array[Double](dim)
      System.arraycopy(vq, entry * dim, out, 0, dim)
      out
    }
  }

  /** The specification's codeword assignment: entries take the lowest
    * available word of their length, sparse (length 0) entries skipped.
    * Returns -1 words for unused entries.
    */
  def assignCodewords(lengths: Array[Int]): Array[Int] = {
    val out = Array.fill(lengths.length)(-1)
    val marker = new Array[Int](33)
    var i = 0
    while (i < lengths.length) {
      val length = lengths(i)
      if (length > 0) {
        var entry = marker(length)
        if (length < 32 && (entry >>> length) != 0)
          throw new IllegalStateException("overpopulated codebook tree")
        out(i) = entry
        var j = length
        var done = false
        while (j > 0 && !done) {
          if ((marker(j) & 1) == 1) {
            if (j == 1) marker(1) += 1
            else marker(j) = marker(j - 1) << 1
            done = true
          } else {
            marker(j) += 1
            j -= 1
          }
        }
        j = length + 1
        while (j < 33 && (marker(j) >>> 1) == entry) {
          entry = marker(j)
          marker(j) = marker(j - 1) << 1
          j += 1
        }
      }
      i += 1
    }
    out
  }

  /** Parse one codebook from the setup header bit stream. */
  def readCodebook(br: BitReader): Codebook = {
    require(br.bits(24) == 0x564342, "codebook sync pattern missing")
    val dim = br.bits(16)
    val entries = br.bits(24)
    val ordered = br.bit() == 1
    val lengths = new Array[Int](entries)
    if (!ordered) {
      val sparse = br.bit() == 1
      var i = 0
      while (i < entries) {
        if (sparse) {
          if (br.bit() == 1) lengths(i) = br.bits(5) + 1 else lengths(i) = 0
        } else lengths(i) = br.bits(5) + 1
        i += 1
      }
    } else {
      var current = 0
      var len = br.bits(5) + 1
      while (current < entries) {
        val num = br.bits(ilog(entries - current))
        var k = 0
        while (k < num) { lengths(current + k) = len; k += 1 }
        current += num
        len += 1
        require(len <= 33, "ordered codebook lengths ran away")
      }
    }
    val codewords = assignCodewords(lengths)
    val lookupType = br.bits(4)
    val vq: Array[Double] = lookupType match {
      case 0 => Array.empty
      case 1 | 2 =>
        val minVal = float32Unpack(br.bitsLong(32))
        val delta = float32Unpack(br.bitsLong(32))
        val valueBits = br.bits(4) + 1
        val sequenceP = br.bit() == 1
        val nVals =
          if (lookupType == 1) lookup1Values(entries, dim) else entries * dim
        val mults = Array.fill(nVals)(br.bits(valueBits))
        val out = new Array[Double](entries * dim)
        var e = 0
        while (e < entries) {
          var last = 0.0
          if (lookupType == 1) {
            var indexDivisor = 1
            var j = 0
            while (j < dim) {
              val off = (e / indexDivisor) % nVals
              val v = minVal + delta * mults(off) + last
              out(e * dim + j) = v
              if (sequenceP) last = v
              indexDivisor *= nVals
              j += 1
            }
          } else {
            var j = 0
            while (j < dim) {
              val v = minVal + delta * mults(e * dim + j) + last
              out(e * dim + j) = v
              if (sequenceP) last = v
              j += 1
            }
          }
          e += 1
        }
        out
      case t => throw new IllegalStateException(s"reserved lookup type $t")
    }
    Codebook(dim, entries, lengths, codewords, lookupType, vq)
  }

  /** Write a codebook (the encoder dual of [[readCodebook]]). */
  def writeCodebook(bw: BitWriter, dim: Int, lengths: Array[Int],
                    lookupType: Int = 0, minVal: Double = 0, delta: Double = 0,
                    valueBits: Int = 0, mults: Array[Int] = Array.empty): Unit = {
    bw.write(0x564342, 24)
    bw.write(dim, 16)
    bw.write(lengths.length, 24)
    bw.write(0, 1) // not ordered
    bw.write(0, 1) // not sparse
    lengths.foreach(l => bw.write(l - 1, 5))
    bw.write(lookupType, 4)
    if (lookupType != 0) {
      bw.writeLong(float32Pack(minVal), 32)
      bw.writeLong(float32Pack(delta), 32)
      bw.write(valueBits - 1, 4)
      bw.write(0, 1) // sequence_p = 0
      mults.foreach(m => bw.write(m, valueBits))
    }
  }

  // ---------------------------------------------------------- headers
  final case class Ident(channels: Int, sampleRate: Int, blocksize0: Int, blocksize1: Int)

  def readIdent(packet: Array[Byte]): Ident = {
    require(packet.length >= 30 && packet(0) == 1 &&
      new String(packet, 1, 6, "ISO-8859-1") == "vorbis", "not an identification header")
    val br = new BitReader(packet, 7 * 8)
    require(br.bits(32) == 0, "vorbis version must be 0")
    val ch = br.bits(8)
    val sr = br.bits(32)
    br.bits(32); br.bits(32); br.bits(32) // bitrate max/nominal/min
    val bs0 = 1 << br.bits(4)
    val bs1 = 1 << br.bits(4)
    require(br.bit() == 1, "ident framing bit")
    require(ch > 0 && sr > 0 && bs0 >= 64 && bs1 >= bs0 && bs1 <= 8192,
      s"bad ident: ch=$ch sr=$sr bs=$bs0/$bs1")
    Ident(ch, sr, bs0, bs1)
  }

  final case class Floor1(partitionClasses: Array[Int], classDims: Array[Int],
                          classSubclasses: Array[Int], classMasterbooks: Array[Int],
                          subclassBooks: Array[Array[Int]], multiplier: Int,
                          rangebits: Int, xList: Array[Int])

  final case class Residue(resType: Int, begin: Int, end: Int, partitionSize: Int,
                           classifications: Int, classbook: Int,
                           cascade: Array[Int], books: Array[Array[Int]])

  final case class Mapping(submaps: Int, couplingMag: Array[Int], couplingAng: Array[Int],
                           mux: Array[Int], submapFloor: Array[Int], submapResidue: Array[Int])

  final case class Mode(blockFlag: Boolean, mapping: Int)

  final case class Setup(codebooks: Array[Codebook], floors: Array[Floor1],
                         floorTypes: Array[Int], residues: Array[Residue],
                         mappings: Array[Mapping], modes: Array[Mode])

  def readSetup(packet: Array[Byte], channels: Int): Setup = {
    require(packet.length >= 7 && packet(0) == 5 &&
      new String(packet, 1, 6, "ISO-8859-1") == "vorbis", "not a setup header")
    val br = new BitReader(packet, 7 * 8)
    val nBooks = br.bits(8) + 1
    val books = Array.fill(nBooks)(readCodebook(br))
    // time transforms: placeholders, must read as 0
    val nTimes = br.bits(6) + 1
    (0 until nTimes).foreach(_ => require(br.bits(16) == 0, "nonzero time transform"))
    val nFloors = br.bits(6) + 1
    val floorTypes = new Array[Int](nFloors)
    val floors = new Array[Floor1](nFloors)
    var fi = 0
    while (fi < nFloors) {
      val t = br.bits(16)
      floorTypes(fi) = t
      t match {
        case 1 =>
          val partitions = br.bits(5)
          val pClasses = Array.fill(partitions)(br.bits(4))
          val maxClass = if (partitions == 0) -1 else pClasses.max
          val cDims = new Array[Int](maxClass + 1)
          val cSub = new Array[Int](maxClass + 1)
          val cMaster = Array.fill(maxClass + 1)(-1)
          val sBooks = new Array[Array[Int]](maxClass + 1)
          var c = 0
          while (c <= maxClass) {
            cDims(c) = br.bits(3) + 1
            cSub(c) = br.bits(2)
            if (cSub(c) > 0) cMaster(c) = br.bits(8)
            sBooks(c) = Array.fill(1 << cSub(c))(br.bits(8) - 1)
            c += 1
          }
          val multiplier = br.bits(2) + 1
          val rangebits = br.bits(4)
          val xs = scala.collection.mutable.ArrayBuffer(0, 1 << rangebits)
          pClasses.foreach(cl => (0 until cDims(cl)).foreach(_ => xs += br.bits(rangebits)))
          floors(fi) = Floor1(pClasses, cDims, cSub, cMaster, sBooks,
            multiplier, rangebits, xs.toArray)
        case 0 =>
          // floor0: parse-and-skip (LSP floors are legal but rare; audio
          // decode rejects streams using them with a typed error)
          br.bits(8); br.bits(16); br.bits(16); br.bits(6); br.bits(8)
          val nb = br.bits(4) + 1
          (0 until nb).foreach(_ => br.bits(8))
          floors(fi) = null
        case other => throw new IllegalStateException(s"reserved floor type $other")
      }
      fi += 1
    }
    val nRes = br.bits(6) + 1
    val residues = Array.fill(nRes) {
      val t = br.bits(16)
      require(t <= 2, s"reserved residue type $t")
      val begin = br.bits(24)
      val end = br.bits(24)
      val psize = br.bits(24) + 1
      val classif = br.bits(6) + 1
      val classbook = br.bits(8)
      val cascade = Array.fill(classif) {
        val lowBits = br.bits(3)
        val high = if (br.bit() == 1) br.bits(5) else 0
        (high << 3) | lowBits
      }
      val rb = Array.tabulate(classif)(c =>
        Array.tabulate(8)(p => if ((cascade(c) & (1 << p)) != 0) br.bits(8) else -1))
      Residue(t, begin, end, psize, classif, classbook, cascade, rb)
    }
    val nMaps = br.bits(6) + 1
    val mappings = Array.fill(nMaps) {
      require(br.bits(16) == 0, "reserved mapping type")
      val submaps = if (br.bit() == 1) br.bits(4) + 1 else 1
      val (mag, ang) =
        if (br.bit() == 1) {
          val steps = br.bits(8) + 1
          val m = new Array[Int](steps)
          val a = new Array[Int](steps)
          var i = 0
          while (i < steps) {
            m(i) = br.bits(ilog(channels - 1))
            a(i) = br.bits(ilog(channels - 1))
            i += 1
          }
          (m, a)
        } else (Array.empty[Int], Array.empty[Int])
      require(br.bits(2) == 0, "mapping reserved bits")
      val mux =
        if (submaps > 1) Array.fill(channels)(br.bits(4))
        else new Array[Int](channels)
      val sf = new Array[Int](submaps)
      val sr = new Array[Int](submaps)
      var i = 0
      while (i < submaps) {
        br.bits(8) // unused time config
        sf(i) = br.bits(8)
        sr(i) = br.bits(8)
        i += 1
      }
      Mapping(submaps, mag, ang, mux, sf, sr)
    }
    val nModes = br.bits(6) + 1
    val modes = Array.fill(nModes) {
      val blockFlag = br.bit() == 1
      require(br.bits(16) == 0, "mode window type")
      require(br.bits(16) == 0, "mode transform type")
      Mode(blockFlag, br.bits(8))
    }
    require(br.bit() == 1, "setup framing bit")
    Setup(books, floors, floorTypes, residues, mappings, modes)
  }
}
