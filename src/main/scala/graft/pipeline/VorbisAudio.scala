package graft.pipeline

import VorbisHeaders._

/** Vorbis I audio-packet decode on top of [[VorbisHeaders]]: mode
  * selection, floor1 curve synthesis, residue decode (types 0/1/2),
  * inverse channel coupling, IMDCT and windowed overlap-add.
  * [[VorbisEncoder]] is the fixture-minting dual (same role as
  * [[Mp3Encoder]] for the MP3 path).
  *
  * One spec data table is reconstructed rather than transcribed: the
  * floor1 inverse-dB amplitude table (256 entries). Its entries are an
  * exact geometric sequence anchored at table[0] = 1.0649863e-07 and
  * table[255] = 1.0 (each step ≈ 0.0629 nepers); engine-minted
  * streams are self-consistent by construction, and a foreign stream
  * decoded with the reconstructed table can deviate only in floor
  * AMPLITUDE by the table's interpolation error (sub-0.1 dB), never in
  * structure. Floor0 (LSP) streams are rejected with a typed error.
  */
object VorbisAudio {

  // ---------------------------------------------------- floor1 pieces
  /** floor1 y-value range by multiplier (spec Table). */
  private val FloorRange = Array(256, 128, 86, 64)

  /** Reconstructed inverse-dB table (see object scaladoc). */
  lazy val InverseDb: Array[Double] = {
    val lo = 1.0649863e-7
    val step = math.log(1.0 / lo) / 255.0
    Array.tabulate(256)(i => lo * math.exp(step * i))
  }

  /** Spec low/high neighbor: index of the greatest x[j] < x[i] (resp.
    * least x[j] > x[i]) over j < i.
    */
  private def lowNeighbor(x: Array[Int], i: Int): Int = {
    var best = -1
    var j = 0
    while (j < i) {
      if (x(j) < x(i) && (best < 0 || x(j) > x(best))) best = j
      j += 1
    }
    best
  }
  private def highNeighbor(x: Array[Int], i: Int): Int = {
    var best = -1
    var j = 0
    while (j < i) {
      if (x(j) > x(i) && (best < 0 || x(j) < x(best))) best = j
      j += 1
    }
    best
  }

  /** Spec render_point: y on the (x0,y0)-(x1,y1) line at x, integer
    * truncating math exactly as specified.
    */
  def renderPoint(x0: Int, y0: Int, x1: Int, y1: Int, x: Int): Int = {
    val dy = y1 - y0
    val adx = x1 - x0
    val ady = math.abs(dy)
    val err = ady * (x - x0)
    val off = err / adx
    if (dy < 0) y0 - off else y0 + off
  }

  /** Decode one channel's floor1 data; returns None for an "unused"
    * (silent) channel, else the final y per x-list point.
    */
  def decodeFloor1(br: BitReader, f: Floor1, books: Array[Codebook]): Option[Array[Int]] = {
    if (br.bit() == 0) return None
    val range = FloorRange(f.multiplier - 1)
    val yBits = ilog(range - 1)
    val n = f.xList.length
    val y = new Array[Int](n)
    y(0) = br.bits(yBits)
    y(1) = br.bits(yBits)
    var off = 2
    var p = 0
    while (p < f.partitionClasses.length) {
      val cls = f.partitionClasses(p)
      val cdim = f.classDims(cls)
      val cbits = f.classSubclasses(cls)
      val csub = (1 << cbits) - 1
      var cval = 0
      if (cbits > 0) cval = books(f.classMasterbooks(cls)).decodeEntry(br)
      var j = 0
      while (j < cdim) {
        val book = f.subclassBooks(cls)(cval & csub)
        cval >>= cbits
        y(off) = if (book >= 0) books(book).decodeEntry(br) else 0
        off += 1
        j += 1
      }
      p += 1
    }
    Some(y)
  }

  /** What a floor's x list fixes for every packet: each point's low and
    * high neighbor, and the point indices in ascending x.
    */
  final class FloorPlan(xList: Array[Int]) {
    val lo: Array[Int] = Array.tabulate(xList.length)(lowNeighbor(xList, _))
    val hi: Array[Int] = Array.tabulate(xList.length)(highNeighbor(xList, _))
    val order: Array[Int] = (0 until xList.length).sortBy(xList(_)).toArray
  }

  /** Spec floor1 curve synthesis (amplitude step2 logic + line render),
    * returning the amplitude multiplier per spectral line [0, n2).
    * `plan` is `f`'s [[FloorPlan]].
    */
  def synthesizeFloor1(f: Floor1, plan: FloorPlan, y: Array[Int], n2: Int): Array[Double] = {
    val range = FloorRange(f.multiplier - 1)
    val n = f.xList.length
    val step2 = new Array[Boolean](n)
    val finalY = new Array[Int](n)
    step2(0) = true; step2(1) = true
    finalY(0) = y(0); finalY(1) = y(1)
    var i = 2
    while (i < n) {
      val lo = plan.lo(i)
      val hi = plan.hi(i)
      val predicted = renderPoint(f.xList(lo), finalY(lo), f.xList(hi), finalY(hi), f.xList(i))
      val v = y(i)
      val highroom = range - predicted
      val lowroom = predicted
      val room = 2 * math.min(highroom, lowroom)
      if (v != 0) {
        step2(lo) = true; step2(hi) = true; step2(i) = true
        finalY(i) =
          if (v >= room) {
            if (highroom > lowroom) v - lowroom + predicted
            else predicted - (v - highroom) - 1
          } else if ((v & 1) == 1) predicted - ((v + 1) / 2)
          else predicted + v / 2
      } else {
        step2(i) = false
        finalY(i) = predicted
      }
      i += 1
    }
    // render: points in x order, lines between step2 points
    val order = plan.order
    val out = new Array[Double](n2)
    var hx = 0
    var hy = 0
    var lx = 0
    var ly = finalY(order(0)) * f.multiplier
    var o = 0
    while (o < n) {
      val idx = order(o)
      if (step2(idx)) {
        hx = f.xList(idx)
        hy = math.min(math.max(finalY(idx), 0), range - 1) * f.multiplier
        if (hx > lx) renderLine(lx, ly, hx, hy, out)
        else if (hx == 0) out(0) = InverseDb(math.min(hy, 255))
        lx = hx; ly = hy
      }
      o += 1
    }
    if (hx < n2) {
      // extend flat to the end
      var x = math.max(hx, 0)
      while (x < n2) { out(x) = InverseDb(math.min(ly, 255)); x += 1 }
    }
    out
  }

  /** Spec render_line: Bresenham-style integer line into amplitude via
    * the inverse-dB table.
    */
  private def renderLine(x0: Int, y0: Int, x1: Int, y1: Int, out: Array[Double]): Unit = {
    val dy = y1 - y0
    val adx = x1 - x0
    val base = dy / adx
    val ady = math.abs(dy) - math.abs(base) * adx
    val sy = if (dy < 0) base - 1 else base + 1
    var x = x0
    var y = y0
    var err = 0
    if (x0 >= 0 && x0 < out.length) out(x0) = InverseDb(math.min(math.max(y0, 0), 255))
    x = x0 + 1
    while (x < x1) {
      err += ady
      if (err >= adx) { err -= adx; y += sy } else y += base
      if (x >= 0 && x < out.length) out(x) = InverseDb(math.min(math.max(y, 0), 255))
      x += 1
    }
  }

  // ----------------------------------------------------- residue
  /** Decode one residue block into `ch` vectors of length n2.
    * `doNotDecode` marks channels whose floor was unused. Types 0/1
    * decode per channel; type 2 interleaves all channels into one
    * vector first.
    */
  def decodeResidue(br: BitReader, r: Residue, books: Array[Codebook],
                    ch: Int, n2: Int, doNotDecode: Array[Boolean]): Array[Array[Double]] = {
    val out = zeros(ch, n2)
    if (r.resType == 2) {
      if (doNotDecode.forall(identity)) return out
      val v = decodeResidueCore(br, r, books, 1, n2 * ch, Array(false), format2 = true)
      var i = 0
      while (i < n2 * ch) { out(i % ch)(i / ch) = v(0)(i); i += 1 }
      out
    } else {
      decodeResidueCore(br, r, books, ch, n2, doNotDecode, format2 = false)
    }
  }

  /** `rows` zeroed vectors of length `cols`. */
  private def zeros(rows: Int, cols: Int): Array[Array[Double]] = {
    val a = new Array[Array[Double]](rows)
    var i = 0
    while (i < rows) { a(i) = new Array[Double](cols); i += 1 }
    a
  }

  private def decodeResidueCore(br: BitReader, r: Residue, books: Array[Codebook],
                                ch: Int, n2: Int, doNotDecode: Array[Boolean],
                                format2: Boolean): Array[Array[Double]] = {
    val out = zeros(ch, n2)
    val begin = math.min(r.begin, n2)
    val end = math.min(r.end, n2)
    val nToRead = end - begin
    if (nToRead <= 0) return out
    val classbook = books(r.classbook)
    val cwPart = classbook.dim // partitions classified per classword
    val partitions = nToRead / r.partitionSize
    val classifs = Array.ofDim[Int](ch, partitions + cwPart)
    var pass = 0
    while (pass < 8) {
      var part = 0
      while (part < partitions) {
        if (pass == 0) {
          var j = 0
          while (j < ch) {
            if (!doNotDecode(j)) {
              var temp = classbook.decodeEntry(br)
              // spec: decompose the classword high-order first
              var k = cwPart - 1
              while (k >= 0) {
                classifs(j)(part + k) = temp % r.classifications
                temp /= r.classifications
                k -= 1
              }
            }
            j += 1
          }
        }
        var k = 0
        while (k < cwPart && part < partitions) {
          var j = 0
          while (j < ch) {
            if (!doNotDecode(j)) {
              val c = classifs(j)(part)
              val book = r.books(c)(pass)
              if (book >= 0) {
                val b = books(book)
                val offset = begin + part * r.partitionSize
                if (r.resType == 0 && !format2) {
                  // interleaved: step = partitionSize / dim
                  val step = r.partitionSize / b.dim
                  var s = 0
                  while (s < step) {
                    val vec = b.vector(b.decodeEntry(br))
                    var d = 0
                    while (d < b.dim) {
                      out(j)(offset + s + d * step) += vec(d)
                      d += 1
                    }
                    s += 1
                  }
                } else {
                  // types 1 and 2: sequential dim-sized chunks
                  var s = 0
                  while (s < r.partitionSize) {
                    val vec = b.vector(b.decodeEntry(br))
                    var d = 0
                    while (d < b.dim) {
                      out(j)(offset + s) += vec(d)
                      s += 1
                      d += 1
                    }
                  }
                }
              }
            }
            j += 1
          }
          part += 1
          k += 1
        }
      }
      pass += 1
    }
    out
  }

  // ------------------------------------------------- coupling + IMDCT
  /** Inverse square-polar channel coupling, in place (spec 4.3.5). */
  def inverseCoupling(m: Mapping, vecs: Array[Array[Double]]): Unit = {
    var i = m.couplingMag.length - 1
    while (i >= 0) {
      val mag = vecs(m.couplingMag(i))
      val ang = vecs(m.couplingAng(i))
      var j = 0
      while (j < mag.length) {
        val mv = mag(j); val av = ang(j)
        if (mv > 0) {
          if (av > 0) { mag(j) = mv; ang(j) = mv - av }
          else { ang(j) = mv; mag(j) = mv + av }
        } else {
          if (av > 0) { mag(j) = mv; ang(j) = mv + av }
          else { ang(j) = mv; mag(j) = mv - av }
        }
        j += 1
      }
      i -= 1
    }
  }

  /** The Vorbis window: sin(π/2 · sin²(π/n · (i+½))). */
  def window(n: Int): Array[Double] =
    Array.tabulate(n) { i =>
      val s = math.sin(math.Pi / n * (i + 0.5))
      math.sin(math.Pi / 2 * s * s)
    }

  /** Rising window slope over `len` samples: sin(π/2 · sin²(π/(2·len) ·
    * (i+½))). The symmetric window is this slope over the left half and
    * its mirror over the right half; the asymmetric (mixed-blocksize)
    * windows reposition the same slope.
    */
  private def slope(i: Int, len: Int): Double = {
    val s = math.sin(math.Pi / (2.0 * len) * (i + 0.5))
    math.sin(math.Pi / 2 * s * s)
  }

  /** Spec 4.3.1 window shape for one block: a long block flanked by a
    * short neighbor narrows that side's slope to n0/2 samples centered
    * on the quarter point (left slope spans [n/4−n0/4, n/4+n0/4), right
    * slope [3n/4−n0/4, 3n/4+n0/4)), with 0 outside and 1 between — the
    * placement that keeps the MDCT time-domain alias folds (around n/4
    * and 3n/4) power-complementary across a long/short transition.
    * Short blocks (and long blocks with long neighbors) reduce to the
    * symmetric [[window]]. Memoized per shape (at most 8 shapes/stream).
    */
  private val windowCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Boolean, Boolean), Array[Double]]()

  def windowShaped(n: Int, n0: Int, prevShort: Boolean, nextShort: Boolean): Array[Double] =
    windowCache.computeIfAbsent((n, n0, prevShort, nextShort), _ => {
      val leftN = if (prevShort) n0 / 2 else n / 2
      val rightN = if (nextShort) n0 / 2 else n / 2
      val leftStart = n / 4 - leftN / 2
      val rightStart = 3 * n / 4 - rightN / 2
      Array.tabulate(n) { i =>
        if (i < leftStart) 0.0
        else if (i < leftStart + leftN) slope(i - leftStart, leftN)
        else if (i < rightStart) 1.0
        else if (i < rightStart + rightN) slope(rightStart + rightN - 1 - i, rightN)
        else 0.0
      }
    })

  // ------------------------------------------------------ top level
  final case class DecodeResult(sampleRate: Int, channels: Int,
                                samples: Array[Array[Float]], packetsOk: Int,
                                packetsFailed: Int)

  /** Decode a whole Ogg/Vorbis stream to per-channel floats. Handles
    * both equal-blocksize and mixed-blocksize streams: long blocks
    * apply the spec's asymmetric transition windows (picked by the
    * packet's prev/next window flags) and overlap-add runs on block
    * centers, so long/short transitions reconstruct exactly (TDAC
    * property pinned in VorbisSpec; [[VorbisEncoder.encodeMixed]] is
    * the fixture dual). Packets that fail decode are counted and
    * skipped (fault isolation, like [[Mp3Audio]]).
    */
  def decode(bytes: Array[Byte]): DecodeResult = {
    val (pkts, _) = Ogg.packets(bytes)
    require(pkts.length >= 3, "vorbis stream needs 3 header packets")
    val ident = readIdent(pkts(0))
    require(pkts(1).nonEmpty && pkts(1)(0) == 3, "expected comment header")
    val setup = readSetup(pkts(2), ident.channels)
    val ch = ident.channels
    val modeBits = math.max(ilog(setup.modes.length - 1), 0)
    val out = Array.fill(ch)(new PcmBuffer)
    // per mapping and submap, the channels it muxes
    val submapChannels = setup.mappings.map(m =>
      Array.tabulate(m.submaps)(sm => (0 until ch).filter(m.mux(_) == sm).toArray))
    val maxN = math.max(ident.blocksize0, ident.blocksize1)
    // Built once per stream: the IMDCT per block size, each floor1's plan
    // (floor0 entries are null and fail their packets below), the window
    // per (block flag, prev short, next short) and, per channel, the
    // current and previous windowed block and the spectrum.
    val imdct0 = new Mdct.Inverse(ident.blocksize0)
    val imdct1 = new Mdct.Inverse(ident.blocksize1)
    val floorPlans = setup.floors.map(f => if (f == null) null else new FloorPlan(f.xList))
    val windows = Array.tabulate(8)(shape => windowShaped(
      if (shape >= 4) ident.blocksize1 else ident.blocksize0, ident.blocksize0,
      (shape & 2) != 0, (shape & 1) != 0))
    var cur = Array.ofDim[Double](ch, maxN)
    var prev = Array.ofDim[Double](ch, maxN) // windowed samples [prevN/2, prevN) used
    val spec = new Array[Double](maxN / 2)
    var prevN = 0
    var ok = 0
    var failed = 0
    pkts.drop(3).foreach { pkt =>
      try {
        val br = new BitReader(pkt)
        require(br.bit() == 0, "not an audio packet")
        val mode = setup.modes(if (modeBits == 0) 0 else br.bits(modeBits))
        val n = if (mode.blockFlag) ident.blocksize1 else ident.blocksize0
        // For long blocks the packet carries two flags telling whether
        // the PREVIOUS/NEXT block is short (bit clear = short) — they
        // pick the asymmetric transition slopes (spec 4.3.1).
        var prevShort = false
        var nextShort = false
        if (mode.blockFlag) {
          prevShort = br.bit() == 0
          nextShort = br.bit() == 0
        }
        val mapping = setup.mappings(mode.mapping)
        val n2 = n / 2
        // floors
        val floorY = new Array[Option[Array[Int]]](ch)
        val noDecode = new Array[Boolean](ch)
        var c = 0
        while (c < ch) {
          val fIdx = mapping.submapFloor(mapping.mux(c))
          require(setup.floorTypes(fIdx) == 1, "floor0 streams unsupported")
          floorY(c) = decodeFloor1(br, setup.floors(fIdx), setup.codebooks)
          noDecode(c) = floorY(c).isEmpty
          c += 1
        }
        // nonzero propagation through coupling (spec 4.3.2/4.3.4)
        var i = 0
        while (i < mapping.couplingMag.length) {
          if (!noDecode(mapping.couplingMag(i)) || !noDecode(mapping.couplingAng(i))) {
            noDecode(mapping.couplingMag(i)) = false
            noDecode(mapping.couplingAng(i)) = false
          }
          i += 1
        }
        // residues by submap
        val residueVecs = Array.ofDim[Array[Double]](ch)
        var sm = 0
        while (sm < mapping.submaps) {
          val chIdx = submapChannels(mode.mapping)(sm)
          val dnd = new Array[Boolean](chIdx.length)
          var k = 0
          while (k < chIdx.length) { dnd(k) = noDecode(chIdx(k)); k += 1 }
          val r = setup.residues(mapping.submapResidue(sm))
          val vs = decodeResidue(br, r, setup.codebooks, chIdx.length, n2, dnd)
          k = 0
          while (k < chIdx.length) { residueVecs(chIdx(k)) = vs(k); k += 1 }
          sm += 1
        }
        inverseCoupling(mapping, residueVecs)
        // floor curve × residue, IMDCT, window, overlap-add
        val shape = (if (mode.blockFlag) 4 else 0) + (if (prevShort) 2 else 0) + (if (nextShort) 1 else 0)
        val win = windows(shape)
        val imdct = if (mode.blockFlag) imdct1 else imdct0
        c = 0
        while (c < ch) {
          floorY(c) match {
            case Some(y) =>
              val fIdx = mapping.submapFloor(mapping.mux(c))
              val curve = synthesizeFloor1(setup.floors(fIdx), floorPlans(fIdx), y, n2)
              val res = residueVecs(c)
              var k = 0
              while (k < n2) { spec(k) = curve(k) * res(k); k += 1 }
            case None => java.util.Arrays.fill(spec, 0, n2, 0.0) // silent channel
          }
          val t = imdct(spec)
          val block = cur(c)
          var j = 0
          while (j < n) { block(j) = t(j) * win(j); j += 1 }
          c += 1
        }
        // Overlap-add by block CENTERS (spec 1.3.2): consecutive centers
        // are (prevN + n)/4 apart, so each pair emits prevN/4 + n/4
        // samples. In prev-block time coords the current block starts at
        // 3·prevN/4 − n/4; samples before that (long-after-short gap)
        // take only the previous block's flat-1 region, samples past the
        // previous block's end (short-after-long) take only the current
        // one — exactly where the asymmetric windows are 0/1. Equal
        // sizes reduce to the classic half-block lap.
        if (prevN > 0) {
          val outLen = prevN / 4 + n / 4
          val curOff = 3 * prevN / 4 - n / 4
          c = 0
          while (c < ch) {
            val pb = prev(c); val cb = cur(c); val o = out(c)
            var t = prevN / 2
            while (t < prevN / 2 + outLen) {
              val a = if (t < prevN) pb(t) else 0.0
              val ci = t - curOff
              val b = if (ci >= 0) cb(ci) else 0.0
              o += (a + b).toFloat
              t += 1
            }
            c += 1
          }
        }
        val done = prev; prev = cur; cur = done
        prevN = n
        ok += 1
      } catch {
        case _: Exception => failed += 1
      }
    }
    DecodeResult(ident.sampleRate, ch, out.map(_.result), ok, failed)
  }
}
