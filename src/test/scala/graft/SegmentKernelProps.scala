package graft

import org.scalacheck.{Gen, Prop, Properties}

import graft.ops.SegmentKernels
import graft.ops.SegmentKernels.Merged

/** Property-based laws for the pure segment kernels (SURVEY §5.3):
  * sessionization invariants, split bounds, sweep-line coverage — checked
  * on hundreds of generated inputs at ScalaCheck speed (no Spark).
  */
object SegmentKernelProps extends Properties("SegmentKernels") {

  private val genSeg: Gen[(Double, Double)] = for {
    s <- Gen.chooseNum(0d, 1000d)
    d <- Gen.chooseNum(0.01d, 50d)
  } yield (s, s + d)

  private val genSegs: Gen[IndexedSeq[(Double, Double)]] =
    Gen.listOfN(60, genSeg).map(_.toIndexedSeq.sorted)

  private val gap = 5d
  private val cap = 120d

  property("mergeCapped preserves member count") = Prop.forAll(genSegs) { segs =>
    SegmentKernels.mergeCapped(segs, gap, cap).map(_.n).sum == segs.length
  }

  property("mergeCapped sessions are ordered and cover input bounds") =
    Prop.forAll(genSegs) { segs =>
      val ms = SegmentKernels.mergeCapped(segs, gap, cap)
      segs.isEmpty || (
        ms.head.start == segs.head._1 &&
        ms.map(_.start).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)) &&
        ms.forall(m => m.end >= m.start))
    }

  property("mergeCapped spans respect the cap unless a single member exceeds it") =
    Prop.forAll(genSegs) { segs =>
      val maxSingle = if (segs.isEmpty) 0d else segs.map(t => t._2 - t._1).max
      SegmentKernels.mergeCapped(segs, gap, cap)
        .forall(m => m.end - m.start <= math.max(cap, maxSingle))
    }

  property("mergeCapped with no cap: consecutive sessions separated by > gap") =
    Prop.forAll(genSegs) { segs =>
      val ms = SegmentKernels.mergeCapped(segs, gap, Double.MaxValue)
      ms.sliding(2).forall {
        case Seq(a: Merged, b: Merged) => b.start - a.end > gap
        case _ => true
      }
    }

  property("mergeTypedCapped with unit items == mergeCapped + types in order") =
    Prop.forAll(Gen.listOfN(40, for {
      seg <- genSeg
      t <- Gen.oneOf("voice", "silence", "music")
    } yield (seg._1, seg._2, t)).map(_.toIndexedSeq.sortBy(x => (x._1, x._2, x._3)))) { segs =>
      val typed = SegmentKernels.mergeTypedCapped(
        segs.map(s => (s._1, s._2, 1, Seq(s._3))), gap, cap)
      val plain = SegmentKernels.mergeCapped(segs.map(s => (s._1, s._2)), gap, cap)
      typed.map(m => (m.start, m.end, m.n)) == plain.map(m => (m.start, m.end, m.n)) &&
        typed.map(_.types.length) == typed.map(_.n) &&
        typed.flatMap(_.types) == segs.map(_._3)
    }

  property("mergeTypedCapped is weight-associative: pre-merged prefix seeds equal the flat fold") =
    Prop.forAll(Gen.listOfN(40, for {
      seg <- genSeg
      t <- Gen.oneOf("voice", "silence")
    } yield (seg._1, seg._2, t)).map(_.toIndexedSeq.sortBy(x => (x._1, x._2, x._3))),
        Gen.chooseNum(1, 39)) { (segs, cut0) =>
      // the streaming shell's contract: folding a prefix, carrying its
      // LAST open session back in as ONE weighted item, then folding the
      // suffix equals folding everything at once — as long as the suffix
      // does not precede the open session (the in-order arrival case).
      val items = segs.map(s => (s._1, s._2, 1, Seq(s._3)))
      val flat = SegmentKernels.mergeTypedCapped(items, gap, cap)
      val cut = math.min(cut0, items.length)
      val head = SegmentKernels.mergeTypedCapped(items.take(cut), gap, cap)
      head.isEmpty || {
        val open = head.last
        val reseeded = SegmentKernels.mergeTypedCapped(
          (open.start, open.end, open.n, open.types) +: items.drop(cut), gap, cap)
        (head.dropRight(1) ++ reseeded) == flat
      }
    }

  property("splitAtLargestGaps pieces fit or are singletons, count preserved") =
    Prop.forAll(genSegs) { segs =>
      val ps = SegmentKernels.splitAtLargestGaps(segs, 80d)
      ps.map(_.n).sum == segs.length &&
        ps.forall(p => p.end - p.start <= 80d || p.n == 1)
    }

  property("clusterOne: labels bounded, non-noise clusters respect the A12 floor, deterministic") =
    Prop.forAll(Gen.listOfN(40, Gen.listOfN(8, Gen.chooseNum(-1f, 1f)))) { vecs0 =>
      val embs = vecs0.map(_.toArray).toIndexedSeq
      val ratio = 0.1
      val labels = graft.pipeline.Clustering.clusterOne(embs,
        minClusterRatio = ratio, simThreshold = 0.8, softThreshold = 0.3)
      val n = embs.length
      val minSize = math.max(2, (n * ratio).toInt)
      val sizes = labels.filter(_ >= 0).groupBy(identity).map(_._2.length)
      labels.length == n &&
        labels.forall(_ >= -1) &&
        // the floor dissolves small clusters BEFORE rescue; rescue only
        // grows survivors, so every surviving cluster still meets it
        sizes.forall(_ >= minSize) &&
        // surviving cluster ids form a contiguous {0..m-1} set (sequence
        // order is NOT asserted: soft rescue can place a later-founded
        // cluster's member before an earlier one's)
        labels.filter(_ >= 0).distinct.sorted.zipWithIndex.forall { case (l, i) => l == i } &&
        labels.toSeq == graft.pipeline.Clustering.clusterOne(embs, ratio, 0.8, 0.3).toSeq
    }

  property("IntervalUnionAgg: insert-in-place reduce + merge equal brute-force union") =
    Prop.forAll(
      Gen.listOfN(50, for {
        s <- Gen.chooseNum(0L, 500L)
        d <- Gen.chooseNum(-5L, 60L) // include degenerate and inverted rows
      } yield (s, s + d)),
      Gen.chooseNum(0, 50)) { (ivs, cut0) =>
      val agg = new graft.expr.IntervalUnionAgg()
      val cut = math.min(cut0, ivs.length)
      val (a, b) = ivs.splitAt(cut)
      val viaAgg = agg.finish(agg.merge(
        a.foldLeft(agg.zero)(agg.reduce), b.foldLeft(agg.zero)(agg.reduce)))
      val brute = ivs.filter(t => t._2 > t._1)
        .flatMap(t => t._1 until t._2).toSet.size.toLong
      // the reduce must also maintain the sorted-strictly-disjoint
      // buffer invariant the binary search depends on
      val buf = ivs.foldLeft(agg.zero)(agg.reduce)
      val invariant = buf.sliding(2).forall {
        case Seq(x, y) => x._2 < y._1
        case _ => true
      }
      viaAgg == brute && invariant
    }

  property("TopKAgg: any partitioning of reduces + merges equals sort-take-k") =
    Prop.forAll(
      Gen.listOfN(80, for {
        v <- Gen.chooseNum(-50L, 50L) // narrow range forces ties
        id <- Gen.chooseNum(0L, 1000L)
      } yield (v, id)),
      Gen.chooseNum(1, 6),
      Gen.listOfN(80, Gen.chooseNum(0, 3))) { (xs, k, parts) =>
      val agg = new graft.expr.TopKAgg(k)
      // scatter rows into 4 partitions per the generated assignment,
      // reduce each, then merge in a fixed order
      val bufs = xs.zip(parts).groupBy(_._2).values
        .map(_.map(_._1).foldLeft(agg.zero)(agg.reduce))
      val merged = agg.finish(bufs.foldLeft(agg.zero)(agg.merge))
      val want = xs.sortBy { case (v, id) => (-v, id) }.take(k)
        .map { case (v, id) => graft.expr.TopKAgg.Entry(v, id) }
      merged == want
    }

  property("sweepActiveSets intervals are disjoint, ordered, non-empty-labeled") =
    Prop.forAll(Gen.listOfN(30, for {
      seg <- genSeg
      l <- Gen.oneOf("a", "b", "c")
    } yield (seg._1, seg._2, l))) { segs =>
      val as = SegmentKernels.sweepActiveSets(segs)
      as.forall(a => a.labels.nonEmpty && a.end > a.start) &&
        as.sliding(2).forall {
          case Seq(x, y) => x.end <= y.start
          case _ => true
        }
    }

  property("sweepActiveSets covers exactly the union of input intervals") =
    Prop.forAll(Gen.listOfN(20, for {
      seg <- genSeg
      l <- Gen.oneOf("a", "b")
    } yield (seg._1, seg._2, l))) { segs =>
      val covered = SegmentKernels.sweepActiveSets(segs)
        .map(a => a.end - a.start).sum
      // union length via 1-label sweep of the same intervals
      val union = SegmentKernels.sweepActiveSets(segs.map(t => (t._1, t._2, "x")))
        .map(a => a.end - a.start).sum
      math.abs(covered - union) < 1e-9
    }

  // coarse half-second grid: equal starts with different speakers occur
  private val genSpeakerCorpus: Gen[(Seq[graft.model.SpeakerSegment], Double, Double, Double)] = for {
    segs <- Gen.listOfN(80, for {
      file <- Gen.oneOf("f0", "f1", "f2", "f3")
      s <- Gen.choose(0, 400).map(_ * 0.5)
      d <- Gen.choose(1, 20).map(_ * 0.5)
      spk <- Gen.oneOf("s0", "s1", "s2")
    } yield graft.model.SpeakerSegment(file, s, s + d, spk))
    gap <- Gen.oneOf(0d, 1d, 5d)
    cap <- Gen.oneOf(5d, 20d, 1000d)
    minDur <- Gen.oneOf(0d, 2d, 6d)
  } yield (segs, gap, cap, minDur)

  property("sessionizeBySpeaker (Dataset) == mergeBySpeaker applied per file") = {
    val spark = TestSpark.spark
    import spark.implicits._
    Prop.forAll(genSpeakerCorpus) { case (segs, gap, cap, minDur) =>
      val got = graft.ops.SegmentAlgebra.sessionizeBySpeaker(segs.toDS(), gap, cap, minDur)
        .collect().toSeq
      val want = segs.groupBy(_.file).toSeq.flatMap { case (file, ss) =>
        val turns = ss.map(s => SegmentKernels.Turn(s.start, s.end, s.speaker)).toIndexedSeq
          .sortBy(t => (t.start, t.end, t.speaker))
        SegmentKernels.mergeBySpeaker(turns, gap, cap, minDur)
          .map(t => graft.model.SpeakerSegment(file, t.start, t.end, t.speaker))
      }
      def canon(xs: Seq[graft.model.SpeakerSegment]) = xs.sortBy(s => (s.file, s.start, s.end))
      canon(got) == canon(want)
    }
  }
}
