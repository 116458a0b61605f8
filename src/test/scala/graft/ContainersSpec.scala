package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Containers, Mp4Probe, TiffProbe, WebpProbe}
import java.nio.charset.StandardCharsets

/** Round-trip + loud-failure pins for the archive/container walks
  * (tar, zip, docx) and the TIFF / MP4 probes — every parser is
  * certified against bytes laid down by its independent mint dual,
  * plus hand-corrupted variants for the S10 tier.
  */
class ContainersSpec extends AnyFunSuite {

  private def b(s: String) = s.getBytes(StandardCharsets.UTF_8)

  test("tar mint/walk round-trip: names, sizes, offsets, payload") {
    val entries = Seq(
      ("docs/a.txt", 1700000000L, b("hello tar")),
      ("docs/b.bin", 1700000100L, Array.tabulate(600)(_.toByte)),
      ("empty.txt", 1700000200L, Array.emptyByteArray))
    val tar = Containers.mintTar(entries)
    assert(tar.length % 512 == 0)
    val walked = Containers.walkTar(tar)
    assert(walked.map(_.name) == entries.map(_._1))
    assert(walked.map(_.size) == entries.map(_._3.length.toLong))
    assert(walked.map(_.mtime) == entries.map(_._2))
    // payload slices through dataOffset match the minted bytes
    walked.zip(entries).foreach { case (w, (_, _, data)) =>
      val got = java.util.Arrays.copyOfRange(tar, w.dataOffset.toInt,
        w.dataOffset.toInt + w.size.toInt)
      assert(got.sameElements(data))
    }
  }

  test("tar violations are loud: bad magic, bad checksum, overrun") {
    val tar = Containers.mintTar(Seq(("a", 0L, b("x"))))
    val badMagic = tar.clone(); badMagic(257) = 'X'.toByte
    intercept[IllegalArgumentException](Containers.walkTar(badMagic))
    val badSum = tar.clone(); badSum(148) = '7'.toByte
    intercept[IllegalArgumentException](Containers.walkTar(badSum))
    val badSize = tar.clone()
    // size field to a huge octal -> entry overruns the archive
    "77777777777".getBytes.copyToArray(badSize, 124)
    intercept[IllegalArgumentException](Containers.walkTar(badSize))
  }

  test("zip mint/walk/read round-trip, stored and deflated") {
    val entries = Seq(
      ("a/stored.txt", b("stored payload"), false),
      ("b/deflated.txt", b("deflate me " * 40), true))
    val zip = Containers.mintZip(entries)
    val walked = Containers.walkZip(zip)
    assert(walked.map(_.name) == entries.map(_._1))
    assert(walked.map(_.method) == Seq(0, 8))
    assert(walked.map(_.uncompSize) == entries.map(_._2.length.toLong))
    walked.zip(entries).foreach { case (w, (_, data, _)) =>
      assert(Containers.readZipEntry(zip, w).sameElements(data))
    }
    // deflate actually compressed the repetitive payload
    assert(walked(1).compSize < walked(1).uncompSize)
  }

  test("zip violations are loud: no EOCD, CRC mismatch") {
    intercept[IllegalArgumentException](
      Containers.walkZip(b("not a zip at all, no signature here....")))
    val zip = Containers.mintZip(Seq(("f", b("payload!"), false)))
    val e = Containers.walkZip(zip).head
    val bad = zip.clone()
    // flip a payload byte behind the local header
    bad(e.localOffset.toInt + 30 + 1 + 2) =
      (bad(e.localOffset.toInt + 30 + 1 + 2) ^ 0x7f).toByte
    intercept[IllegalArgumentException](Containers.readZipEntry(bad, e))
  }

  test("docx text extraction: runs concatenate, paragraphs newline, " +
    "entities decode, both methods") {
    val paras = Seq("Hello docx world", "second & <third>")
    for (deflate <- Seq(false, true)) {
      val docx = Containers.mintDocx(paras, deflate)
      assert(Containers.docxText(docx) ==
        "Hello docx world\nsecond & <third>")
    }
    // a zip without the document part is loud
    val notDocx = Containers.mintZip(Seq(("other.xml", b("<x/>"), false)))
    intercept[IllegalArgumentException](Containers.docxText(notDocx))
  }

  test("tiff mint/probe round-trip, both byte orders, GPS strip") {
    for (be <- Seq(false, true)) {
      val t = TiffProbe.mint(800L, 600L, 8L, 6L, withExif = true,
        withGps = true, bigEndian = be)
      val p = TiffProbe.probe(t)
      assert(p.width == 800L && p.height == 600L && p.bitsPerSample == 8L
        && p.orientation == 6L && p.hasGps && p.hasExif
        && p.bigEndian == be)
      // the minted GPS sub-IFD carries non-zero coordinate bytes
      // (out-of-line RATIONALs); the scrub must excise the PAYLOAD,
      // not just the pointer — assert the bytes are present before
      // and unrecoverable after
      def word(v: Long): Seq[Byte] =
        if (be) Seq((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte,
          v.toByte)
        else Seq(v.toByte, (v >> 8).toByte, (v >> 16).toByte,
          (v >> 24).toByte)
      val latWords = TiffProbe.MintLat.map { case (num, _) => word(num) }
      assert(latWords.forall(w => t.toSeq.containsSlice(w)))
      val out = TiffProbe.stripGps(t)
      assert(latWords.forall(w => !out.toSeq.containsSlice(w)))
      val stripped = TiffProbe.probe(out)
      assert(!stripped.hasGps && stripped.hasExif
        && stripped.width == 800L && stripped.nTags == p.nTags - 1)
    }
    // bad magic is loud
    val bad = TiffProbe.mint(1, 1, 1, 1, withExif = false,
      withGps = false, bigEndian = false)
    bad(2) = 43
    intercept[IllegalArgumentException](TiffProbe.probe(bad))
  }

  test("epub mint/extract round-trip: mimetype certified, spine order, " +
    "xhtml text") {
    val chapters = Seq(Seq("One & one", "still <one>"), Seq("Chapter two"))
    for (deflate <- Seq(false, true)) {
      val epub = Containers.mintEpub(chapters, deflate)
      val got = Containers.epubText(epub)
      assert(got.map(_.idx) == Seq(1, 2))
      assert(got.map(_.href) == Seq("ch0.xhtml", "ch1.xhtml"))
      assert(got.map(_.text) == Seq("One & one\nstill <one>",
        "Chapter two"))
    }
    // deflated mimetype violates OCF: loud
    val parts = Containers.walkZip(Containers.mintEpub(chapters, false))
    assert(parts.head.name == "mimetype" && parts.head.method == 0)
    val badMime = Containers.mintZip(Seq(
      ("mimetype", b("application/epub+zip"), true)))
    intercept[IllegalArgumentException](Containers.epubText(badMime))
  }

  test("webp probe: all three flavors round-trip; corrupt start code " +
    "is loud") {
    for ((flavor, alpha) <- Seq(("vp8", false), ("vp8l", true),
        ("vp8x", true))) {
      val w = WebpProbe.mint(flavor, 1024L, 768L, alpha)
      val p = WebpProbe.probe(w)
      assert(p.flavor == flavor && p.width == 1024L && p.height == 768L
        && p.hasAlphaFlag == alpha, s"got $p")
      assert(graft.pipeline.FormatSniff.sniff(w) == "webp")
    }
    val bad = WebpProbe.mint("vp8", 16L, 16L, alpha = false)
    bad(23) = 0x00
    intercept[IllegalArgumentException](WebpProbe.probe(bad))
  }

  test("mkv mint/probe round-trip: doctype, timecode scale, tracks; " +
    "vint widths exercised") {
    import graft.pipeline.MkvProbe
    val tracks = Seq(
      MkvProbe.MkvTrack(1L, 1L, "V_VP9"),
      MkvProbe.MkvTrack(2L, 2L, "A_OPUS"))
    val mkv = MkvProbe.mint("webm", 1000000L, tracks)
    val p = MkvProbe.probe(mkv)
    assert(p.docType == "webm" && p.timecodeScale == 1000000L
      && p.tracks == tracks, s"got $p")
    assert(graft.pipeline.FormatSniff.sniff(mkv) == "mkv")
    // default timecode scale when Info OMITS the element: spec 1,000,000
    // (mint with None writes no TimecodeScale, so this exercises the
    // probe's fallback branch, not a written value)
    val noScale = MkvProbe.mint("matroska", None, tracks.take(1))
    assert(MkvProbe.probe(noScale).timecodeScale == 1000000L)
    // a non-default written scale round-trips (distinguishes written
    // from defaulted)
    assert(MkvProbe.probe(MkvProbe.mint("matroska", 500000L,
      tracks.take(1))).timecodeScale == 500000L)
    // truncated element is loud
    intercept[IllegalArgumentException](MkvProbe.probe(
      java.util.Arrays.copyOfRange(mkv, 0, mkv.length - 3)))
    // a TrackEntry without a codec is loud
    intercept[IllegalArgumentException] {
      MkvProbe.probe(MkvProbe.mint("webm", 1000000L,
        Seq(MkvProbe.MkvTrack(1L, 1L, ""))))
    }
  }

  test("mp4 mint/probe round-trip: brand, mvhd, video+audio tracks") {
    val tracks = Seq(
      Mp4Probe.TrackInfo(1L, "vide", 30000L, 90000L, 1920L, 1080L),
      Mp4Probe.TrackInfo(2L, "soun", 48000L, 144000L, 0L, 0L))
    val mp4 = Mp4Probe.mint("isom", 1000L, 3000L, tracks)
    val p = Mp4Probe.probe(mp4)
    assert(p.brand == "isom" && p.timescale == 1000L && p.duration == 3000L)
    assert(p.tracks == tracks)
    // truncated box is loud
    intercept[IllegalArgumentException](
      Mp4Probe.probe(java.util.Arrays.copyOfRange(mp4, 0, mp4.length - 6)))
  }

  test("mp4 probe: a last box of size 0 runs to the end of the file") {
    val tracks = Seq(Mp4Probe.TrackInfo(1L, "soun", 48000L, 96000L, 0L, 0L))
    val mp4 = Mp4Probe.mint("isom", 1000L, 2000L, tracks)
    // ISO/IEC 14496-12 §4.2: size 0 = "box extends to end of file"
    val mdat = new Array[Byte](4) ++ "mdat".getBytes("US-ASCII") ++ new Array[Byte](100)
    assert(Mp4Probe.probe(mp4 ++ mdat) == Mp4Probe.probe(mp4))
  }
}
