package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.FormatSniff

/** The magic table pinned byte by byte for the formats the query mint
  * cannot produce (AIFF/AU/OGG/MP3/ZIP) plus boundary cases — the
  * injector/parser-shared-constant lesson applied to the router.
  */
class FormatSniffSpec extends AnyFunSuite {

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  test("hand-laid magics route: aiff, au, ogg, mp3 (ID3 and bare " +
      "frame sync), zip, gzip") {
    assert(FormatSniff.sniff(("FORM" + "\u0000\u0000\u0000\u0004" + "AIFFrest")
      .getBytes("ISO-8859-1")) == "aiff")
    assert(FormatSniff.sniff(".snd then anything".getBytes) == "au")
    assert(FormatSniff.sniff("OggS page".getBytes) == "ogg")
    assert(FormatSniff.sniff("ID3tag".getBytes) == "mp3")
    assert(FormatSniff.sniff(b(0xff, 0xfb, 0x90, 0x00)) == "mp3")
    assert(FormatSniff.sniff(b(0x50, 0x4b, 0x03, 0x04, 0x14)) == "zip")
    assert(FormatSniff.sniff(b(0x1f, 0x8b, 0x08, 0x00)) == "gzip")
  }

  test("boundary cases: RIFF without WAVE is not wav; FORM without " +
      "AIFF is not aiff; short and null inputs are unknown") {
    assert(FormatSniff.sniff(("RIFF" + "\u0000\u0000\u0000\u0000" + "AVI ")
      .getBytes("ISO-8859-1")) == "unknown")
    assert(FormatSniff.sniff(("FORM" + "\u0000\u0000\u0000\u0000" + "AIFC")
      .getBytes("ISO-8859-1")) == "unknown")
    assert(FormatSniff.sniff(b(0x89, 0x50)) == "unknown")
    assert(FormatSniff.sniff(null) == "unknown")
    // frame-sync mask: 0xff 0xd8 is JPEG (checked first), 0xff 0xc0
    // fails the 0xe0 sync mask
    assert(FormatSniff.sniff(b(0xff, 0xc0, 0x00, 0x00)) == "unknown")
  }

  test("ADTS AAC routes to aac, ahead of the MPEG audio sync rule") {
    import graft.pipeline.AacEncoder
    val adts = AacEncoder.encode(16000, Array.tabulate(4000)(i =>
      (0.3 * math.sin(2 * math.Pi * 440 * i / 16000)).toFloat))
    assert((adts(1) & 0xe0) == 0xe0, "ADTS bytes carry the 11-bit MPEG sync")
    assert(FormatSniff.sniff(adts) == "aac")
  }
}
