package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.FlacAudio

/** FLAC's frame checksums: the byte-table CRC-8 and CRC-16 against
  * their bitwise definitions and the catalogued check values.
  */
class FlacSpec extends AnyFunSuite {

  /** CRC-8, polynomial 0x07, init 0, one bit at a time: the oracle. */
  private def crc8Bitwise(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= bytes(i) & 0xff
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        b += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, polynomial 0x8005, init 0, one bit at a time: the oracle. */
  private def crc16Bitwise(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (bytes(i) & 0xff) << 8
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
        else (crc << 1) & 0xffff
        b += 1
      }
      i += 1
    }
    crc
  }

  test("check values of \"123456789\": CRC-16/BUYPASS 0xFEE8, CRC-8 (poly 0x07) 0xF4") {
    val check = "123456789".getBytes("US-ASCII")
    assert(FlacAudio.crc16(check, 0, check.length) == 0xfee8)
    assert(FlacAudio.crc8(check, 0, check.length) == 0xf4)
    assert(crc16Bitwise(check, 0, check.length) == 0xfee8)
    assert(crc8Bitwise(check, 0, check.length) == 0xf4)
  }

  test("table CRC-8 and CRC-16 equal the bitwise definitions on 1,000 random byte ranges") {
    val rnd = new scala.util.Random(9639)
    val data = Array.fill(8192)(rnd.nextInt(256).toByte)
    for (_ <- 0 until 1000) {
      val from = rnd.nextInt(data.length + 1)
      val until = from + rnd.nextInt(data.length - from + 1)
      assert(FlacAudio.crc8(data, from, until) == crc8Bitwise(data, from, until), s"crc8 [$from, $until)")
      assert(FlacAudio.crc16(data, from, until) == crc16Bitwise(data, from, until), s"crc16 [$from, $until)")
    }
  }
}
