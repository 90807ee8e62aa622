package graft

import graft.functions.FitsHeader
import org.scalatest.funsuite.AnyFunSuite

class FitsHeaderSpec extends AnyFunSuite {

  test("render/parse round-trip") {
    val kv = Seq("SIMPLE" -> "T", "DATE-OBS" -> "2024-01-15T03:21:00",
      "FILTER" -> "g DECam SDSS c0001", "RA" -> "54.21", "EXPTIME" -> "90")
    val bytes = FitsHeader.render(kv)
    assert(bytes.length % 2880 == 0)
    val Seq(parsed) = FitsHeader.parseAll(bytes)
    assert(parsed("DATE-OBS") == "2024-01-15T03:21:00")
    assert(parsed("FILTER") == "g DECam SDSS c0001")
    assert(parsed("RA") == "54.21")
    assert(parsed.size == kv.size)
  }

  test("stops at END and ignores trailing bytes") {
    val bytes = FitsHeader.render(Seq("SIMPLE" -> "T", "A" -> "1")) ++
      Array.fill(160)('X'.toByte)
    assert(FitsHeader.parseAll(bytes) == Seq(Map("SIMPLE" -> "T", "A" -> "1")))
  }

  test("quoted value with escaped quote and comment stripping") {
    def primary(card: String) = FitsHeader.parseAll(
      (Seq("SIMPLE  =                    T", card, "END")
        .map(_.padTo(80, ' ')).mkString).getBytes("US-ASCII")).head
    assert(primary("NAME    = 'O''Brien'           / observer")("NAME") == "O'Brien")
    assert(primary("EXPTIME =                   90 / seconds")("EXPTIME") == "90")
  }

  test("empty and truncated input") {
    assert(FitsHeader.parseAll(Array.emptyByteArray).isEmpty)
    assert(FitsHeader.parseAll("SHORT".getBytes).isEmpty)
  }

  test("parseAll walks primary + extension HDUs") {
    val bytes = FitsHeaderSpec.renderMulti(Seq(
      Seq("DATE-OBS" -> "x", "RA" -> "1.5"),
      Seq("GAINA" -> "4.2", "CCDNUM" -> "7"),
      Seq("GAINB" -> "4.0")))
    val hdus = FitsHeader.parseAll(bytes)
    assert(hdus.size == 3)
    assert(hdus(0).contains("SIMPLE") && hdus(0)("RA") == "1.5")
    assert(hdus(1)("XTENSION") == "IMAGE" && hdus(1)("GAINA") == "4.2")
    assert(hdus(2)("GAINB") == "4.0")
  }

  test("hostile NAXIS/BITPIX products saturate instead of wrapping negative") {
    // declared data block of 2^31+ bytes (and a 64-bit-overflow variant):
    // the skip must clamp to the end of the buffer — never move the parse
    // offset backwards (crash) or loop. A second well-formed extension
    // glued after the header must NOT be parsed (the declared data block
    // swallows the rest of the buffer — correct, since a genuine file of
    // this shape would carry that many data bytes).
    for (dims <- Seq(Seq("2", "65536", "65536"),              // 2^32 * 8 bytes
                     Seq("3", "3037000500", "3037000500", "4"))) { // Long overflow
      val cards = Seq("SIMPLE" -> "T", "BITPIX" -> "64",
        "NAXIS" -> dims.head) ++
        dims.tail.zipWithIndex.map { case (v, i) => s"NAXIS${i + 1}" -> v } :+
        ("RA" -> "1")
      val ext = FitsHeader.render(Seq("XTENSION" -> "IMAGE", "GAINA" -> "1"))
      val hdus = FitsHeader.parseAll(FitsHeader.render(cards) ++ ext)
      assert(hdus.size == 1, s"dims=$dims")
      assert(hdus(0)("RA") == "1")
    }
  }

  test("BITPIX = Long.MinValue saturates (math.abs is negative there)") {
    // |Long.MinValue| overflows Long — a plain math.abs returns the SAME
    // negative value, evading the clamp and under-skipping so data bytes
    // get re-parsed as headers (ADVICE r4). With BigInt abs the declared
    // block saturates and swallows the rest of the buffer, like every
    // other hostile product.
    val cards = Seq("SIMPLE" -> "T",
      "BITPIX" -> Long.MinValue.toString,
      "NAXIS" -> "1", "NAXIS1" -> "4", "RA" -> "7")
    val ext = FitsHeader.render(Seq("XTENSION" -> "IMAGE", "GAINA" -> "1"))
    val hdus = FitsHeader.parseAll(FitsHeader.render(cards) ++ ext)
    assert(hdus.size == 1, "saturated skip must not re-parse trailing bytes")
    assert(hdus(0)("RA") == "7")
  }

  test("parseAll skips data blocks sized by BITPIX/NAXIS/GCOUNT/PCOUNT") {
    // primary with a 100x3 16-bit image: 600 bytes -> one 2880 block
    val primary = FitsHeader.render(Seq("SIMPLE" -> "T", "BITPIX" -> "16",
      "NAXIS" -> "2", "NAXIS1" -> "100", "NAXIS2" -> "3", "RA" -> "9"))
    val data = Array.fill(2880)(0.toByte)
    val ext = FitsHeader.render(Seq("XTENSION" -> "IMAGE", "GAINA" -> "1"))
    val hdus = FitsHeader.parseAll(primary ++ data ++ ext)
    assert(hdus.size == 2)
    assert(hdus(0)("RA") == "9")
    assert(hdus(1)("GAINA") == "1")
  }
}

object FitsHeaderSpec {
  /** Render a multi-HDU FITS byte stream: the first HDU gets a leading
    * SIMPLE card, the rest a leading XTENSION card, unless the caller
    * already supplied one. No data blocks (NAXIS defaults absent → 0). */
  def renderMulti(hdus: Seq[Seq[(String, String)]]): Array[Byte] =
    hdus.zipWithIndex.map { case (kv, i) =>
      val lead =
        if (i == 0 && !kv.exists(_._1 == "SIMPLE")) Seq("SIMPLE" -> "T")
        else if (i > 0 && !kv.exists(_._1 == "XTENSION"))
          Seq("XTENSION" -> "IMAGE")
        else Seq.empty
      FitsHeader.render(lead ++ kv)
    }.reduce(_ ++ _)
}
