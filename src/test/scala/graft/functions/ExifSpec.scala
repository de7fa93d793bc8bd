package graft.functions

import graft.SparkSuite

/** EXIF orientation extraction: both byte orders, multi-entry IFDs,
  * APP-segment skipping, and every refusal edge.
  */
class ExifSpec extends SparkSuite {

  private def hexBytes(h: String): Array[Byte] =
    h.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def ori(h: String): Option[Int] =
    Option(ExifMeta.orientation(hexBytes(h))).map(_.intValue)

  private def exifLE(v: Int): String =
    f"FFD8 FFE1 0022 457869660000 49492A0008000000 0100 12010300 01000000 $v%02X000000 00000000 FFD9"

  test("little- and big-endian orientation tags decode for all 8 values") {
    (1 to 8).foreach { v =>
      assert(ori(exifLE(v)).contains(v), s"LE v=$v")
      assert(ori(
        f"FFD8 FFE1 0022 457869660000 4D4D002A00000008 0001 01120003 00000001 00$v%02X0000 00000000 FFD9")
        .contains(v), s"BE v=$v")
    }
  }

  test("orientation found among multiple IFD entries, after other tags") {
    // two entries: ImageWidth (0x0100, LONG) then Orientation = 6
    val h = "FFD8 FFE1 002E 457869660000 49492A0008000000 0200" +
      "00010400 01000000 40000000" + // width 64
      "12010300 01000000 06000000" + // orientation 6
      "00000000 FFD9"
    assert(ori(h).contains(6))
  }

  test("APP0/COM segments before APP1 are walked over") {
    val jfif = "FFE000104A46494600010100000100010000"
    val com = "FFFE00076162636465" // COM, len 7 = 5 content bytes
    val h = "FFD8" + jfif + com +
      exifLE(3).replaceAll("\\s", "").drop(4) // strip the duplicate FFD8
    assert(ori(h).contains(3))
  }

  test("refusal edges: no EXIF, bad byte order, out-of-range, truncation") {
    assert(ori("FFD8 FFE000104A46494600010100000100010000 FFD9").isEmpty)
    // bad byte-order mark
    assert(ori(
      "FFD8 FFE1 0022 457869660000 51512A0008000000 0100 12010300 01000000 01000000 00000000 FFD9").isEmpty)
    // orientation 9 is out of range
    assert(ori(exifLE(9)).isEmpty)
    // truncated APP1 (declared length runs past the buffer)
    assert(ori("FFD8 FFE1 0050 457869660000 4949").isEmpty)
    assert(ori("").isEmpty)
    assert(ori("FFD8").isEmpty)
  }

  test("registered expression works through SQL incl. null rows") {
    import spark.implicits._
    val rows = Seq(
      (1L, hexBytes(exifLE(5))),
      (2L, hexBytes("FFD8FFD9")))
      .toDF("id", "blob")
      .selectExpr("id", "jpeg_exif_orientation(blob) AS o")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(rows == Map(1L -> Some(5), 2L -> None))
  }
}
