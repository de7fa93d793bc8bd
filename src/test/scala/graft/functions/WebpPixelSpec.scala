package graft.functions

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** VP8L (lossless WebP) decode contract, pinned against committed
  * fixtures from the INDEPENDENT python encoder
  * (tools/gen_webp_fixtures.py — its own bit writer, canonical-code
  * construction, transforms, cache, and LZ77 emitter): every fixture's
  * raster is EXACT (r=g=b content leaves the luma weights no rounding
  * freedom). Coverage: flat code-length-coded literal trees, the
  * subtract-green transform, color-indexing with and without pixel
  * bundling, LZ77 backward references through both the plain and the
  * 2D-neighborhood distance codes, the color cache, and the predictor
  * transform — plus format transparency vs BMP and the refusal paths
  * (lossy VP8, truncation, corruption).
  */
class WebpPixelSpec extends SparkSuite {

  private val W = 16
  private val H = 12

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(getClass.getResource(s"/webp_fixtures/$name").toURI))

  private def expectedGrays(name: String): Array[Int] =
    new String(fixture(name + ".webp.grays"), "UTF-8").trim.split(",").map(_.toInt)

  private def decodeViaSql(blob: Array[Byte]): Option[Array[Int]] = {
    import spark.implicits._
    val row = Seq(Tuple1(blob)).toDF("blob")
      .selectExpr(s"image_resize_gray(blob, $W, $H) AS g")
      .collect()(0)
    if (row.isNullAt(0)) None else Some(row.getSeq[Int](0).toArray)
  }

  private val fixtures = Seq("literals", "subgreen", "palette4", "palette20",
    "lz77", "cache", "pred_top")

  for (name <- fixtures) {
    test(s"$name: decode EXACTLY matches the independent encoder's raster") {
      val got = decodeViaSql(fixture(name + ".webp"))
      assert(got.isDefined, s"$name failed to decode")
      val want = expectedGrays(name)
      assert(got.get.toSeq == want.toSeq,
        s"$name first diff at ${got.get.toSeq.zip(want).indexWhere(p => p._1 != p._2)}")
    }
  }

  test("format transparency: the same mosaic hashes identically from WebP and BMP") {
    import spark.implicits._
    // 24-bit bottom-up BMP of the literals-fixture mosaic
    val stride = (W * 3 + 3) & ~3
    val data = new Array[Byte](54 + stride * H)
    def le32(off: Int, v: Int): Unit = {
      data(off) = v.toByte; data(off + 1) = (v >> 8).toByte
      data(off + 2) = (v >> 16).toByte; data(off + 3) = (v >> 24).toByte
    }
    data(0) = 'B'; data(1) = 'M'
    le32(2, data.length); le32(10, 54); le32(14, 40)
    le32(18, W); le32(22, H)
    data(26) = 1; data(28) = 24
    for (y <- 0 until H; x <- 0 until W) {
      val v = ((37 * x + 59 * y + 23) % 256).toByte
      val base = 54 + (H - 1 - y) * stride + x * 3
      data(base) = v; data(base + 1) = v; data(base + 2) = v
    }
    val rows = Seq(("webp", fixture("literals.webp")), ("bmp", data))
      .toDF("fmt", "blob")
      .selectExpr("fmt", "image_ahash(blob) AS ah", "image_dhash(blob) AS dh")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows("webp") == rows("bmp"),
      s"webp ${rows("webp")} != bmp ${rows("bmp")}")
  }

  test("lossy VP8, truncation, and corruption refuse to null — never garbage") {
    val good = fixture("literals.webp")
    // lossy chunk: same RIFF shell, 'VP8 ' fourcc
    val lossy = good.clone()
    lossy(15) = ' ' // "VP8L" -> "VP8 "
    assert(WebpDecode.decode(lossy) == null)
    assert(WebpDecode.decode(good.take(20)) == null)
    assert(WebpDecode.decode(good.take(good.length - 3)) == null)
    val bad = good.clone()
    bad(30) = (bad(30) ^ 0x7f).toByte // inside the prefix-code headers
    // corrupted trees either refuse or still decode *some* complete
    // stream — but must never throw
    WebpDecode.decode(bad)
    assert(WebpDecode.decode("RIFFxxxxWEBP".getBytes) == null)
    assert(WebpDecode.decode(Array.emptyByteArray) == null)
  }
}
