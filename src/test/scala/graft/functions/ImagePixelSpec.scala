package graft.functions

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** PNG pixel-decode contract, pinned against an INDEPENDENT encoder: the
  * committed fixtures under src/test/resources/png_fixtures were written
  * by a python-zlib PNG writer (max compression, per-row filter cycling
  * through all five types, IDAT split across two chunks), with sidecar
  * `.grays` files holding the expected luma raster computed by the same
  * python script. Spark decoding those bytes to the same integers means
  * two unrelated implementations of DEFLATE + defiltering + luma agree.
  *
  * Plus format transparency (same raster as BMP and as PNG must hash
  * identically), a third-implementation round-trip through the repo's
  * own Png encoder (JDK Deflater), and reject paths.
  */
class ImagePixelSpec extends SparkSuite {

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(getClass.getResource(s"/png_fixtures/$name").toURI))

  private def expectedGrays(name: String): (Int, Int, Array[Int]) = {
    val lines = new String(fixture(name + ".grays"), "UTF-8").trim.split("\n")
    val Array(w, h) = lines(0).split(" ").map(_.toInt)
    (w, h, lines(1).split(" ").map(_.toInt))
  }

  private def decodeViaSql(blob: Array[Byte], gw: Int, gh: Int): Option[Array[Int]] = {
    import spark.implicits._
    val row = Seq(Tuple1(blob)).toDF("blob")
      .selectExpr(s"image_resize_gray(blob, $gw, $gh) AS g")
      .collect()(0)
    if (row.isNullAt(0)) None else Some(row.getSeq[Int](0).toArray)
  }

  for (name <- Seq("gray8", "rgb8", "palette", "gray_alpha", "rgba")) {
    test(s"$name: decoded pixels == independent python-zlib encoder's raster") {
      val (w, h, want) = expectedGrays(name)
      // a w×h block grid has one pixel per cell → the raster itself
      val got = decodeViaSql(fixture(name + ".png"), w, h)
      assert(got.isDefined, s"$name failed to decode")
      assert(got.get.toSeq == want.toSeq,
        s"$name first diff at ${got.get.toSeq.zip(want).indexWhere(p => p._1 != p._2)}")
    }
  }

  test("interlaced and 16-bit PNGs are rejected as null, not mis-decoded") {
    for (name <- Seq("reject_interlaced.png", "reject_16bit.png"))
      assert(decodeViaSql(fixture(name), 4, 4).isEmpty, name)
    // and a truncated valid file (IDAT cut mid-stream) is null too
    val cut = fixture("gray8.png").dropRight(40)
    assert(decodeViaSql(cut, 4, 4).isEmpty, "truncated PNG must be null")
  }

  test("decoder never throws on adversarial bytes — null only") {
    // deterministic xorshift garbage, plus structured corruptions of a
    // valid PNG: every outcome must be null or a value, never an exception
    import spark.implicits._
    var x = 0x9E3779B97F4A7C15L
    def nextBytes(n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      var i = 0
      while (i < n) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        b(i) = x.toByte; i += 1
      }
      b
    }
    val valid = fixture("gray8.png")
    val corrupted = (0 until 50).map { i =>
      val c = valid.clone()
      val pos = 8 + (i * 37) % (c.length - 8)
      c(pos) = (c(pos) ^ 0xff).toByte
      c
    }
    val garbage = (0 until 50).map(i => nextBytes(16 + i * 7))
    // garbage wearing a PNG signature (chunk walker must bounds-check)
    val fakePng = (0 until 20).map { i =>
      val b = nextBytes(64)
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++ b
    }
    val all = (corrupted ++ garbage ++ fakePng).zipWithIndex.map(_.swap)
    val out = all.toDF("id", "blob")
      .selectExpr("id", "image_ahash(blob) AS a",
        "image_resize_gray(blob, 4, 4) AS r")
      .collect() // any decoder exception fails the test here
    assert(out.length == all.size)
  }

  test("format transparency: same raster as BMP and PNG hashes identically") {
    val w = 24; val h = 16
    val gray = (x: Int, y: Int) => (x * 11 + y * 31 + (x * y) % 5) % 256
    // BMP: bottom-up 24-bit, r=g=b so luma == gray value
    val stride = (w * 3 + 3) & ~3
    val bmp = new Array[Byte](54 + stride * h)
    bmp(0) = 'B'; bmp(1) = 'M'
    def le32(i: Int, v: Int): Unit = { bmp(i) = v.toByte; bmp(i+1) = (v>>8).toByte
      bmp(i+2) = (v>>16).toByte; bmp(i+3) = (v>>24).toByte }
    le32(2, bmp.length); le32(10, 54); le32(14, 40); le32(18, w); le32(22, h)
    bmp(26) = 1; bmp(28) = 24
    for (row <- 0 until h; x <- 0 until w) {
      val y = h - 1 - row // stored bottom-up
      val v = gray(x, y).toByte
      val o = 54 + row * stride + x * 3
      bmp(o) = v; bmp(o + 1) = v; bmp(o + 2) = v
    }
    // PNG via the repo's own encoder (JDK Deflater — third implementation);
    // 0xRRGGBB with r=g=b gives the same luma
    val px = Array.tabulate(w * h) { i =>
      val v = gray(i % w, i / w); (v << 16) | (v << 8) | v
    }
    val png = graft.vesc.Png.encode(w, h, px)

    import spark.implicits._
    val got = Seq(("bmp", bmp), ("png", png)).toDF("fmt", "blob")
      .selectExpr("fmt", "image_ahash(blob) AS a", "image_dhash(blob) AS d",
        "image_resize_gray(blob, 6, 4) AS r")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getSeq[Int](3))).toMap
    assert(got("bmp") == got("png"),
      s"bmp=${got("bmp")} png=${got("png")} — containers must be transparent")
    // and the decoded raster is the actual content, not a constant
    assert(got("png")._3.distinct.size > 1)
  }
}
