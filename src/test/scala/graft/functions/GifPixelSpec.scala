package graft.functions

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** GIF first-frame decode contract, pinned from both sides by
  * independent codecs (the JpegPixelSpec pattern):
  *
  *  1. Committed fixtures from an independent python encoder
  *     (tools/gen_gif_fixtures.py) with sidecar rasters — EXACT
  *     everywhere, because the r=g=b palettes leave the luma weights no
  *     rounding freedom. Covers the global table, an interlaced frame
  *     with an extension block, a local color table, and a run-heavy
  *     stream forcing the KwKwK LZW case.
  *  2. The JDK's ImageIO GIF codec as independent decoder on the same
  *     fixtures, and as independent ENCODER (in-test images round-trip
  *     through ImageIO's own LZW writer into this repo's decoder).
  *  3. Reject paths: truncation and corruption null, never throw; and
  *     the same mosaic hashes identically from GIF and BMP containers.
  */
class GifPixelSpec extends SparkSuite {

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(getClass.getResource(s"/gif_fixtures/$name").toURI))

  private def expectedGrays(name: String): (Int, Int, Array[Int]) = {
    val lines = new String(fixture(name + ".gif.grays"), "UTF-8").trim.split("\n")
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

  private def imageioGray(blob: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
    val w = img.getWidth
    val h = img.getHeight
    val px = new Array[Int](w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      px(y * w + x) = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
        114 * (rgb & 0xff)) / 1000
    }
    (w, h, px)
  }

  private val fixtures = Seq("gif_blocks", "gif_interlace", "gif_local", "gif_kwkwk")

  for (name <- fixtures) {
    test(s"$name: decode EXACTLY matches the independent encoder's raster") {
      val (w, h, want) = expectedGrays(name)
      val got = decodeViaSql(fixture(name + ".gif"), w, h)
      assert(got.isDefined, s"$name failed to decode")
      assert(got.get.toSeq == want.toSeq,
        s"$name first diff at ${got.get.toSeq.zip(want).indexWhere(p => p._1 != p._2)}")
    }
  }

  for (name <- fixtures) {
    test(s"$name: decode EXACTLY matches the JDK ImageIO decoder") {
      val (w, h, want) = imageioGray(fixture(name + ".gif"))
      val got = decodeViaSql(fixture(name + ".gif"), w, h)
      assert(got.isDefined)
      // palette GIFs decode with zero rounding freedom on both sides
      assert(got.get.toSeq == want.toSeq, s"$name differs from ImageIO")
    }
  }

  test("ImageIO-ENCODED GIFs (a production LZW writer) decode exactly") {
    val w = 40
    val h = 20
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 7 + y * 13 + (x * y) % 5 * 10) % 256
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", bos))
    val blob = bos.toByteArray
    val (rw, rh, want) = imageioGray(blob)
    assert(rw == w && rh == h)
    val got = decodeViaSql(blob, w, h)
    assert(got.isDefined, "ImageIO-encoded GIF failed to decode")
    assert(got.get.toSeq == want.toSeq)
  }

  test("mosaic hashes identically from GIF and BMP containers") {
    import spark.implicits._
    val (w, h, grays) = expectedGrays("gif_blocks")
    val stride = (w * 3 + 3) & ~3
    val bmp = new Array[Byte](54 + stride * h)
    val bb = java.nio.ByteBuffer.wrap(bmp).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(bmp.length).putInt(0).putInt(54)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    bb.putInt(0).putInt(stride * h).putInt(0).putInt(0).putInt(0).putInt(0)
    for (y <- 0 until h; x <- 0 until w) {
      val v = grays(y * w + x).toByte
      val o = 54 + (h - 1 - y) * stride + x * 3
      bmp(o) = v; bmp(o + 1) = v; bmp(o + 2) = v
    }
    val r = Seq((fixture("gif_blocks.gif"), bmp)).toDF("g", "b")
      .selectExpr("image_ahash(g) AS ag", "image_ahash(b) AS ab",
        "image_dhash(g) AS dg", "image_dhash(b) AS db")
      .collect()(0)
    assert(r.getLong(0) == r.getLong(1), "aHash differs between containers")
    assert(r.getLong(2) == r.getLong(3), "dHash differs between containers")
  }

  test("truncated and corrupted GIFs null, never throw") {
    val good = fixture("gif_interlace.gif")
    for (cut <- Seq(5, 14, good.length / 2, good.length - 3))
      assert(decodeViaSql(good.take(cut), 4, 4).isEmpty, s"truncated at $cut")
    for (seed <- 1 to 20) {
      val bad = good.clone()
      var s = seed * 2654435761L
      for (_ <- 0 until 6) {
        s ^= s << 13; s ^= s >>> 7; s ^= s << 17
        val idx = math.abs(s % bad.length).toInt
        bad(idx) = (s >>> 24).toByte
      }
      decodeViaSql(bad, 4, 4) // must not throw
    }
  }
}
