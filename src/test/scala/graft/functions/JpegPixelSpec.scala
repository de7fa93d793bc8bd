package graft.functions

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** Baseline-JPEG decode contract, pinned from BOTH sides by independent
  * codecs:
  *
  *  1. Committed fixtures written by an independent python encoder
  *     (tools/gen_jpeg_fixtures.py) with sidecar `.grays` rasters —
  *     EXACT equality on the DC-only block mosaics (no decoder has
  *     rounding freedom on a DC-only block with q0=8), ±1 elsewhere
  *     (integer- vs float-IDCT freedom).
  *  2. The JDK's own ImageIO JPEG codec as an independent DECODER:
  *     `readRaster` band 0 is the raw Y plane with no color conversion —
  *     compared ±1 against this repo's decoder on every fixture.
  *  3. ImageIO as an independent ENCODER: images written in-test at
  *     several qualities/subsamplings (real Annex-K-style tables) must
  *     decode within ±1 of ImageIO's own raster read-back.
  *
  * Plus: format transparency (a DC-only mosaic byte-identical in gray
  * values to a BMP must aHash identically), and reject paths
  * (progressive, truncation, garbage) that return null, never throw.
  */
class JpegPixelSpec extends SparkSuite {

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(getClass.getResource(s"/jpeg_fixtures/$name").toURI))

  private def expectedGrays(name: String): (Int, Int, Array[Int]) = {
    val lines = new String(fixture(name + ".jpg.grays"), "UTF-8").trim.split("\n")
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

  /** JDK ImageIO raster read: band 0 of readRaster is the stored Y plane
    * (no chroma upsample, no RGB conversion) — the independent decoder.
    */
  private def imageioLuma(blob: Array[Byte]): (Int, Int, Array[Int]) = {
    val r = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(blob))
    try {
      r.setInput(in)
      val ras = r.readRaster(0, null)
      val w = ras.getWidth
      val h = ras.getHeight
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { px(y * w + x) = ras.getSample(x, y, 0); x += 1 }
        y += 1
      }
      (w, h, px)
    } finally { r.dispose(); in.close() }
  }

  private def maxAbsDiff(a: Array[Int], b: Array[Int]): Int =
    a.zip(b).map { case (x, y) => math.abs(x - y) }.max

  private val exactFixtures = Seq("gray_blocks", "blocks420", "prog_blocks")
  private val tolFixtures =
    Seq("gray_ac", "gray_pad", "gray_restart", "color420", "color444",
      "prog_ac", "prog_pad")

  for (name <- exactFixtures) {
    test(s"$name: decode EXACTLY matches the independent encoder's raster") {
      val (w, h, want) = expectedGrays(name)
      val got = decodeViaSql(fixture(name + ".jpg"), w, h)
      assert(got.isDefined, s"$name failed to decode")
      assert(got.get.toSeq == want.toSeq,
        s"$name first diff at ${got.get.toSeq.zip(want).indexWhere(p => p._1 != p._2)}")
    }
  }

  for (name <- tolFixtures) {
    test(s"$name: decode within ±1 of the independent encoder's reference") {
      val (w, h, want) = expectedGrays(name)
      val got = decodeViaSql(fixture(name + ".jpg"), w, h)
      assert(got.isDefined, s"$name failed to decode")
      assert(maxAbsDiff(got.get, want) <= 1, s"$name exceeded ±1")
    }
  }

  for (name <- exactFixtures ++ tolFixtures) {
    test(s"$name: decode within ±1 of the JDK ImageIO decoder's Y plane") {
      val (w, h, want) = imageioLuma(fixture(name + ".jpg"))
      val got = decodeViaSql(fixture(name + ".jpg"), w, h)
      assert(got.isDefined)
      assert(maxAbsDiff(got.get, want) <= 1, s"$name vs ImageIO exceeded ±1")
    }
  }

  test("ImageIO-ENCODED images (real tables, several qualities) decode within ±1") {
    // gradient + texture, gray and color, quality sweep: real Annex-K
    // style tables, real subsampling decisions by a production encoder
    val w = 40
    val h = 24
    for (gray <- Seq(true, false); q <- Seq(0.5f, 0.85f, 1.0f)) {
      val img = new java.awt.image.BufferedImage(w, h,
        if (gray) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
        else java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 7 + y * 13 + (x * y) % 5 * 10) % 256
        val rgb = if (gray) (v << 16) | (v << 8) | v
        else (((x * 11 + 30) % 256) << 16) | (v << 8) | ((y * 9 + 77) % 256)
        img.setRGB(x, y, rgb)
      }
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      wr.setOutput(ios)
      val p = wr.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(q)
      wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
      wr.dispose(); ios.close()
      val blob = bos.toByteArray
      val (rw, rh, want) = imageioLuma(blob)
      assert(rw == w && rh == h)
      val got = decodeViaSql(blob, w, h)
      assert(got.isDefined, s"gray=$gray q=$q failed to decode")
      assert(maxAbsDiff(got.get, want) <= 1, s"gray=$gray q=$q exceeded ±1")
    }
  }

  test("DC-only mosaic hashes identically from JPEG and from BMP (format transparency)") {
    import spark.implicits._
    val (w, h, grays) = expectedGrays("gray_blocks")
    // synthesize the same raster as a bottom-up 24-bit BMP
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
    val df = Seq((fixture("gray_blocks.jpg"), bmp)).toDF("j", "b")
      .selectExpr("image_ahash(j) AS aj", "image_ahash(b) AS ab",
        "image_dhash(j) AS dj", "image_dhash(b) AS db")
      .collect()(0)
    assert(df.getLong(0) == df.getLong(1), "aHash differs between containers")
    assert(df.getLong(2) == df.getLong(3), "dHash differs between containers")
  }

  test("ImageIO-ENCODED progressive images decode within ±1 (real scan script)") {
    // a production encoder's own progressive scan script (spectral
    // selection + successive approximation chosen by ImageIO), gray and
    // color — the strongest independent check of the multi-scan path
    val w = 40
    val h = 24
    for (gray <- Seq(true, false); q <- Seq(0.5f, 0.9f)) {
      val img = new java.awt.image.BufferedImage(w, h,
        if (gray) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
        else java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 7 + y * 13 + (x * y) % 5 * 10) % 256
        val rgb = if (gray) (v << 16) | (v << 8) | v
        else (((x * 11 + 30) % 256) << 16) | (v << 8) | ((y * 9 + 77) % 256)
        img.setRGB(x, y, rgb)
      }
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      wr.setOutput(ios)
      val p = wr.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(q)
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
      wr.dispose(); ios.close()
      val blob = bos.toByteArray
      // really progressive: the stream must carry an SOF2 marker
      assert(blob.sliding(2).exists(s =>
        (s(0) & 0xff) == 0xff && (s(1) & 0xff) == 0xc2))
      val (rw, rh, want) = imageioLuma(blob)
      assert(rw == w && rh == h)
      val got = decodeViaSql(blob, w, h)
      assert(got.isDefined, s"progressive gray=$gray q=$q failed to decode")
      assert(maxAbsDiff(got.get, want) <= 1,
        s"progressive gray=$gray q=$q exceeded ±1")
    }
  }

  test("scanless-progressive, truncated, and garbage JPEGs null, never throw") {
    // SOF2 with no scan data: progressive is DECODED now, but a file
    // with nothing accumulated must still refuse
    assert(decodeViaSql(fixture("reject_progressive.jpg"), 4, 4).isEmpty,
      "scanless progressive must refuse")
    val good = fixture("color420.jpg")
    for (cut <- Seq(10, good.length / 2, good.length - 5))
      assert(decodeViaSql(good.take(cut), 4, 4).isEmpty, s"truncated at $cut")
    // flip bytes through the entropy segment: null or a decode, never a throw
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
    // and the same corruption sweep over a PROGRESSIVE stream
    val prog = fixture("prog_ac.jpg")
    for (seed <- 1 to 20) {
      val bad = prog.clone()
      var s = seed * 0x9e3779b9L
      for (_ <- 0 until 6) {
        s ^= s << 13; s ^= s >>> 7; s ^= s << 17
        val idx = math.abs(s % bad.length).toInt
        bad(idx) = (s >>> 24).toByte
      }
      decodeViaSql(bad, 4, 4) // must not throw
    }
  }

  // --- jpeg_color_stats: chroma DC lifted to color statistics ---

  private def colorStats(blob: Array[Byte])
      : Option[(Int, Int, Long, Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    val row = Seq(Tuple1(blob)).toDF("blob")
      .selectExpr("jpeg_color_stats(blob) AS st").collect()(0)
    if (row.isNullAt(0)) None
    else {
      val st = row.getStruct(0)
      Some((st.getInt(0), st.getInt(1), st.getLong(2), st.getLong(3),
        st.getLong(4), st.getLong(5), st.getLong(6), st.getLong(7)))
    }
  }

  test("jpeg_color_stats: exact closed forms on the DC color mosaics") {
    // colorstats420: generator-pinned block formulas (q0=8, lossless DC)
    assert(colorStats(fixture("colorstats420.jpg")).contains(
      (32, 32, 130000L, 156000L, 120000L, 44500L, 16L, 8L)))
    // blocks420: constant neutral Cb, constant Cr=90
    assert(colorStats(fixture("blocks420.jpg")).contains(
      (32, 32, 142000L, 128000L, 90000L, 19000L, 16L, 8L)))
    // grayscale: neutral chroma, zero colorfulness, no chroma blocks
    assert(colorStats(fixture("gray_blocks.jpg")).contains(
      (32, 24, 137500L, 128000L, 128000L, 0L, 12L, 0L)))
  }

  test("jpeg_color_stats: JDK ImageIO raster band means agree") {
    // independent decoder cross-check: mean of each raw raster band
    // (Y/Cb/Cr) on the DC mosaic must match our DC means to <1 level
    val blob = fixture("colorstats420.jpg")
    val r = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(blob))
    try {
      r.setInput(in)
      val ras = r.readRaster(0, null)
      val bands = ras.getNumBands
      assert(bands == 3)
      val w = ras.getWidth
      val h = ras.getHeight
      val means = (0 until bands).map { b =>
        var s = 0L
        for (y <- 0 until h; x <- 0 until w) s += ras.getSample(x, y, b)
        s * 1000 / (w.toLong * h)
      }
      val Some((_, _, ym, cbm, crm, _, _, _)) = colorStats(blob)
      assert(math.abs(means(0) - ym) < 1000, s"Y ${means(0)} vs $ym")
      assert(math.abs(means(1) - cbm) < 1000, s"Cb ${means(1)} vs $cbm")
      assert(math.abs(means(2) - crm) < 1000, s"Cr ${means(2)} vs $crm")
    } finally { r.dispose(); in.close() }
  }

  test("jpeg_color_stats: progressive, truncated, garbage refuse to null") {
    assert(colorStats(fixture("prog_blocks.jpg")).isEmpty,
      "progressive color stats must refuse (DC walk is baseline-only)")
    assert(colorStats(fixture("reject_progressive.jpg")).isEmpty)
    val good = fixture("colorstats420.jpg")
    for (cut <- Seq(8, good.length / 2, good.length - 4))
      assert(colorStats(good.take(cut)).isEmpty, s"truncated at $cut")
    assert(colorStats(Array[Byte](1, 2, 3)).isEmpty)
    // AC-rich real-encoder color file still yields stats (DC means)
    assert(colorStats(fixture("color420.jpg")).isDefined)
  }
}
