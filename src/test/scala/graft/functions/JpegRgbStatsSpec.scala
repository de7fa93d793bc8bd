package graft.functions

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** Full-RGB JPEG statistics vs the JDK's ImageIO as an independent
  * decoder (BufferedImage RGB means — conversion/upsampling rounding
  * differs by design, so means compare within a small per-channel
  * band), EXACT grayscale identities from the committed `.grays`
  * sidecars, and the coverage contract (progressive/truncated → null).
  */
class JpegRgbStatsSpec extends SparkSuite {

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(
      getClass.getResource(s"/jpeg_fixtures/$name").toURI))

  private def rgbStats(blob: Array[Byte]) = JpegDecode.decodeRgb(blob)

  /** ImageIO full decode → per-channel milli means over all pixels. */
  private def imageioMeans(blob: Array[Byte]): (Long, Long, Long) = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(blob))
    assert(img != null)
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xff
        sg += (p >> 8) & 0xff
        sb += p & 0xff
        x += 1
      }
      y += 1
    }
    val n = img.getWidth.toLong * img.getHeight
    (sr * 1000 / n, sg * 1000 / n, sb * 1000 / n)
  }

  private def checkAgainstImageIO(name: String, tolMilli: Long): Unit = {
    val blob = fixture(name)
    val st = rgbStats(blob)
    assert(st != null, s"$name refused")
    val (er, eg, eb) = imageioMeans(blob)
    val gr = st.sumR / st.nPx
    val gg = st.sumG / st.nPx
    val gb = st.sumB / st.nPx
    assert(math.abs(gr - er) <= tolMilli &&
      math.abs(gg - eg) <= tolMilli && math.abs(gb - eb) <= tolMilli,
      s"$name means differ from ImageIO: got ($gr,$gg,$gb) want ($er,$eg,$eb)")
  }

  test("4:4:4 color file: channel means match ImageIO within 1.5 levels") {
    checkAgainstImageIO("color444.jpg", 1500)
  }

  test("4:2:0 color files: channel means match ImageIO within 2.5 levels") {
    checkAgainstImageIO("color420.jpg", 2500)
    checkAgainstImageIO("colorstats420.jpg", 2500)
    checkAgainstImageIO("blocks420.jpg", 2500)
  }

  test("ImageIO-encoded color images round-trip within 2.5 levels") {
    // an independent ENCODER: render a gradient, write JPEG with the
    // JDK, read the stats back
    val img = new java.awt.image.BufferedImage(48, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 48)
      img.setRGB(x, y, ((x * 5) << 16) | ((y * 7) << 8) | ((x + y) * 3))
    for (q <- Seq(0.9f, 0.6f)) {
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(q)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      ios.close()
      val blob = bos.toByteArray
      val st = rgbStats(blob)
      assert(st != null, s"q=$q refused")
      val (er, eg, eb) = imageioMeans(blob)
      assert(math.abs(st.sumR / st.nPx - er) <= 2500 &&
        math.abs(st.sumG / st.nPx - eg) <= 2500 &&
        math.abs(st.sumB / st.nPx - eb) <= 2500,
        s"q=$q: (${st.sumR / st.nPx},${st.sumG / st.nPx},${st.sumB / st.nPx})" +
          s" vs ($er,$eg,$eb)")
    }
  }

  test("grayscale: R=G=B exactly, zero saturation and opponent axes") {
    for (name <- Seq("gray_ac.jpg", "gray_blocks.jpg")) {
      val st = rgbStats(fixture(name))
      assert(st != null, s"$name refused")
      assert(st.sumR == st.sumG && st.sumG == st.sumB, name)
      assert(st.sumSat == 0L && st.sumAbsRg == 0L && st.sumAbsYb2 == 0L, name)
      // exact against the committed sidecar raster
      val lines = new String(fixture(name + ".grays"), "UTF-8")
        .trim.split("\n")
      val grays = lines(1).split(" ").map(_.toLong)
      assert(st.nPx == grays.length)
      assert(st.sumR == grays.sum * 1000, s"$name luma sum")
    }
  }

  test("coverage contract: progressive, truncated, garbage all null") {
    assert(rgbStats(fixture("prog_blocks.jpg")) == null)
    val good = fixture("color444.jpg")
    assert(rgbStats(good.take(good.length / 2)) == null)
    assert(rgbStats(Array[Byte](1, 2, 3)) == null)
    assert(rgbStats(Array.empty[Byte]) == null)
  }

  test("SQL surface: jpeg_rgb_stats struct round-trips") {
    import spark.implicits._
    val row = Seq(Tuple1(fixture("color444.jpg"))).toDF("blob")
      .selectExpr("jpeg_rgb_stats(blob) AS st")
      .selectExpr("st.width", "st.height", "st.n_px", "st.sat_mean_milli")
      .collect()(0)
    assert(row.getInt(0) > 0 && row.getInt(1) > 0)
    assert(row.getLong(2) == row.getInt(0).toLong * row.getInt(1))
    assert(row.getLong(3) >= 0L)
  }
}
