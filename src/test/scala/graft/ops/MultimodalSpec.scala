package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Multimodal plumbing: binary columns, metadata struct, partition-wise
  * stub decode — schema and batch shape are the real contract under test.
  */
class MultimodalSpec extends SparkSuite {

  lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "hello world"),
      (2L, ""),
      (3L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
      .withColumn("blob", encode(col("text"), "UTF-8").cast("binary"))
  }

  // ---- real header decode (graft.functions.ImageHeader) ----

  private def hexBytes(hx: String): Array[Byte] =
    hx.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def parseDf(blobs: Seq[(Long, Array[Byte])]) = {
    import spark.implicits._
    blobs.toDF("id", "blob")
      .selectExpr("id", "image_header(blob) AS m")
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getString(1), r.getInt(2), r.getInt(3)))))
      .toMap
  }

  test("image headers: PNG, GIF, BMP dimensions parse from real container bytes") {
    // hand-computed: PNG 800x600 BE, GIF 320x200 LE, BMP 64x48 LE
    val png = hexBytes("89504E470D0A1A0A 0000000D 49484452 00000320 00000258 0806000000")
    val gif = hexBytes("474946383961 4001 C800 F70000")
    val bmp = hexBytes("424D 46000000 00000000 36000000 28000000" +
      "40000000 30000000 0100 1800")
    val got = parseDf(Seq((1L, png), (2L, gif), (3L, bmp)))
    assert(got(1L).contains(("png", 800, 600)))
    assert(got(2L).contains(("gif", 320, 200)))
    assert(got(3L).contains(("bmp", 64, 48)))
  }

  test("tiff headers: both endiannesses, SHORT/LONG dims, offset IFD, refusals") {
    // hand-computed: LE SHORT 320x200 at IFD 8
    val leShort = hexBytes("49492A00 08000000 0200" +
      "0001 0300 01000000 40010000" + // 256 SHORT 320
      "0101 0300 01000000 C8000000" + // 257 SHORT 200
      "00000000")
    // BE LONG 800x600 at IFD 8
    val beLong = hexBytes("4D4D002A 00000008 0002" +
      "0100 0004 00000001 00000320" +
      "0101 0004 00000001 00000258" +
      "00000000")
    // LE LONG dims behind 8 pad bytes (IFD at 16), extra entry first
    val leOffset = hexBytes("49492A00 10000000 DEADBEEFDEADBEEF 0300" +
      "0201 0300 01000000 08000000" + // 258 BitsPerSample: walked over
      "0001 0400 01000000 10000000" + // 256 LONG 16
      "0101 0400 01000000 0C000000" + // 257 LONG 12
      "00000000")
    val got = parseDf(Seq((1L, leShort), (2L, beLong), (3L, leOffset)))
    assert(got(1L).contains(("tiff", 320, 200)))
    assert(got(2L).contains(("tiff", 800, 600)))
    assert(got(3L).contains(("tiff", 16, 12)))
    // refusals: bad magic, IFD past the end, truncated entry table,
    // missing height, zero width, unknown dim type
    assert(graft.functions.ImageHeader.parse(
      hexBytes("49492B00 08000000")) == null)
    assert(graft.functions.ImageHeader.parse(
      hexBytes("49492A00 40000000")) == null)
    assert(graft.functions.ImageHeader.parse(
      hexBytes("49492A00 08000000 0200 0001030001000000 4001")) == null)
    assert(graft.functions.ImageHeader.parse(
      hexBytes("49492A00 08000000 0100" +
        "0001 0300 01000000 40010000 00000000")) == null)
    assert(graft.functions.ImageHeader.parse(
      hexBytes("49492A00 08000000 0200" +
        "0001 0300 01000000 00000000" +
        "0101 0300 01000000 C8000000 00000000")) == null)
    assert(graft.functions.ImageHeader.parse(
      hexBytes("49492A00 08000000 0200" +
        "0001 0500 01000000 40010000" + // RATIONAL width: refuse
        "0101 0300 01000000 C8000000 00000000")) == null)
  }

  test("webp headers: VP8 lossy, VP8L lossless, VP8X extended; bad sync refuses") {
    // VP8 lossy 320x200: sync 9D012A then 14-bit LE dims
    val vp8 = hexBytes("52494646 14000000 57454250 56503820 0A000000" +
      "000000 9D012A 4001 C800")
    // VP8L: 0x2F then (w-1) | (h-1)<<14 packed LE32; 17x33
    val v = 16 | (32 << 14)
    val vp8l = hexBytes("52494646 14000000 57454250 5650384C 05000000 2F" +
      f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X${(v >> 16) & 0xff}%02X${(v >> 24) & 0xff}%02X")
    // VP8X: flags + reserved + 24-bit minus-one canvas dims; 100x50
    val vp8x = hexBytes("52494646 14000000 57454250 56503858 0A000000" +
      "00 000000 630000 310000")
    // VP8 with a WRONG sync code must refuse
    val badSync = hexBytes("52494646 14000000 57454250 56503820 0A000000" +
      "000000 9D012B 4001 C800")
    val got = parseDf(Seq((1L, vp8), (2L, vp8l), (3L, vp8x), (4L, badSync),
      (5L, vp8l.take(20))))
    assert(got(1L).contains(("webp", 320, 200)))
    assert(got(2L).contains(("webp", 17, 33)))
    assert(got(3L).contains(("webp", 100, 50)))
    assert(got(4L).isEmpty, "bad VP8 sync must refuse")
    assert(got(5L).isEmpty, "truncated VP8L must refuse")
  }

  test("jpeg marker walk skips APP/COM segments of varying length to the SOF") {
    // SOI + APP0 (16 bytes) + COM (5 bytes payload) + SOF2 (progressive):
    // height 0x0100=256, width 0x0180=384
    val jpeg = hexBytes("FFD8" +
      "FFE0 0010 4A46494600 0101 00 0048 0048 00 00" + // APP0 len 16
      "FFFE 0007 48 45 4C 4C 4F" +                     // COM len 7
      "FFC2 0011 08 0100 0180 03 012200 021101 031101")
    val got = parseDf(Seq((1L, jpeg)))
    assert(got(1L).contains(("jpeg", 384, 256)))
  }

  test("corrupt, truncated, and non-image bytes yield null, not garbage") {
    val truncatedPng = hexBytes("89504E470D0A1A0A 0000000D 4948") // cut mid-IHDR
    val sosBeforeSof = hexBytes("FFD8 FFDA 0002")                 // JPEG with no frame
    val garbage = "not an image at all".getBytes("UTF-8")
    val got = parseDf(Seq((1L, truncatedPng), (2L, sosBeforeSof), (3L, garbage)))
    assert(got(1L).isEmpty && got(2L).isEmpty && got(3L).isEmpty)
  }

  private def parseAudioDf(blobs: Seq[(Long, Array[Byte])]) = {
    import spark.implicits._
    blobs.toDF("id", "blob")
      .selectExpr("id", "audio_header(blob) AS m")
      .select(col("id"), col("m.format"), col("m.channels"),
        col("m.sample_rate"), col("m.bits_per_sample"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))))
      .toMap
  }

  test("audio headers: WAV chunk walk over a JUNK chunk, FLAC bit unpacking") {
    // WAV 44100 Hz stereo 16-bit with a 6-byte JUNK chunk before fmt
    val wav = hexBytes("52494646 64000000 57415645" +
      "4A554E4B 06000000 010203040506" +
      "666D7420 10000000 0100 0200 44AC0000 10B10200 0400 1000")
    // FLAC STREAMINFO 44100 Hz stereo 16-bit: rate 20 bits, channels-1 3
    // bits, bits-1 5 bits packed into bytes 18..21 = 0A C4 42 F0
    val flac = hexBytes("664C6143 80 000022 1000 1000 000000 000000 0AC442F0")
    val got = parseAudioDf(Seq((1L, wav), (2L, flac)))
    assert(got(1L).contains(("wav", 2, 44100, 16)))
    assert(got(2L).contains(("flac", 2, 44100, 16)))
  }

  test("audio headers: odd-sized RIFF chunks are word-aligned in the walk") {
    // a 3-byte LIST chunk (padded to 4) before fmt; mono 8000 Hz 16-bit
    val wav = hexBytes("52494646 40000000 57415645" +
      "4C495354 03000000 AABBCC 00" +
      "666D7420 10000000 0100 0100 401F0000 803E0000 0200 1000")
    val got = parseAudioDf(Seq((1L, wav)))
    assert(got(1L).contains(("wav", 1, 8000, 16)))
  }

  test("audio headers: truncated and non-audio bytes yield null") {
    val noFmt = hexBytes("52494646 10000000 57415645 4A554E4B 40000000 00")
    val garbage = "definitely not audio".getBytes("UTF-8")
    val tinyFlac = hexBytes("664C6143 80 0000")
    val got = parseAudioDf(Seq((1L, noFmt), (2L, garbage), (3L, tinyFlac)))
    assert(got(1L).isEmpty && got(2L).isEmpty && got(3L).isEmpty)
  }

  private def parseVideoDf(blobs: Seq[(Long, Array[Byte])]) = {
    import spark.implicits._
    blobs.toDF("id", "blob")
      .selectExpr("id", "video_header(blob) AS m")
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"),
        col("m.duration_ms"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some((r.getString(1), r.getInt(2), r.getInt(3), r.getLong(4)))))
      .toMap
  }

  test("video headers: MP4 nested box walk (ftyp skipped, mvhd + tkhd read)") {
    // handcrafted: timescale 600, duration 1200 ticks (= 2000 ms),
    // 320x240 in 16.16 fixed point; a free box between ftyp and moov
    // forces the top-level walk to skip an unrelated box
    val mp4 = hexBytes(
      "00000010 66747970 69736F6D 00000000" +  // ftyp
      "00000010 66726565 00000000 00000000" +  // free (skipped)
      "00000088 6D6F6F76" +                    // moov (136)
      "0000001C 6D766864 00000000 00000000 00000000 00000258 000004B0" +
      "00000064 7472616B" +                    // trak (100)
      "0000005C 746B6864 00000000" + "00" * 20 + "00" * 8 + "00" * 8 +
      "00" * 36 + "01400000 00F00000")         // 320.0 x 240.0
    val got = parseVideoDf(Seq((1L, mp4)))
    assert(got(1L).contains(("mp4", 320, 240, 2000L)))
  }

  test("video headers: AVI LIST(hdrl)->avih with little-endian fields") {
    // 40000 us/frame * 250 frames = 10000 ms, 640x480
    val avi = hexBytes(
      "52494646 50000000 41564920" +
      "4C495354 44000000 6864726C" +
      "61766968 38000000" +
      "409C0000 00000000 00000000 10000000 FA000000 00000000" +
      "01000000 00000000 80020000 E0010000" + "00" * 16)
    val got = parseVideoDf(Seq((1L, avi)))
    assert(got(1L).contains(("avi", 640, 480, 10000L)))
  }

  test("video headers: truncated moov and non-video bytes yield null") {
    val noMoov = hexBytes("00000010 66747970 69736F6D 00000000")
    val badSize = hexBytes("00000010 66747970 69736F6D 00000000 FFFFFFFF 6D6F6F76")
    val garbage = "movie night".getBytes("UTF-8")
    val got = parseVideoDf(Seq((1L, noMoov), (2L, badSize), (3L, garbage)))
    assert(got(1L).isEmpty && got(2L).isEmpty && got(3L).isEmpty)
  }

  test("adversarial blobs return null, never crash the task") {
    // JPEG SOI followed by nothing but 0xFF fill bytes: the marker walk's
    // fill-skip used to run past the buffer end
    val jpegPad = hexBytes("FFD8" + "FF" * 8)
    val gotI = parseDf(Seq((1L, jpegPad)))
    assert(gotI(1L).isEmpty)
    // WAV whose first chunk declares size 0x7FFFFFF0: an Int-typed size
    // used to wrap the walk offset negative
    val wavHuge = hexBytes("52494646 20000000 57415645 4A554E4B F0FFFF7F 0000")
    val gotA = parseAudioDf(Seq((1L, wavHuge)))
    assert(gotA(1L).isEmpty)
    // MP4 whose tkhd is header-only and the last bytes of the buffer: the
    // version-byte read used to index one past the array. Dimensions
    // default to 0; mvhd duration still parses
    val mp4EmptyTkhd = hexBytes(
      "00000010 66747970 69736F6D 00000000" +
      "00000034 6D6F6F76" +
      "0000001C 6D766864 00000000 00000000 00000000 00000258 000004B0" +
      "00000010 7472616B" + "00000008 746B6864")
    val gotV = parseVideoDf(Seq((1L, mp4EmptyTkhd)))
    assert(gotV(1L).contains(("mp4", 0, 0, 2000L)))
  }

  // ---- perceptual hashes over real BMP pixel data (ImageHash) ----

  /** Build a real uncompressed 24-bit BMP: full header, stride padding,
    * BGR pixel order, bottom-up rows (or top-down when `topDown`, stored
    * with negative height). `px(x, y)` is the gray value for IMAGE row y
    * (y=0 is the top), written to all three channels.
    */
  private def bmp24(w: Int, h: Int, topDown: Boolean = false)
                   (px: (Int, Int) => Int): Array[Byte] = {
    val stride = (w * 3 + 3) & ~3
    val size = 54 + stride * h
    val out = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    out.putInt(40).putInt(w).putInt(if (topDown) -h else h)
      .putShort(1).putShort(24).putInt(0).putInt(stride * h)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    for (k <- 0 until h) {
      val y = if (topDown) k else h - 1 - k // stored row k -> image row y
      for (x <- 0 until w) {
        val v = px(x, y).toByte
        out.put(v).put(v).put(v) // b, g, r
      }
      out.put(new Array[Byte](stride - w * 3))
    }
    out.array()
  }

  private def hashDf(blobs: Seq[(Long, Array[Byte])]) = {
    import spark.implicits._
    blobs.toDF("id", "blob")
      .selectExpr("id", "image_ahash(blob) AS a", "image_dhash(blob) AS d")
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2)))))
      .toMap
  }

  test("aHash: half-dark half-bright 16x16 gives exactly the right-half bits") {
    val half = bmp24(16, 16)((x, _) => if (x < 8) 0 else 200)
    val got = hashDf(Seq((1L, half)))(1L).get
    // mean 100; cells bx>=4 set -> byte 0xF0 per grid row
    assert(got._1 == 0xF0F0F0F0F0F0F0F0L, f"ahash=${got._1}%016X")
  }

  test("dHash: monotone horizontal gradient sets all 64 bits; reversed sets none") {
    // w=18 -> stride 56 != 54 exercises row padding; every 2px dHash cell
    // strictly increases left to right
    val inc = bmp24(18, 16)((x, _) => x * 10)
    val dec = bmp24(18, 16)((x, _) => 170 - x * 10)
    val got = hashDf(Seq((1L, inc), (2L, dec)))
    assert(got(1L).get._2 == -1L, f"dhash=${got(1L).get._2}%016X")
    assert(got(2L).get._2 == 0L)
  }

  test("top-down BMP (negative height) hashes identically to bottom-up") {
    def pat(x: Int, y: Int) = (x * 2 + y * 3) % 200
    val up = bmp24(72, 16)(pat)
    val down = bmp24(72, 16, topDown = true)(pat)
    val got = hashDf(Seq((1L, up), (2L, down)))
    assert(got(1L).get == got(2L).get)
  }

  test("near-duplicate pixels hash close; unrelated patterns hash far") {
    def base(x: Int, y: Int) = ((x / 9) * 23 + (y / 2) * 41) % 200
    val a = bmp24(72, 16)(base)
    // +40 brightness on one 9x2 block — a typical re-encode/levels tweak
    val b = bmp24(72, 16)((x, y) =>
      base(x, y) + (if (x / 9 == 2 && y / 2 == 3) 40 else 0))
    // different pattern seed entirely
    val far = bmp24(72, 16)((x, y) => ((x * 7 + 3) * (y + 5)) % 251)
    val got = hashDf(Seq((1L, a), (2L, b), (3L, far)))
    val hamA = java.lang.Long.bitCount(got(1L).get._1 ^ got(2L).get._1)
    val hamFar = java.lang.Long.bitCount(got(1L).get._1 ^ got(3L).get._1)
    assert(hamA <= 6, s"near-dup drifted $hamA bits")
    assert(hamFar > 6, s"unrelated patterns collided at $hamFar bits")
  }

  test("non-BMP, compressed, palette, and truncated blobs hash to null") {
    val png = hexBytes("89504E470D0A1A0A 0000000D 49484452 00000010 00000020 0806000000")
    val rle = { // biCompression = 1 (RLE8)
      val b = bmp24(16, 16)((_, _) => 50); b(30) = 1; b
    }
    val pal8 = { // biBitCount = 8
      val b = bmp24(16, 16)((_, _) => 50); b(28) = 8; b
    }
    val cut = bmp24(16, 16)((_, _) => 50).take(100) // pixel data truncated
    val got = hashDf(Seq((1L, png), (2L, rle), (3L, pal8), (4L, cut),
      (5L, "plain text".getBytes("UTF-8"))))
    (1L to 5L).foreach(i => assert(got(i).isEmpty, s"blob $i must hash null"))
  }

  test("image headers: 16-byte OS/2 2.x short header and top-down height") {
    // dibSize 16: le32 dims at 18/22, like BITMAPINFOHEADER
    val os2 = hexBytes("424D 3A000000 00000000 1A000000 10000000" +
      "40000000 30000000")
    // BITMAPINFOHEADER with height -48 (top-down): abs reported
    val topDown = hexBytes("424D 46000000 00000000 36000000 28000000" +
      "40000000 D0FFFFFF 0100 1800")
    val got = parseDf(Seq((1L, os2), (2L, topDown)))
    assert(got(1L).contains(("bmp", 64, 48)))
    assert(got(2L).contains(("bmp", 64, 48)))
  }

  test("decodeFeatures refuses a null decoder — the stub is opt-in") {
    intercept[IllegalArgumentException] {
      MultimodalOps.decodeFeatures(docs, "blob", dim = 8, decoder = null)
    }
  }

  test("stub decode produces deterministic fixed-dim features") {
    val out = MultimodalOps.decodeFeatures(docs, "blob", dim = 8,
        MultimodalOps.stubDecoder(8))
      .select(col("id"), col("blob_features"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[scala.collection.Seq[Float]](1))).toMap
    assert(out(1L).get.length == 8)
    assert(out(2L).get.forall(_ == 0f))
    // deterministic: decoding twice gives identical vectors
    val again = MultimodalOps.decodeFeatures(docs, "blob", dim = 8,
        MultimodalOps.stubDecoder(8))
      .select(col("id"), col("blob_features"))
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]](1)).toMap
    assert(out(1L).get == again(1L))
    assert(out(3L).get == again(3L))
  }

  test("image_resize_gray: exact block means, grid cells cut across pattern blocks") {
    import spark.implicits._
    // 12-px-wide cells over 9-px-wide constant blocks: cell 0 mixes 9 px
    // of block 0 and 3 px of block 1 per row → mean is the weighted mix
    def base(x: Int, y: Int) = (x / 9) * 20 + (y / 2) * 3
    val img = bmp24(72, 16)(base)
    val got = Seq((1L, img)).toDF("id", "blob")
      .selectExpr("id", "image_resize_gray(blob, 6, 4) AS g")
      .collect().head.getAs[scala.collection.Seq[Int]](1)
    assert(got.size == 24)
    val expected = for (by <- 0 until 4; bx <- 0 until 6) yield {
      val vs = for (y <- by * 4 until by * 4 + 4; x <- bx * 12 until bx * 12 + 12)
        yield base(x, y)
      vs.sum / vs.size
    }
    assert(got == expected, s"grid mismatch: $got vs $expected")
    // degenerate grids and non-BMP refuse with null
    val nulls = Seq((1L, img)).toDF("id", "blob")
      .selectExpr("image_resize_gray(blob, 0, 4) AS a",
        "image_resize_gray(unhex('00'), 6, 4) AS b")
      .collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("svg headers: dims, px suffix, BOM+decl+comment, viewBox fallback") {
    def svg(s: String, bom: Boolean = false): org.apache.spark.sql.catalyst.InternalRow =
      graft.functions.ImageHeader.parse(
        (if (bom) Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)
        else Array.empty[Byte]) ++ s.getBytes("UTF-8"))
    def whf(r: org.apache.spark.sql.catalyst.InternalRow) =
      (r.getString(0), r.getInt(1), r.getInt(2))
    assert(whf(svg("""<svg width="640" height="480"><rect/></svg>""")) ==
      ("svg", 640, 480))
    // BOM + XML declaration + commented-out decoy + px + single quotes
    assert(whf(svg("<?xml version=\"1.0\"?>\n<!-- <svg width='1' " +
      "height='1'> -->\n<svg width='12px' height='7px'/>", bom = true)) ==
      ("svg", 12, 7))
    // DOCTYPE then viewBox fallback, mixed comma/space separators
    assert(whf(svg("<!DOCTYPE svg PUBLIC \"-//W3C//DTD SVG 1.1//EN\" " +
      "\"svg11.dtd\">\n<svg viewBox=\"0,0, 320 200\"><g/></svg>")) ==
      ("svg", 320, 200))
    // explicit dims beat viewBox; fractional dims floor
    assert(whf(svg("""<svg width="5.75" height="3.25" viewBox="0 0 9 9"/>""")) ==
      ("svg", 5, 3))
  }

  test("svg headers: hyphen/namespace-prefixed attrs never match bare names") {
    def svg(s: String): org.apache.spark.sql.catalyst.InternalRow =
      graft.functions.ImageHeader.parse(s.getBytes("UTF-8"))
    // stroke-width="2" must NOT publish width=2 (the \b-after-hyphen trap)
    val r = svg("""<svg stroke-width="2" width="800" height="600"/>""")
    assert(r != null && r.getInt(1) == 800 && r.getInt(2) == 600)
    // only prefixed attrs present → no dims, no viewBox → refuse
    assert(svg("""<svg stroke-width="2" data-height="9"><g/></svg>""") == null)
    // namespaced aria:width must not count either
    val r2 = svg("""<svg aria:width="3" viewBox="0 0 40 20"/>""")
    assert(r2 != null && r2.getInt(1) == 40 && r2.getInt(2) == 20)
  }

  test("svg text: text/tspan/textPath kept; defs/style/title/desc/comments dropped") {
    def t(s: String): String = {
      val r = graft.functions.SvgText.extract(s.getBytes("UTF-8"))
      if (r == null) null else r.toString
    }
    val svg = "<?xml version=\"1.0\"?><svg xmlns=\"x\">" +
      "<title>m</title><desc>d</desc>" +
      "<!-- <text>decoy</text> -->" +
      "<style>.a { fill: red; } /* <text>css</text> */</style>" +
      "<defs><text>hidden</text><g><text>also hidden</text></g></defs>" +
      "<text><tspan>A &amp; B</tspan> <tspan dy='2'>two</tspan></text>" +
      "<text><textPath href='#p'>curved</textPath></text>" +
      "<text/><text>  spaced   words </text></svg>"
    assert(t(svg) == "A & B two curved spaced words")
    // a title INSIDE a text element is still metadata
    assert(t("<svg><text><title>tip</title>shown</text></svg>") == "shown")
    // nested defs close correctly; following text is visible
    assert(t("<svg><defs><text>no</text></defs><text>yes</text></svg>") == "yes")
    // non-svg bytes and binary refuse to null
    assert(t("plain words, no markup") == null)
    assert(t("<html><text>not svg root</text></html>") == null)
    assert(graft.functions.SvgText.extract(
      Array[Byte](0x42, 0x4D, 0, 0)) == null)
    // unterminated comment refuses whole, never a partial extraction
    assert(t("<svg><text>kept?</text><!-- open") == null)
  }

  test("svg: seeded mutation fuzz — header and text walks never crash") {
    val rnd = new scala.util.Random(777)
    val base = ("<?xml version=\"1.0\"?><!-- c --><svg width=\"12px\" " +
      "height='7' viewBox=\"0 0 3 4\"><defs><text>h</text></defs>" +
      "<text><tspan>a&amp;b</tspan></text></svg>").getBytes("UTF-8")
    var i = 0
    while (i < 3000) {
      val b = base.clone()
      var k = 0
      val flips = 1 + rnd.nextInt(4)
      while (k < flips) {
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
        k += 1
      }
      graft.functions.ImageHeader.parse(b) // row or null, never a throw
      graft.functions.SvgText.extract(b)
      i += 1
    }
    i = 0
    while (i < 500) { // pure garbage behind a '<svg' prefix
      val b = new Array[Byte](4 + rnd.nextInt(300))
      rnd.nextBytes(b)
      b(0) = '<'; b(1) = 's'; b(2) = 'v'; b(3) = 'g'
      graft.functions.ImageHeader.parse(b)
      graft.functions.SvgText.extract(b)
      i += 1
    }
  }

  test("svg refusals: units, short viewBox, svgFoo, zero dims, not xml") {
    def svg(s: String) =
      graft.functions.ImageHeader.parse(s.getBytes("UTF-8"))
    assert(svg("""<svg width="100%" height="50"/>""") == null)
    assert(svg("""<svg width="10em" height="5"/>""") == null)
    assert(svg("""<svg viewBox="0 0 100"/>""") == null)
    assert(svg("""<svgfoo width="3" height="3"/>""") == null)
    assert(svg("""<svg width="0" height="4"/>""") == null)
    assert(svg("""<svg width="0.4" height="4"/>""") == null) // floors to 0
    assert(svg("""<svg>no dims at all</svg>""") == null)
    assert(svg("plain text, no tag") == null)
    assert(svg("<!-- unterminated comment <svg width='1' height='1'>") == null)
  }
}
