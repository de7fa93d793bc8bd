package graft.functions

import org.apache.spark.sql.types._

/** `image_resize_gray(bin, gw, gh)` → row-major `array<int>` of the
  * gw×gh block-mean grayscale grid (see [[ImageHash.resizeGray]]).
  */
object ImageHash {

  /** Decoded grayscale image: row-major top-down `gray(y*w + x)`. */
  private final class Gray(val w: Int, val h: Int, val px: Array[Int])

  /** Container dispatch on magic bytes: uncompressed 24-bit BMP,
    * zlib-compressed PNG, baseline+progressive JPEG ([[JpegDecode]] —
    * luma channel, the dominant web-image format), or GIF
    * ([[GifDecode]] — first frame, LZW). Every consumer (aHash / dHash
    * / resize) is format-transparent — the SAME image content must
    * hash identically from any container (pinned by ImagePixelSpec's
    * cross-format round-trip and JpegPixelSpec's DC-exact mosaics).
    */
  private def decode(b: Array[Byte]): Gray = {
    if (b == null || b.length < 8) null
    else if (b(0) == 'B' && b(1) == 'M') decodeBmp(b)
    else if ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      decodePng(b)
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      val l = JpegDecode.decode(b)
      if (l == null) null else new Gray(l.w, l.h, l.px)
    } else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') {
      val l = GifDecode.decode(b)
      if (l == null) null else new Gray(l.w, l.h, l.px)
    } else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F') {
      // WebP: VP8L (lossless) decodes ([[WebpDecode]]); lossy VP8 nulls
      val l = WebpDecode.decode(b)
      if (l == null) null else new Gray(l.w, l.h, l.px)
    } else null
  }

  /** Uncompressed 24-bit BMP (BITMAPINFOHEADER family) → grayscale, or
    * null: wrong magic, compressed, palette-indexed, truncated pixel
    * data, or zero-area. Negative height = top-down row order (handled,
    * not rejected); width must be positive.
    */
  private def decodeBmp(b: Array[Byte]): Gray = {
    if (b == null || b.length < 54 || b(0) != 'B' || b(1) != 'M') return null
    val dibSize = Bytes.le32(b, 14)
    if (dibSize < 40) return null // core/OS2-short headers are not 24-bit pixel paths here
    val w = Bytes.le32(b, 18).toInt
    val hRaw = Bytes.le32(b, 22).toInt
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    val bitCount = Bytes.le16(b, 28).toInt
    val compression = Bytes.le32(b, 30)
    if (w <= 0 || h == 0 || bitCount != 24 || compression != 0L) return null
    val dataOffset = Bytes.le32(b, 10)
    val stride = (w * 3 + 3) & ~3
    if (dataOffset < 0 || dataOffset + stride.toLong * h > b.length) return null
    val off = dataOffset.toInt
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      // stored row 0 is the BOTTOM image row unless top-down
      val srcRow = if (topDown) y else h - 1 - y
      var x = 0
      val base = off + srcRow * stride
      while (x < w) {
        val blue = b(base + x * 3) & 0xff
        val green = b(base + x * 3 + 1) & 0xff
        val red = b(base + x * 3 + 2) & 0xff
        px(y * w + x) = (299 * red + 587 * green + 114 * blue) / 1000
        x += 1
      }
      y += 1
    }
    new Gray(w, h, px)
  }

  /** Pixel-count ceiling for PNG decode: a 16-byte IHDR can declare any
    * dimensions, and inflate would then materialize them (decompression-
    * bomb shape). BMP has no such gap (pixel bytes must be present in the
    * blob); for PNG the guard is explicit.
    */
  private val MaxPngPixels = 1 << 24

  /** Non-interlaced 8-bit-depth PNG → grayscale, or null: color types
    * 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA); all five
    * scanline filters (None/Sub/Up/Average/Paeth); IDAT segments
    * concatenated and inflated with the JDK Inflater (real zlib, not a
    * store-mode shortcut — the ImagePixelSpec fixtures are written by an
    * independent encoder at max compression with per-row filter
    * diversity). Alpha is ignored (hash practice: content, not
    * compositing); palette entries map through the same luma weights.
    * Anything malformed — bad signature, truncated chunk, wrong depth,
    * interlaced, inflate error, short pixel data, out-of-range palette
    * index — returns null rather than throwing: scan-side decode must
    * degrade per-row, never kill a 100 TB stage.
    */
  private def decodePng(b: Array[Byte]): Gray = {
    if (b.length < 33) return null
    var pos = 8
    var w = 0; var h = 0; var colorType = -1
    var palette: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream
    var sawIhdr = false; var sawIend = false
    while (!sawIend && pos + 8 <= b.length) {
      val len = Bytes.be32(b, pos).toInt
      if (len < 0 || pos + 12L + len > b.length) return null
      val typ = new String(b, pos + 4, 4, "US-ASCII")
      val dataOff = pos + 8
      typ match {
        case "IHDR" =>
          if (len != 13) return null
          w = Bytes.be32(b, dataOff).toInt
          h = Bytes.be32(b, dataOff + 4).toInt
          val depth = b(dataOff + 8) & 0xff
          colorType = b(dataOff + 9) & 0xff
          val compression = b(dataOff + 10) & 0xff
          val filterMethod = b(dataOff + 11) & 0xff
          val interlace = b(dataOff + 12) & 0xff
          if (w <= 0 || h <= 0 || w.toLong * h > MaxPngPixels ||
              depth != 8 || compression != 0 || filterMethod != 0 ||
              interlace != 0 ||
              (colorType != 0 && colorType != 2 && colorType != 3 &&
                colorType != 4 && colorType != 6)) return null
          sawIhdr = true
        case "PLTE" =>
          if (len % 3 != 0 || len > 768) return null
          palette = java.util.Arrays.copyOfRange(b, dataOff, dataOff + len)
        case "IDAT" => idat.write(b, dataOff, len)
        case "IEND" => sawIend = true
        case _ => () // ancillary chunks (tRNS, tEXt, gAMA, ...) skipped
      }
      pos += 12 + len
    }
    if (!sawIhdr || idat.size() == 0) return null
    if (colorType == 3 && palette == null) return null
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
    }
    val rowBytes = 1 + w * channels
    val expected = rowBytes * h
    val raw = new Array[Byte](expected)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    try {
      var got = 0
      while (got < expected && !inf.finished()) {
        val n = inf.inflate(raw, got, expected - got)
        if (n == 0 && inf.needsInput()) return null // truncated stream
        got += n
      }
      if (got < expected) return null
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()
    // defilter in place, row by row (bpp = channels at depth 8)
    val bpp = channels
    var y = 0
    while (y < h) {
      val base = y * rowBytes
      val filter = raw(base) & 0xff
      if (filter > 4) return null
      var i = 1
      while (i < rowBytes) {
        val x = raw(base + i) & 0xff
        val a = if (i > bpp) raw(base + i - bpp) & 0xff else 0
        val up = if (y > 0) raw(base - rowBytes + i) & 0xff else 0
        val c = if (y > 0 && i > bpp) raw(base - rowBytes + i - bpp) & 0xff else 0
        val v = filter match {
          case 0 => x
          case 1 => x + a
          case 2 => x + up
          case 3 => x + (a + up) / 2
          case 4 =>
            val p = a + up - c
            val pa = math.abs(p - a); val pb = math.abs(p - up); val pc = math.abs(p - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c)
        }
        raw(base + i) = v.toByte
        i += 1
      }
      y += 1
    }
    val px = new Array[Int](w * h)
    y = 0
    while (y < h) {
      val base = y * rowBytes + 1
      var x = 0
      while (x < w) {
        val o = base + x * channels
        val gray = colorType match {
          case 0 | 4 => raw(o) & 0xff
          case 2 | 6 =>
            (299 * (raw(o) & 0xff) + 587 * (raw(o + 1) & 0xff) +
              114 * (raw(o + 2) & 0xff)) / 1000
          case 3 =>
            val idx = raw(o) & 0xff
            if (idx * 3 + 2 >= palette.length) return null
            (299 * (palette(idx * 3) & 0xff) + 587 * (palette(idx * 3 + 1) & 0xff) +
              114 * (palette(idx * 3 + 2) & 0xff)) / 1000
        }
        px(y * w + x) = gray
        x += 1
      }
      y += 1
    }
    new Gray(w, h, px)
  }

  /** Cell values of a gw×gh block grid (floor-division cell bounds,
    * integer mean per cell), row-major.
    */
  private def cells(g: Gray, gw: Int, gh: Int): Array[Int] = {
    val out = new Array[Int](gw * gh)
    var by = 0
    while (by < gh) {
      val y0 = by * g.h / gh; val y1 = (by + 1) * g.h / gh
      var bx = 0
      while (bx < gw) {
        val x0 = bx * g.w / gw; val x1 = (bx + 1) * g.w / gw
        var sum = 0L; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += g.px(y * g.w + x); n += 1; x += 1 }
          y += 1
        }
        // degenerate cells (image smaller than the grid) read one pixel
        out(by * gw + bx) =
          if (n > 0) (sum / n).toInt
          else g.px(math.min(y0, g.h - 1) * g.w + math.min(x0, g.w - 1))
        bx += 1
      }
      by += 1
    }
    out
  }

  /** Grayscale RESIZE — the decoded image reduced to a gw×gh block grid
    * (row-major integer cell means, the same floor-division grid the
    * hashes use), or null for anything not a decodable BMP or a
    * degenerate grid. This is the multimodal "resize / feature-extract"
    * surface: a thumbnail-as-vector that downstream ops treat like any
    * embedding (ANN, cosine near-dup), computed scan-side so only
    * gw·gh ints per image ever shuffle.
    */
  def resizeGray(b: Array[Byte], gw: Int, gh: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (gw < 1 || gh < 1 || gw > 256 || gh > 256) return null
    val g = decode(b)
    if (g == null) return null
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(cells(g, gw, gh))
  }

  /** Perceptual image hashes over REAL pixel data — `image_ahash(bin)` and
    * `image_dhash(bin)` decode an uncompressed 24-bit BMP (the format whose
    * pixel layout is ~30 lines of header walk + stride arithmetic — no
    * codec library) and produce the classic 64-bit average-hash /
    * difference-hash, or null for anything that is not a decodable BMP.
    *
    * This composes the multimodal seam with the dedup family: where
    * [[SimHash64]] fingerprints token streams, these fingerprint pixels,
    * and the SAME hamming-band near-dup join works downstream (a 4×16-bit
    * band equality is pigeonhole-complete for hamming ≤ 3 and a strong
    * recall prefilter beyond).
    *
    * Definitions (all integer arithmetic, so an oracle can replay them
    * exactly):
    *  - grayscale: `(299·r + 587·g + 114·b) / 1000` per pixel.
    *  - block grid: cell (bx,by) of a gw×gh grid covers x ∈
    *    [bx·W/gw, (bx+1)·W/gw) (floor division), same for y; cell value =
    *    pixel-gray sum / cell pixel count.
    *  - aHash: 8×8 grid; mean = Σcells/64; bit (by·8+bx) set iff
    *    cell ≥ mean.
    *  - dHash: 9×8 grid; bit (by·8+bx) set iff cell(bx,by) < cell(bx+1,by)
    *    (horizontal gradient sign).
    *
    * Scale shape: scan-side expression inside WholeStageCodegen (static
    * call, same pattern as [[ImageHeader]]); each blob is decoded once and
    * reduced to 8 bytes before anything shuffles — the hash, not the
    * image, is what the dedup join carries.
    */
  def ahash(b: Array[Byte]): java.lang.Long = {
    val g = decode(b)
    if (g == null) return null
    val c = cells(g, 8, 8)
    var sum = 0L
    var i = 0
    while (i < 64) { sum += c(i); i += 1 }
    val mean = sum / 64
    var hash = 0L
    i = 0
    while (i < 64) { if (c(i) >= mean) hash |= (1L << i); i += 1 }
    java.lang.Long.valueOf(hash)
  }

  /** Fixed-point DCT-II basis for [[phash]], rows u < 8 only (higher
    * frequencies never enter the hash): `C[u][y] = rint(2^14 · α(u) ·
    * cos(π(2y+1)u/64))` with the orthonormalizing `α(0) = 1/√2`.
    * StrictMath keeps the table bit-identical on every JVM, and the
    * SAME integers are injected into the oracle — no libm drift can
    * separate the two sides.
    */
  lazy val dctCoef: Array[Array[Long]] = Array.tabulate(8, 32) { (u, y) =>
    val a = if (u == 0) 1.0 / StrictMath.sqrt(2.0) else 1.0
    StrictMath.rint(16384.0 * a *
      StrictMath.cos(StrictMath.PI * (2 * y + 1) * u / 64.0)).toLong
  }

  /** Classic DCT pHash: 32×32 gray grid → 2-D DCT-II (integer matmul
    * against [[dctCoef]]) → the 8×8 low-frequency block minus DC →
    * threshold at the lower median (32nd smallest of the 63 ACs) →
    * bit `u·8+v` set iff `coef > median` (DC bit always 0).
    *
    * The property that earns pHash its place next to aHash/dHash: a
    * uniform brightness shift moves ONLY the DC coefficient, so the
    * hash is exactly invariant to it (aHash is not), while block-local
    * edits still flip a bounded number of AC signs. All arithmetic is
    * Long-exact (|coef| ≤ 255·2^14·32·2^14·32 < 2^63), replayable.
    */
  def phash(b: Array[Byte]): java.lang.Long = {
    val g = decode(b)
    if (g == null) return null
    val c = cells(g, 32, 32)
    // T[u][x] = Σ_y C[u][y]·c[y][x]   (8×32, Long)
    val t = Array.ofDim[Long](8, 32)
    var u = 0
    while (u < 8) {
      var x = 0
      while (x < 32) {
        var s = 0L; var y = 0
        while (y < 32) { s += dctCoef(u)(y) * c(y * 32 + x); y += 1 }
        t(u)(x) = s
        x += 1
      }
      u += 1
    }
    // D[u][v] = Σ_x T[u][x]·C[v][x]   (8×8)
    val d = Array.ofDim[Long](8, 8)
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0L; var x = 0
        while (x < 32) { s += t(u)(x) * dctCoef(v)(x); x += 1 }
        d(u)(v) = s
        v += 1
      }
      u += 1
    }
    val acs = new Array[Long](63)
    var k = 0
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        if (u != 0 || v != 0) { acs(k) = d(u)(v); k += 1 }
        v += 1
      }
      u += 1
    }
    java.util.Arrays.sort(acs)
    val med = acs(31)
    var hash = 0L
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        if ((u != 0 || v != 0) && d(u)(v) > med) hash |= (1L << (u * 8 + v))
        v += 1
      }
      u += 1
    }
    java.lang.Long.valueOf(hash)
  }

  def dhash(b: Array[Byte]): java.lang.Long = {
    val g = decode(b)
    if (g == null) return null
    val c = cells(g, 9, 8)
    var hash = 0L
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        if (c(by * 9 + bx) < c(by * 9 + bx + 1)) hash |= (1L << (by * 8 + bx))
        bx += 1
      }
      by += 1
    }
    java.lang.Long.valueOf(hash)
  }
}
