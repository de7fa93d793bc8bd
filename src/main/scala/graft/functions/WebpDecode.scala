package graft.functions

/** WebP LOSSLESS (VP8L) → luma raster, written from the public "WebP
  * Lossless Bitstream Specification": RIFF/VP8X chunk walk, LSB-first
  * bit reading, canonical (DEFLATE-style) prefix codes with simple and
  * code-length-coded forms, meta-prefix images, the color cache, LZ77
  * backward references with the 2D distance-code neighborhood, and all
  * four transforms (predictor with its 14 modes, color transform,
  * subtract-green, color indexing incl. ≤16-color pixel bundling)
  * applied in reverse order. This closes the r9 gap where perceptual
  * dedup silently dropped the format modern web image corpora skew
  * toward — WebP headers parsed ([[ImageHeader]]) but pixels refused.
  *
  * Scope decisions, matching the sibling decoders:
  *  - VP8L (lossless) only; lossy VP8 chunks refuse to null (the
  *    documented metadata-only boundary — a DCT decode is a different
  *    project and lossy WebP carries no exact raster to pin).
  *  - ARGB maps through the same luma weights as BMP/PNG/GIF/JPEG
  *    (`(299r + 587g + 114b) / 1000`, alpha ignored) so identical
  *    content hashes identically from any container.
  *  - The 120-entry 2D distance table is generated from the
  *    neighborhood's documented shape (dy 0: dx 1..8; dy 1..7:
  *    dx −7..8) sorted by (distance², then dy descending, then
  *    positive dx first) — WebpPixelSpec pins it against the
  *    independent fixture encoder emitting 2D codes.
  *  - Any malformation (bad signature, over-long/incomplete prefix
  *    codes, cache/backref out of range, reads past the chunk, pixel
  *    bombs, undefined predictor modes) returns null, never garbage.
  */
private[functions] object WebpDecode {

  final class Luma(val w: Int, val h: Int, val px: Array[Int])

  private val MaxPixels = 1 << 24

  import Bytes.{Corrupt, fail}

  def decode(b: Array[Byte]): Luma =
    try decodeOrNull(b)
    catch {
      case Corrupt => null
      case _: ArrayIndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
    }

  // ------------------------------------------------------------- huffman
  /** Canonical prefix decoder (DEFLATE code assignment); `zeroBits`
    * trees return their only symbol without consuming input.
    */
  private final class Huff(lengths: Array[Int]) {
    private val MaxLen = 15
    private val count = new Array[Int](MaxLen + 1)
    private var single = -1
    private var nonZero = 0
    lengths.foreach { l =>
      if (l < 0 || l > MaxLen) fail()
      if (l > 0) { count(l) += 1; nonZero += 1 }
    }
    if (nonZero == 0) fail()
    if (nonZero == 1) single = lengths.indexWhere(_ > 0)
    else {
      // completeness (Kraft sum must close the code space exactly)
      var left = 1
      var l = 1
      while (l <= MaxLen) {
        left <<= 1
        left -= count(l)
        if (left < 0) fail()
        l += 1
      }
      if (left != 0) fail()
    }
    private val syms: Array[Int] = {
      val offs = new Array[Int](MaxLen + 2)
      var l = 1
      while (l <= MaxLen) { offs(l + 1) = offs(l) + count(l); l += 1 }
      val s = new Array[Int](nonZero)
      val cursor = offs.clone()
      var i = 0
      while (i < lengths.length) {
        if (lengths(i) > 0) { s(cursor(lengths(i))) = i; cursor(lengths(i)) += 1 }
        i += 1
      }
      s
    }
    def decode(br: Bytes.LsbBits): Int = {
      if (single >= 0) return single
      var code = 0
      var first = 0
      var index = 0
      var len = 1
      while (len <= MaxLen) {
        code |= br.bit()
        val cnt = count(len)
        if (code - first < cnt) return syms(index + (code - first))
        index += cnt
        first = (first + cnt) << 1
        code <<= 1
        len += 1
      }
      fail()
    }
  }

  private val ClOrder =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** One prefix code: the simple (1–2 symbol) form or the
    * code-length-coded form with 16/17/18 repeats and the optional
    * max-symbol cap.
    */
  private def readCode(br: Bytes.LsbBits, alphabetSize: Int): Huff = {
    if (br.bit() == 1) { // simple
      val numSymbols = br.bits(1) + 1
      val first8 = br.bits(1)
      val s0 = br.bits(if (first8 == 1) 8 else 1)
      val lengths = new Array[Int](alphabetSize)
      if (s0 >= alphabetSize) fail()
      if (numSymbols == 2) {
        val s1 = br.bits(8)
        if (s1 >= alphabetSize || s1 == s0) fail()
        lengths(s0) = 1; lengths(s1) = 1
      } else lengths(s0) = 1 // single-symbol: zero-bit code
      new Huff(lengths)
    } else {
      val numCl = 4 + br.bits(4)
      val clLens = new Array[Int](19)
      var i = 0
      while (i < numCl) { clLens(ClOrder(i)) = br.bits(3); i += 1 }
      val clTree = new Huff(clLens)
      var maxSymbol = alphabetSize
      if (br.bit() == 1) {
        val nbits = 2 + 2 * br.bits(3)
        maxSymbol = 2 + br.bits(nbits)
        if (maxSymbol > alphabetSize) fail()
      }
      val lengths = new Array[Int](alphabetSize)
      var prev = 8
      var sym = 0
      while (sym < alphabetSize && maxSymbol > 0) {
        maxSymbol -= 1
        val cl = clTree.decode(br)
        if (cl < 16) {
          lengths(sym) = cl; sym += 1
          if (cl != 0) prev = cl
        } else {
          val (repeat, value) = cl match {
            case 16 => (3 + br.bits(2), prev)
            case 17 => (3 + br.bits(3), 0)
            case _ => (11 + br.bits(7), 0)
          }
          if (sym + repeat > alphabetSize) fail()
          var k = 0
          while (k < repeat) { lengths(sym) = value; sym += 1; k += 1 }
        }
      }
      new Huff(lengths)
    }
  }

  // ------------------------------------------------- distance neighborhood
  /** The 120 2D distance codes: the close neighborhood (dy 0: dx 1..8;
    * dy 1..7: dx −7..8) ordered by (d², dy desc, positive dx first).
    */
  private val DistMap: Array[(Int, Int)] = {
    val cands =
      (1 to 8).map(dx => (dx, 0)) ++
        (for (dy <- 1 to 7; dx <- -7 to 8) yield (dx, dy))
    cands.sortBy { case (dx, dy) => (dx * dx + dy * dy, -dy, -dx) }
      .take(120).toArray
  }

  @inline private def prefixValue(br: Bytes.LsbBits, code: Int): Int = {
    if (code < 4) code + 1
    else {
      val extra = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extra
      offset + br.bits(extra) + 1
    }
  }

  // -------------------------------------------------------- image stream
  private final class GroupCodes(val g: Huff, val r: Huff, val b: Huff,
      val a: Huff, val d: Huff)

  /** The spatially-coded ARGB image at (w, h). `level0` streams read
    * transforms upstream (caller) and may carry a meta-prefix image.
    */
  private def decodeImageStream(br: Bytes.LsbBits, w: Int, h: Int, level0: Boolean,
      depth: Int): Array[Int] = {
    if (depth > 4) fail()
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) fail()
    var cacheBits = 0
    if (br.bit() == 1) {
      cacheBits = br.bits(4)
      if (cacheBits < 1 || cacheBits > 11) fail()
    }
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    var metaBits = 0
    var metaImage: Array[Int] = null
    var numGroups = 1
    if (level0 && br.bit() == 1) {
      metaBits = br.bits(3) + 2
      val mw = (w + (1 << metaBits) - 1) >> metaBits
      val mh = (h + (1 << metaBits) - 1) >> metaBits
      metaImage = decodeImageStream(br, mw, mh, level0 = false, depth + 1)
      var i = 0
      while (i < metaImage.length) {
        val m = ((metaImage(i) >> 8) & 0xffff)
        if (m + 1 > numGroups) numGroups = m + 1
        i += 1
      }
      if (numGroups > 65536) fail()
    }
    val groups = new Array[GroupCodes](numGroups)
    var gi = 0
    while (gi < numGroups) {
      groups(gi) = new GroupCodes(
        readCode(br, 256 + 24 + cacheSize),
        readCode(br, 256), readCode(br, 256), readCode(br, 256),
        readCode(br, 40))
      gi += 1
    }
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    @inline def cacheInsert(px: Int): Unit =
      if (cache != null)
        cache((0x1e35a7bd * px) >>> (32 - cacheBits)) = px
    val out = new Array[Int](w * h)
    var pos = 0
    val n = w * h
    while (pos < n) {
      val x = pos % w
      val y = pos / w
      val grp =
        if (metaImage == null) groups(0)
        else {
          val mw = (w + (1 << metaBits) - 1) >> metaBits
          val entry = metaImage((y >> metaBits) * mw + (x >> metaBits))
          val idx = (entry >> 8) & 0xffff
          groups(idx)
        }
      val s = grp.g.decode(br)
      if (s < 256) {
        val green = s
        val red = grp.r.decode(br)
        val blue = grp.b.decode(br)
        val alpha = grp.a.decode(br)
        val px = (alpha << 24) | (red << 16) | (green << 8) | blue
        out(pos) = px
        cacheInsert(px)
        pos += 1
      } else if (s < 256 + 24) {
        val length = prefixValue(br, s - 256)
        val distCode = prefixValue(br, grp.d.decode(br))
        val dist0 =
          if (distCode > 120) distCode - 120
          else {
            val (dx, dy) = DistMap(distCode - 1)
            val d = dy * w + dx
            if (d < 1) 1 else d
          }
        if (dist0 > pos || pos + length > n) fail()
        var k = 0
        while (k < length) {
          val px = out(pos - dist0)
          out(pos) = px
          cacheInsert(px)
          pos += 1
          k += 1
        }
      } else {
        if (cache == null) fail()
        val idx = s - 256 - 24
        if (idx >= cacheSize) fail()
        out(pos) = cache(idx)
        pos += 1
      }
    }
    out
  }

  // ----------------------------------------------------------- transforms
  private sealed trait Transform
  private case class PredictorT(bits: Int, img: Array[Int]) extends Transform
  private case class ColorT(bits: Int, img: Array[Int]) extends Transform
  private case object SubtractGreenT extends Transform
  private case class PaletteT(palette: Array[Int], widthBits: Int) extends Transform

  @inline private def avg2(a: Int, b: Int): Int = {
    val alpha = (((a >>> 24) + (b >>> 24)) >> 1) << 24
    val red = ((((a >> 16) & 0xff) + ((b >> 16) & 0xff)) >> 1) << 16
    val green = ((((a >> 8) & 0xff) + ((b >> 8) & 0xff)) >> 1) << 8
    val blue = (((a & 0xff) + (b & 0xff)) >> 1)
    alpha | red | green | blue
  }

  @inline private def clip255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  private def predict(mode: Int, l: Int, t: Int, tl: Int, tr: Int): Int =
    mode match {
      case 0 => 0xff000000
      case 1 => l
      case 2 => t
      case 3 => tr
      case 4 => tl
      case 5 => avg2(avg2(l, tr), t)
      case 6 => avg2(l, tl)
      case 7 => avg2(l, t)
      case 8 => avg2(tl, t)
      case 9 => avg2(t, tr)
      case 10 => avg2(avg2(l, tl), avg2(t, tr))
      case 11 => // Select
        @inline def sub3(a: Int, b: Int, c: Int): Int =
          math.abs(b - c) - math.abs(a - c)
        val d = sub3(t >>> 24, l >>> 24, tl >>> 24) +
          sub3((t >> 16) & 0xff, (l >> 16) & 0xff, (tl >> 16) & 0xff) +
          sub3((t >> 8) & 0xff, (l >> 8) & 0xff, (tl >> 8) & 0xff) +
          sub3(t & 0xff, l & 0xff, tl & 0xff)
        if (d <= 0) t else l
      case 12 => // ClampAddSubtractFull
        @inline def f(sh: Int): Int =
          clip255(((l >>> sh) & 0xff) + ((t >>> sh) & 0xff) - ((tl >>> sh) & 0xff)) << sh
        f(24) | f(16) | f(8) | f(0)
      case 13 => // ClampAddSubtractHalf
        val ave = avg2(l, t)
        @inline def f(sh: Int): Int = {
          val a = (ave >>> sh) & 0xff
          val c = (tl >>> sh) & 0xff
          clip255(a + (a - c) / 2) << sh
        }
        f(24) | f(16) | f(8) | f(0)
      case _ => fail() // 14/15 undefined
    }

  private def applyInverse(t: Transform, w: Int, h: Int,
      px: Array[Int]): (Int, Array[Int]) = t match {
    case SubtractGreenT =>
      var i = 0
      while (i < px.length) {
        val p = px(i)
        val g = (p >> 8) & 0xff
        val r = (((p >> 16) & 0xff) + g) & 0xff
        val b = ((p & 0xff) + g) & 0xff
        px(i) = (p & 0xff00ff00) | (r << 16) | b
        i += 1
      }
      (w, px)
    case PredictorT(bits, img) =>
      val mw = (w + (1 << bits) - 1) >> bits
      var pos = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val pred =
            if (x == 0 && y == 0) 0xff000000
            else if (y == 0) px(pos - 1) // first row: left
            else if (x == 0) px(pos - w) // first column: top
            else {
              val mode = (img((y >> bits) * mw + (x >> bits)) >> 8) & 0xf
              // linear-array top-right: wraps to the current row's first
              // pixel at the last column (the spec's memory semantics)
              predict(mode, px(pos - 1), px(pos - w), px(pos - w - 1),
                px(pos - w + 1))
            }
          val p = px(pos)
          val a = (((p >>> 24) + (pred >>> 24)) & 0xff) << 24
          val r = ((((p >> 16) & 0xff) + ((pred >> 16) & 0xff)) & 0xff) << 16
          val g = ((((p >> 8) & 0xff) + ((pred >> 8) & 0xff)) & 0xff) << 8
          val bl = ((p & 0xff) + (pred & 0xff)) & 0xff
          px(pos) = a | r | g | bl
          pos += 1
          x += 1
        }
        y += 1
      }
      (w, px)
    case ColorT(bits, img) =>
      val mw = (w + (1 << bits) - 1) >> bits
      @inline def delta(t: Int, c: Int): Int = (t.toByte * c.toByte) >> 5
      var pos = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val cte = img((y >> bits) * mw + (x >> bits))
          val g2r = cte & 0xff
          val g2b = (cte >> 8) & 0xff
          val r2b = (cte >> 16) & 0xff
          val p = px(pos)
          val g = (p >> 8) & 0xff
          val r = (((p >> 16) & 0xff) + delta(g2r, g)) & 0xff
          val b = ((p & 0xff) + delta(g2b, g) + delta(r2b, r)) & 0xff
          px(pos) = (p & 0xff00ff00) | (r << 16) | b
          pos += 1
          x += 1
        }
        y += 1
      }
      (w, px)
    case PaletteT(palette, widthBits) =>
      if (widthBits == 0) {
        var i = 0
        while (i < px.length) {
          val idx = (px(i) >> 8) & 0xff
          px(i) = if (idx < palette.length) palette(idx) else 0
          i += 1
        }
        (w, px)
      } else {
        // bundled: each decoded green byte packs several indices
        val bpp = 8 >> widthBits
        val mask = (1 << bpp) - 1
        val packedW = (w + (1 << widthBits) - 1) >> widthBits
        val out = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val packed = px(y * packedW + (x >> widthBits))
            val shift = (x & ((1 << widthBits) - 1)) * bpp
            val idx = ((packed >> 8) >> shift) & mask
            out(y * w + x) = if (idx < palette.length) palette(idx) else 0
            x += 1
          }
          y += 1
        }
        (w, out)
      }
  }

  // ------------------------------------------------------------ container
  private def decodeOrNull(b: Array[Byte]): Luma = {
    if (b == null || b.length < 20) return null
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P')) return null
    // chunk walk to VP8L (skipping VP8X/ALPH/metadata; lossy VP8 refuses)
    var p = 12
    var vp8lAt = -1
    var vp8lLen = -1
    while (p + 8 <= b.length && vp8lAt < 0) {
      val fourcc = new String(b, p, 4, "ISO-8859-1")
      val size = (b(p + 4) & 0xff) | ((b(p + 5) & 0xff) << 8) |
        ((b(p + 6) & 0xff) << 16) | ((b(p + 7) & 0xff) << 24)
      if (size < 0 || p + 8 + size > b.length) return null
      if (fourcc == "VP8L") { vp8lAt = p + 8; vp8lLen = size }
      else if (fourcc == "VP8 ") return null // lossy: out of scope
      else p += 8 + size + (size & 1)
    }
    if (vp8lAt < 0) return null
    val br = new Bytes.LsbBits(b, vp8lAt, vp8lAt + vp8lLen)
    if (br.bits(8) != 0x2f) fail()
    val w = br.bits(14) + 1
    val h = br.bits(14) + 1
    br.bit() // alpha hint
    if (br.bits(3) != 0) fail() // version
    if (w.toLong * h > MaxPixels) fail()
    // transforms, in stream order; each may shrink the coded width
    var codedW = w
    val transforms = scala.collection.mutable.ArrayBuffer[Transform]()
    var seen = 0
    while (br.bit() == 1) {
      val t = br.bits(2)
      if ((seen & (1 << t)) != 0) fail() // each type at most once
      seen |= 1 << t
      t match {
        case 0 =>
          val bits = br.bits(3) + 2
          val mw = (codedW + (1 << bits) - 1) >> bits
          val mh = (h + (1 << bits) - 1) >> bits
          transforms += PredictorT(bits,
            decodeImageStream(br, mw, mh, level0 = false, 1))
        case 1 =>
          val bits = br.bits(3) + 2
          val mw = (codedW + (1 << bits) - 1) >> bits
          val mh = (h + (1 << bits) - 1) >> bits
          transforms += ColorT(bits,
            decodeImageStream(br, mw, mh, level0 = false, 1))
        case 2 => transforms += SubtractGreenT
        case _ =>
          val size = br.bits(8) + 1
          val raw = decodeImageStream(br, size, 1, level0 = false, 1)
          // palette entries are component-wise deltas of their neighbour
          var i = 1
          while (i < size) {
            val a = ((raw(i) >>> 24) + (raw(i - 1) >>> 24)) & 0xff
            val r = (((raw(i) >> 16) & 0xff) + ((raw(i - 1) >> 16) & 0xff)) & 0xff
            val g = (((raw(i) >> 8) & 0xff) + ((raw(i - 1) >> 8) & 0xff)) & 0xff
            val bl = ((raw(i) & 0xff) + (raw(i - 1) & 0xff)) & 0xff
            raw(i) = (a << 24) | (r << 16) | (g << 8) | bl
            i += 1
          }
          val widthBits =
            if (size <= 2) 3 else if (size <= 4) 2 else if (size <= 16) 1 else 0
          transforms += PaletteT(raw, widthBits)
          codedW = (codedW + (1 << widthBits) - 1) >> widthBits
      }
    }
    var px = decodeImageStream(br, codedW, h, level0 = true, 0)
    // inverse transforms, reverse order; palette restores the full width
    var curW = codedW
    transforms.reverseIterator.foreach { t =>
      val fullW = t match {
        case _: PaletteT => w
        case _ => curW
      }
      val (nw, np) = applyInverse(t, fullW, h, px)
      curW = nw
      px = np
    }
    if (curW != w) fail()
    val out = new Array[Int](w * h)
    var i = 0
    while (i < out.length) {
      val p2 = px(i)
      out(i) = (299 * ((p2 >> 16) & 0xff) + 587 * ((p2 >> 8) & 0xff) +
        114 * (p2 & 0xff)) / 1000
      i += 1
    }
    new Luma(w, h, out)
  }
}
