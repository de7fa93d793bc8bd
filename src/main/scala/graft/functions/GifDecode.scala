package graft.functions

/** GIF (87a/89a) first-frame → luma raster, written from the public GIF
  * specification: logical-screen + image descriptors, global/local color
  * tables, extension-block skipping, LSB-first variable-width LZW with
  * clear/end codes, deferred-clear 12-bit table saturation, and the
  * 4-pass interlace row ordering. GIF is the third web-image container
  * next to PNG/JPEG; without it, perceptual dedup silently drops every
  * animated banner and legacy asset.
  *
  * Scope decisions, matching the sibling decoders:
  *  - FIRST frame only, decoded at the frame's own dimensions (for
  *    essentially all single-frame GIFs the frame IS the logical
  *    screen; animation frames beyond the first are compositing
  *    semantics, not pixel decode, and curation hashes key on frame 1).
  *  - Palette entries map through the same luma weights as BMP/PNG
  *    (`(299r + 587g + 114b) / 1000`) so identical content hashes
  *    identically from any container.
  *  - Transparency is IGNORED (the palette color decodes as stored):
  *    deterministic, and the hash contract is about stored content, not
  *    compositing.
  *  - Any malformation (bad magic, missing color table, truncated
  *    sub-blocks, invalid LZW code, pixel-count mismatch, bomb
  *    dimensions) returns null, never garbage — the per-row degradation
  *    contract shared by every decoder here.
  *
  * Verification: GifPixelSpec pins decoded rasters against committed
  * fixtures from an independent python encoder
  * (tools/gen_gif_fixtures.py — exact, palettes are r=g=b so luma is
  * the index value) and cross-checks against the JDK ImageIO GIF codec
  * on both those fixtures and ImageIO-encoded images.
  */
private[functions] object GifDecode {

  final class Luma(val w: Int, val h: Int, val px: Array[Int])

  private val MaxPixels = 1 << 24

  def decode(b: Array[Byte]): Luma =
    try decodeOrNull(b)
    catch {
      case Bytes.Corrupt | _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => null
    }

  private def decodeOrNull(b: Array[Byte]): Luma = {
    if (b == null || b.length < 14) return null
    if (!(b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
          (b(4) == '7' || b(4) == '9') && b(5) == 'a')) return null
    val packed = b(10) & 0xff
    var p = 13
    var gct: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      if (p + 3 * n > b.length) return null
      gct = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
      p += 3 * n
    }
    while (p < b.length) {
      (b(p) & 0xff) match {
        case 0x21 => // extension: label byte then sub-blocks to a 0 block
          p += 2
          while (p < b.length && b(p) != 0) p += 1 + (b(p) & 0xff)
          if (p >= b.length) return null
          p += 1
        case 0x2c => // image descriptor: decode THIS frame and finish
          if (p + 10 > b.length) return null
          val iw = Bytes.le16(b, p + 5).toInt
          val ih = Bytes.le16(b, p + 7).toInt
          val ipacked = b(p + 9) & 0xff
          p += 10
          var pal = gct
          if ((ipacked & 0x80) != 0) {
            val n = 2 << (ipacked & 7)
            if (p + 3 * n > b.length) return null
            pal = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
            p += 3 * n
          }
          if (pal == null || iw <= 0 || ih <= 0 ||
              iw.toLong * ih > MaxPixels) return null
          val interlaced = (ipacked & 0x40) != 0
          if (p >= b.length) return null
          val minCode = b(p) & 0xff
          p += 1
          // concatenate the LZW sub-blocks
          val data = new java.io.ByteArrayOutputStream(1024)
          while (p < b.length && b(p) != 0) {
            val n = b(p) & 0xff
            if (p + 1 + n > b.length) return null
            data.write(b, p + 1, n)
            p += 1 + n
          }
          if (p >= b.length) return null
          val indices = lzwDecode(data.toByteArray, minCode, iw * ih)
          if (indices == null) return null
          val nColors = pal.length / 3
          val px = new Array[Int](iw * ih)
          // interlace pass structure: (first row, step) per pass
          val order: Array[Int] =
            if (!interlaced) Array.range(0, ih)
            else {
              val rows = new Array[Int](ih)
              var k = 0
              Seq((0, 8), (4, 8), (2, 4), (1, 2)).foreach { case (start, step) =>
                var y = start
                while (y < ih) { rows(k) = y; k += 1; y += step }
              }
              rows
            }
          var srcRow = 0
          while (srcRow < ih) {
            val y = order(srcRow)
            var x = 0
            while (x < iw) {
              val idx = indices(srcRow * iw + x)
              if (idx >= nColors) return null
              px(y * iw + x) =
                (299 * (pal(idx * 3) & 0xff) + 587 * (pal(idx * 3 + 1) & 0xff) +
                  114 * (pal(idx * 3 + 2) & 0xff)) / 1000
              x += 1
            }
            srcRow += 1
          }
          return new Luma(iw, ih, px)
        case 0x3b => return null // trailer before any image frame
        case _ => return null    // lost block sync
      }
    }
    null
  }

  /** LSB-first variable-width GIF-LZW → exactly `expected` palette
    * indices, or null on any malformation (data that runs out refuses
    * through the shared reader). Deferred clear handled: a
    * full 4096-entry table keeps decoding at 12 bits without growth
    * until a clear code arrives.
    */
  private def lzwDecode(data: Array[Byte], minCodeSize: Int,
                        expected: Int): Array[Int] = {
    if (minCodeSize < 2 || minCodeSize > 11) return null
    val clear = 1 << minCodeSize
    val endCode = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    val codes = new Bytes.LsbBits(data, 0, data.length)
    val out = new Array[Int](expected)
    var oi = 0
    var codeSize = minCodeSize + 1
    var next = endCode + 1
    var prev = -1
    val stack = new Array[Int](4097)
    def emitString(code: Int): Int = { // returns the FIRST index of the string
      var sp = 0
      var c = code
      while (c >= clear) { // dictionary entries chain down to a literal
        stack(sp) = suffix(c); sp += 1
        c = prefix(c)
        if (sp > 4096) return -1
      }
      val first = c
      if (oi + 1 + sp > expected) return -1
      out(oi) = c; oi += 1
      while (sp > 0) { sp -= 1; out(oi) = stack(sp); oi += 1 }
      first
    }
    def firstChar(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    var done = false
    while (!done && oi < expected) {
      val code = codes.bits(codeSize) // refuses when the data runs out
      if (code == clear) {
        codeSize = minCodeSize + 1
        next = endCode + 1
        prev = -1
      } else if (code == endCode) {
        done = true
      } else if (prev == -1) {
        if (code >= clear) return null // first code must be a literal
        out(oi) = code; oi += 1
        prev = code
      } else if (code == next) {
        // KwKwK: the entry being referenced is exactly the one the
        // generic step would add — (prev, firstChar(prev)) — so
        // pre-register it, then emit
        if (next >= 4096) return null
        prefix(next) = prev
        suffix(next) = firstChar(prev)
        if (emitString(code) < 0) return null
        next += 1
        if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        prev = code
      } else if (code < next) {
        val first = emitString(code)
        if (first < 0) return null
        if (next < 4096) { // deferred clear: full table decodes at 12 bits
          prefix(next) = prev
          suffix(next) = first
          next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      } else return null // code beyond the table: corrupt stream
    }
    if (oi != expected) return null
    out
  }
}
