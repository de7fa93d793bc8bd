package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: header-only image metadata from a binary
  * column — `image_header(bin)` → `struct<format, width, height>`, or null
  * when the bytes are not a recognized image.
  *
  * This is the REAL decode step behind the multimodal seam
  * ([[graft.ops.MultimodalOps]]): it parses actual container headers —
  * PNG IHDR, a JPEG marker-segment walk to SOF, GIF logical screen
  * descriptor, BMP info header — rather than deriving fake features from
  * the payload. It deliberately stops at the header: dimensions, format
  * routing, and corrupt-blob filtering are the decisions a 100 TB
  * curation pipeline makes BEFORE paying for a full pixel decode, and a
  * header parse reads tens of bytes per blob instead of the whole value.
  *
  * Why an Expression and not a UDF/mapPartitions: the parse runs
  * scan-side inside WholeStageCodegen (single static call, same pattern
  * as [[SimHash64]]), composes with pushed filters (`WHERE meta.width >
  * 32`), and never leaves Tungsten rows. Full pixel decoding (codec
  * libraries) stays behind [[graft.ops.MultimodalOps.decodeFeatures]].
  *
  * Parsed formats:
  *  - PNG: 8-byte signature, IHDR width/height (big-endian 32-bit).
  *  - JPEG: SOI then a marker walk skipping APPn/COM/DQT/… segments by
  *    their length fields until a SOF0–SOF15 frame header (C4/C8/CC are
  *    huffman/arithmetic tables, not frames); height/width big-endian
  *    16-bit at frame offsets 3/5. Stops null at SOS/EOI or truncation.
  *  - GIF: GIF87a/GIF89a, logical screen width/height (little-endian
  *    16-bit).
  *  - BMP: BM + BITMAPINFOHEADER width/height (little-endian 32-bit;
  *    height may be negative = top-down, reported as stored).
  */
object ImageHeader {

  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  // shared overflow-safe readers (Long returns — see graft.functions.Bytes)

  private def row(fmt: String, w: Int, h: Int): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(fmt), w, h))

  /** Invoked from both interpreted eval and generated code; null when the
    * bytes are not a recognized, non-truncated image header.
    */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 10) return null
    // PNG: \x89PNG\r\n\x1a\n + IHDR chunk at fixed offset
    if (b.length >= 24 &&
        (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        (b(4) & 0xff) == 0x0d && (b(5) & 0xff) == 0x0a &&
        (b(6) & 0xff) == 0x1a && (b(7) & 0xff) == 0x0a &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      return row("png", Bytes.be32(b, 16).toInt, Bytes.be32(b, 20).toInt)
    // JPEG: SOI, then walk marker segments to the first frame header (SOF)
    if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var p = 2
      while (p + 3 < b.length) {
        if ((b(p) & 0xff) != 0xff) return null // lost marker sync
        var m = b(p + 1) & 0xff
        while (m == 0xff && p + 2 < b.length) { p += 1; m = b(p + 1) & 0xff } // fill bytes
        // the fill-byte skip may have advanced p to the end of the buffer
        // (all-0xFF padding on a truncated blob) — null, never read past
        if (p + 3 >= b.length) return null
        if (m == 0xd9 || m == 0xda) return null // EOI / SOS: no frame header seen
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          // SOF: len(2) precision(1) height(2) width(2)
          if (p + 8 < b.length)
            return row("jpeg", Bytes.be16(b, p + 7).toInt, Bytes.be16(b, p + 5).toInt)
          return null
        }
        if (m >= 0xd0 && m <= 0xd7) { p += 2 } // standalone RSTn
        else {
          val len = Bytes.be16(b, p + 2).toInt
          if (len < 2) return null
          p += 2 + len
        }
      }
      return null
    }
    // GIF: GIF87a / GIF89a + logical screen descriptor
    if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      return row("gif", Bytes.le16(b, 6).toInt, Bytes.le16(b, 8).toInt)
    // BMP: BM + a DIB header. Width/height live as le32 at 18/22 for
    // every header from the 16-byte OS/2 2.x short form up through the
    // BITMAPINFOHEADER family (dibSize >= 16); the legacy 12-byte
    // BITMAPCOREHEADER packs 16-bit dims at 18/20 instead, so reading
    // le32 there would return garbage — dispatch on the header-size
    // field at 14. A negative stored height means top-down row order,
    // not a negative dimension: report abs(h). Non-positive results
    // (garbage widths, h == Int.MinValue) yield null, never garbage.
    if (b.length >= 26 && b(0) == 'B' && b(1) == 'M') {
      val dibSize = Bytes.le32(b, 14).toInt
      if (dibSize >= 16) {
        val w = Bytes.le32(b, 18).toInt
        val h = math.abs(Bytes.le32(b, 22).toInt)
        return if (w > 0 && h > 0) row("bmp", w, h) else null
      }
      if (dibSize == 12) {
        val w = Bytes.le16(b, 18).toInt
        val h = Bytes.le16(b, 20).toInt
        return if (w > 0 && h > 0) row("bmp", w, h) else null
      }
      return null
    }
    // WebP: RIFF....WEBP + a VP8 (lossy) / VP8L (lossless) / VP8X
    // (extended) first chunk — the fourth web-image container; the
    // formats carry dimensions three different ways (14-bit fields
    // after the VP8 sync code, packed 14-bit minus-one in VP8L's
    // stream header, 24-bit minus-one canvas fields in VP8X)
    if (b.length >= 25 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
        b(11) == 'P') {
      val pay = 20 // first chunk payload: RIFF hdr(12) + fourcc(4) + size(4)
      if (b(12) == 'V' && b(13) == 'P' && b(14) == '8' && b(15) == ' ') {
        // lossy: 3-byte frame tag, sync 9D 01 2A, then 14-bit dims
        if (b.length >= 30 &&
            (b(pay + 3) & 0xff) == 0x9d && (b(pay + 4) & 0xff) == 0x01 &&
            (b(pay + 5) & 0xff) == 0x2a) {
          val w = Bytes.le16(b, pay + 6).toInt & 0x3fff
          val h = Bytes.le16(b, pay + 8).toInt & 0x3fff
          return if (w > 0 && h > 0) row("webp", w, h) else null
        }
        return null
      }
      if (b(12) == 'V' && b(13) == 'P' && b(14) == '8' && b(15) == 'L') {
        if ((b(pay) & 0xff) == 0x2f) {
          val v = Bytes.le32(b, pay + 1).toInt
          val w = (v & 0x3fff) + 1
          val h = ((v >> 14) & 0x3fff) + 1
          return row("webp", w, h)
        }
        return null
      }
      if (b(12) == 'V' && b(13) == 'P' && b(14) == '8' && b(15) == 'X') {
        if (b.length < 30) return null
        val w = ((b(pay + 4) & 0xff) | ((b(pay + 5) & 0xff) << 8) |
          ((b(pay + 6) & 0xff) << 16)) + 1
        val h = ((b(pay + 7) & 0xff) | ((b(pay + 8) & 0xff) << 8) |
          ((b(pay + 9) & 0xff) << 16)) + 1
        return row("webp", w, h)
      }
      return null
    }
    // TIFF: "II*\0" (little-endian) / "MM\0*" (big-endian) + an IFD0
    // walk for ImageWidth (256) / ImageLength (257) — the scanned-
    // document container. SHORT (type 3) and LONG (type 4) values are
    // LEFT-JUSTIFIED in the 4-byte value field (TIFF 6.0 §2), so a
    // SHORT reads from the field's first two bytes in file byte order.
    // Whole-or-refuse: null on a bad magic, an out-of-range IFD offset,
    // a truncated entry table, missing/zero dimensions, or multi-count
    // dimension tags.
    if (b.length >= 8 &&
        ((b(0) == 'I' && b(1) == 'I' && (b(2) & 0xff) == 42 && b(3) == 0) ||
         (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && (b(3) & 0xff) == 42))) {
      val littleEndian = b(0) == 'I'
      val ifd = Bytes.u32(b, 4, littleEndian).toInt
      if (ifd < 8 || ifd + 2 > b.length) return null
      val n = Bytes.u16(b, ifd, littleEndian).toInt
      if (n <= 0 || ifd + 2 + 12 * n > b.length) return null
      var w = -1
      var h = -1
      var e = 0
      while (e < n) {
        val off = ifd + 2 + 12 * e
        val tag = Bytes.u16(b, off, littleEndian).toInt
        if (tag == 256 || tag == 257) {
          if (Bytes.u32(b, off + 4, littleEndian) != 1)
            return null // multi-count dims: refuse
          val v = Bytes.u16(b, off + 2, littleEndian).toInt match {
            case 3 => Bytes.u16(b, off + 8, littleEndian).toInt // SHORT, left-justified
            case 4 => Bytes.u32(b, off + 8, littleEndian).toInt // LONG
            case _ => return null
          }
          if (tag == 256) w = v else h = v
        }
        e += 1
      }
      return if (w > 0 && h > 0) row("tiff", w, h) else null
    }
    // SVG: XML text, not a binary magic — a top-5 web image format that
    // would otherwise fall out of the multimodal funnel entirely.
    // Optional UTF-8 BOM, optional XML declaration, comments/DOCTYPE
    // skipped, then the root <svg> tag: width/height attributes (plain
    // or px-suffixed numbers; fractional dims floor), else the viewBox
    // "min-x min-y width height" third/fourth values. Percentage/em/
    // other-unit dims, a missing/garbled viewBox fallback, and
    // non-positive dims all refuse — never a guessed size.
    svgParse(b)
  }

  private val SvgNum = "^([0-9]+(?:\\.[0-9]+)?)(px)?$".r

  private def svgParse(b: Array[Byte]): InternalRow = {
    // byte-level pre-gate: every unrecognized blob lands here, so refuse
    // obvious non-XML without paying a string decode (first non-BOM,
    // non-whitespace byte must open a tag)
    var j = 0
    if (b.length >= 3 && (b(0) & 0xff) == 0xEF && (b(1) & 0xff) == 0xBB &&
      (b(2) & 0xff) == 0xBF) j = 3
    while (j < b.length && (b(j) == ' ' || b(j) == '\t' || b(j) == '\n' ||
      b(j) == '\r')) j += 1
    if (j >= b.length || b(j) != '<') return null
    // the root tag lives in the first bytes; cap the decode so a huge
    // path-data blob never builds a giant String just to read the header
    val s = new String(b, 0, math.min(b.length, 1 << 16), "UTF-8")
    var i = 0
    if (s.startsWith("\ufeff")) i = 1
    def skipMisc(): Boolean = {
      var moved = true
      while (moved) {
        moved = false
        while (i < s.length && Character.isWhitespace(s.charAt(i))) {
          i += 1; moved = true
        }
        if (s.startsWith("<?", i)) { // XML declaration / PI
          val e = s.indexOf("?>", i + 2)
          if (e < 0) return false
          i = e + 2; moved = true
        } else if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i + 4)
          if (e < 0) return false
          i = e + 3; moved = true
        } else if (s.startsWith("<!DOCTYPE", i)) {
          val e = s.indexOf('>', i + 9)
          if (e < 0) return false
          i = e + 1; moved = true
        }
      }
      true
    }
    if (!skipMisc()) return null
    if (!s.startsWith("<svg", i)) return null
    val after = i + 4
    if (after >= s.length || !(Character.isWhitespace(s.charAt(after)) ||
        s.charAt(after) == '>' || s.charAt(after) == '/')) return null
    val end = s.indexOf('>', i)
    if (end < 0) return null
    val tag = s.substring(i, end + 1)
    def attrOf(name: String): Option[String] = {
      // lookbehind, not \b: \b matches after a hyphen, so `stroke-width`
      // would satisfy a bare `width` pattern and publish a wrong size
      val m = s"(?s)(?<![-:\\w])$name\\s*=\\s*(\"([^\"]*)\"|'([^']*)')".r
        .findFirstMatchIn(tag)
      m.map(g => Option(g.group(2)).getOrElse(g.group(3)).trim)
    }
    def dim(v: String): Int = v match {
      case SvgNum(num, _) =>
        val d = num.toDouble
        if (d >= 1 && d <= Int.MaxValue) d.toInt else -1
      case _ => -1 // %, em, pt, … — refuse, don't guess pixels
    }
    (attrOf("width"), attrOf("height")) match {
      case (Some(wv), Some(hv)) =>
        val w = dim(wv); val h = dim(hv)
        if (w > 0 && h > 0) row("svg", w, h) else null
      case _ =>
        attrOf("viewBox") match {
          case Some(vb) =>
            val parts = vb.split("[\\s,]+").filter(_.nonEmpty)
            if (parts.length != 4) return null
            val w = dim(parts(2)); val h = dim(parts(3))
            if (w > 0 && h > 0) row("svg", w, h) else null
          case None => null
        }
    }
  }
}
