package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** `jpeg_exif_orientation(binary)` → the EXIF orientation tag (1-8), or
  * null when the blob carries no readable EXIF orientation.
  *
  * Why this is a curation operator: perceptual hashes (aHash/dHash,
  * resize grids) operate on STORED pixels, but cameras store rotated
  * sensor data with an orientation tag the viewer applies — so the same
  * photo shot in portrait and landscape, or re-saved by a tool that
  * bakes the rotation in, hashes differently unless the pipeline
  * normalizes orientation first. Surfacing the tag lets a dedup
  * pipeline group rotation variants (hash under the tag's transform)
  * and lets quality gates drop mirrored spam re-uploads.
  *
  * Parse (from the public EXIF/TIFF specs): JPEG marker walk to APP1
  * with the `Exif\0\0` signature → TIFF header (`II`/`MM` byte order,
  * magic 42, IFD0 offset) → IFD0 entry scan for tag 0x0112 (SHORT).
  * Anything malformed — truncated APP1, bad byte-order mark, entry
  * table past the segment, orientation outside 1-8 — is null, never a
  * guess. Scan-side expression; reads only marker headers and the one
  * APP1 segment, never entropy data.
  */
object ExifMeta {

  val gpsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("lat_micro",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("lon_micro",
        org.apache.spark.sql.types.LongType, nullable = false)))

  /** `jpeg_gps(binary)` → (lat_micro, lon_micro) or null (no GPS IFD).
    *
    * GPS coordinates from the EXIF GPS IFD — the image PRIVACY-SCRUB
    * signal (geotagged uploads leak home addresses; curation gates
    * detect and strip them): IFD0 tag 0x8825 → GPS IFD → tags 1-4
    * (latitude/longitude refs + degree/minute/second RATIONALs),
    * folded to signed MICRO-DEGREES with truncating integer division
    * per term (`d·10⁶ + (m·10⁶)/60 + (s_num·10⁶)/(3600·s_den)`) so the
    * value is engine-exact. Null when the JPEG carries no GPS IFD or
    * any field is malformed — presence itself is the gate.
    */
  def gps(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4 ||
        (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return null
    var p = 2
    while (p + 3 < b.length) {
      if ((b(p) & 0xff) != 0xff) return null
      var m = b(p + 1) & 0xff
      while (m == 0xff && p + 2 < b.length) { p += 1; m = b(p + 1) & 0xff }
      if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { p += 2 }
      else if (m == 0xd9 || m == 0xda) return null
      else {
        if (p + 3 >= b.length) return null
        val len = Bytes.be16(b, p + 2).toInt
        if (len < 2 || p + 2 + len > b.length) return null
        if (m == 0xe1 && len >= 10 &&
            b(p + 4) == 'E' && b(p + 5) == 'x' && b(p + 6) == 'i' &&
            b(p + 7) == 'f' && b(p + 8) == 0 && b(p + 9) == 0) {
          return gpsFromTiff(b, p + 10, p + 2 + len)
        }
        p += 2 + len
      }
    }
    null
  }

  private def gpsFromTiff(b: Array[Byte], off: Int, end: Int): InternalRow = {
    if (off + 8 > end) return null
    val le =
      if (b(off) == 'I' && b(off + 1) == 'I') true
      else if (b(off) == 'M' && b(off + 1) == 'M') false
      else return null
    if (Bytes.u16(b, off + 2, le) != 42) return null
    val ifd0 = Bytes.u32(b, off + 4, le)
    if (ifd0 < 8 || off + ifd0 + 2 > end) return null
    val ifdAt = (off + ifd0).toInt
    val n = Bytes.u16(b, ifdAt, le).toInt
    if (ifdAt + 2 + 12 * n + 4 > end) return null
    var gpsIfd = -1L
    var i = 0
    while (i < n) {
      val e = ifdAt + 2 + 12 * i
      if (Bytes.u16(b, e, le) == 0x8825) {
        if (Bytes.u16(b, e + 2, le) != 4 || Bytes.u32(b, e + 4, le) != 1L) return null
        gpsIfd = Bytes.u32(b, e + 8, le)
      }
      i += 1
    }
    if (gpsIfd < 8 || off + gpsIfd + 2 > end) return null
    val g = (off + gpsIfd).toInt
    val gn = Bytes.u16(b, g, le).toInt
    if (g + 2 + 12 * gn + 4 > end) return null
    var latRef = 0; var lonRef = 0
    var latAt = -1; var lonAt = -1
    i = 0
    while (i < gn) {
      val e = g + 2 + 12 * i
      val tag = Bytes.u16(b, e, le).toInt
      val typ = Bytes.u16(b, e + 2, le).toInt
      val cnt = Bytes.u32(b, e + 4, le)
      tag match {
        case 1 | 3 => // refs: ASCII count 2 inline
          if (typ != 2 || cnt != 2L) return null
          if (tag == 1) latRef = b(e + 8) & 0xff else lonRef = b(e + 8) & 0xff
        case 2 | 4 => // coords: RATIONAL count 3 at offset
          if (typ != 5 || cnt != 3L) return null
          val at = off + Bytes.u32(b, e + 8, le)
          if (at < 0 || at + 24 > end) return null
          if (tag == 2) latAt = at.toInt else lonAt = at.toInt
        case _ => ()
      }
      i += 1
    }
    if (latAt < 0 || lonAt < 0) return null
    def micro(at: Int, neg: Boolean): Any = {
      val dn = Bytes.u32(b, at, le); val dd = Bytes.u32(b, at + 4, le)
      val mn = Bytes.u32(b, at + 8, le); val md = Bytes.u32(b, at + 12, le)
      val sn = Bytes.u32(b, at + 16, le); val sd = Bytes.u32(b, at + 20, le)
      if (dd == 0 || md == 0 || sd == 0) return null
      val v = (dn * 1000000L) / dd + (mn * 1000000L) / (60L * md) +
        (sn * 1000000L) / (3600L * sd)
      if (neg) -v else v
    }
    val lat = micro(latAt, latRef == 'S')
    val lon = micro(lonAt, lonRef == 'W')
    if (lat == null || lon == null) return null
    if (latRef != 'N' && latRef != 'S') return null
    if (lonRef != 'E' && lonRef != 'W') return null
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](lat.asInstanceOf[Long], lon.asInstanceOf[Long]))
  }

  /** The orientation tag (1-8), or null. */
  def orientation(b: Array[Byte]): Integer = {
    if (b == null || b.length < 4 ||
        (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return null
    var p = 2
    while (p + 3 < b.length) {
      if ((b(p) & 0xff) != 0xff) return null
      var m = b(p + 1) & 0xff
      while (m == 0xff && p + 2 < b.length) { p += 1; m = b(p + 1) & 0xff }
      if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { p += 2 }
      else if (m == 0xd9 || m == 0xda) return null // image data: EXIF precedes SOS
      else {
        if (p + 3 >= b.length) return null
        val len = Bytes.be16(b, p + 2).toInt
        if (len < 2 || p + 2 + len > b.length) return null
        if (m == 0xe1 && len >= 10 &&
            b(p + 4) == 'E' && b(p + 5) == 'x' && b(p + 6) == 'i' &&
            b(p + 7) == 'f' && b(p + 8) == 0 && b(p + 9) == 0) {
          return fromTiff(b, p + 10, p + 2 + len)
        }
        p += 2 + len
      }
    }
    null
  }

  /** TIFF/IFD0 walk bounded to [off, end): byte-order mark, magic 42,
    * IFD0 offset, entry scan for tag 0x0112 (orientation, SHORT).
    */
  private def fromTiff(b: Array[Byte], off: Int, end: Int): Integer = {
    if (off + 8 > end) return null
    val le =
      if (b(off) == 'I' && b(off + 1) == 'I') true
      else if (b(off) == 'M' && b(off + 1) == 'M') false
      else return null
    if (Bytes.u16(b, off + 2, le) != 42) return null
    val ifd0 = Bytes.u32(b, off + 4, le)
    if (ifd0 < 8 || off + ifd0 + 2 > end) return null
    val ifdAt = (off + ifd0).toInt
    val n = Bytes.u16(b, ifdAt, le).toInt
    if (ifdAt + 2 + 12 * n > end) return null
    var i = 0
    while (i < n) {
      val e = ifdAt + 2 + 12 * i
      if (Bytes.u16(b, e, le) == 0x0112) { // orientation: SHORT, count 1, inline value
        if (Bytes.u16(b, e + 2, le) != 3 || Bytes.u32(b, e + 4, le) != 1L) return null
        val v = Bytes.u16(b, e + 8, le).toInt
        return if (v >= 1 && v <= 8) Integer.valueOf(v) else null
      }
      i += 1
    }
    null
  }
}
