package graft.functions

/** Snappy decompression as a scan-side expression — raw blocks (the
  * Hadoop/parquet codec payload) and the framing format (the
  * `x-snappy-framed` stream layout: sNaPpY identifier, compressed /
  * uncompressed chunks with masked CRC32C, padding/skippable chunks).
  * Full from-spec decode:
  *
  *   - raw: uncompressed-length varint preamble, then 2-bit-tagged
  *     elements — literals (with 1–4 extension length bytes) and
  *     copies with 11/16/32-bit offsets, overlap allowed;
  *   - framed: chunk walk with per-chunk CRC32C (JDK implementation,
  *     masked per the spec: `rotr15(crc) + 0xa282ead8`), 64 KiB chunk
  *     ceiling, unskippable-unknown refusal.
  *
  * `snappy_decompress` auto-detects framed vs raw by the stream
  * identifier. Whole-or-refuse (null): length preamble disagreeing
  * with the decoded size, offsets before the block start, truncated
  * elements/chunks, CRC mismatch, oversized chunks, or output past
  * [[MaxOutputBytes]]. The spec pins exactness against the INDEPENDENT
  * snappy-java (xerial) codec on Spark's own classpath.
  */
object Snappy {

  val MaxOutputBytes: Int = 64 << 20

  import Bytes.{Corrupt, fail}

  /** `snappy_decompress(binary)` → decompressed payload (framed stream
    * or raw block, auto-detected), or null.
    */
  def decompressAny(b: Array[Byte]): Array[Byte] =
    try {
      if (b == null) null
      else if (isFramed(b)) decodeFramed(b)
      else decodeRaw(b, 0, b.length)
    } catch {
      case Corrupt | _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => null
    }

  private def isFramed(b: Array[Byte]): Boolean =
    b.length >= 10 && (b(0) & 0xff) == 0xff && b(1) == 6 && b(2) == 0 &&
      b(3) == 0 && b(4) == 's' && b(5) == 'N' && b(6) == 'a' &&
      b(7) == 'P' && b(8) == 'p' && b(9) == 'Y'

  /** One raw snappy block over b[from, until). */
  private def decodeRaw(b: Array[Byte], from: Int, until: Int): Array[Byte] = {
    var p = from
    // uncompressed-length varint
    var declared = 0L
    var shift = 0
    var cont = true
    while (cont) {
      if (p >= until || shift > 35) fail()
      val x = b(p) & 0xff
      p += 1
      declared |= (x & 0x7fL) << shift
      shift += 7
      cont = (x & 0x80) != 0
    }
    if (declared > MaxOutputBytes) fail()
    val n = declared.toInt
    val out = new Array[Byte](n)
    var o = 0
    while (p < until) {
      val tag = b(p) & 0xff
      p += 1
      (tag & 3) match {
        case 0 =>
          var len = (tag >> 2) + 1
          if (len >= 61) {
            val extra = len - 60 // tag values 60..63 -> 1..4 length bytes
            if (p + extra > until) fail()
            var v = 0L
            var k = 0
            while (k < extra) { v |= (b(p + k) & 0xffL) << (8 * k); k += 1 }
            p += extra
            if (v + 1 > Int.MaxValue) fail()
            len = (v + 1).toInt
          }
          if (p + len > until || o + len > n) fail()
          System.arraycopy(b, p, out, o, len)
          p += len
          o += len
        case tpe =>
          var len = 0
          var off = 0
          if (tpe == 1) {
            if (p >= until) fail()
            len = ((tag >> 2) & 0x7) + 4
            off = ((tag >> 5) << 8) | (b(p) & 0xff)
            p += 1
          } else if (tpe == 2) {
            if (p + 2 > until) fail()
            len = (tag >> 2) + 1
            off = Bytes.le16(b, p).toInt
            p += 2
          } else {
            if (p + 4 > until) fail()
            len = (tag >> 2) + 1
            val v = Bytes.le32(b, p)
            p += 4
            if (v > Int.MaxValue) fail()
            off = v.toInt
          }
          if (off <= 0 || off > o || o + len > n) fail()
          var k = 0
          val s = o - off
          while (k < len) { out(o + k) = out(s + k); k += 1 }
          o += len
      }
    }
    if (o != n) fail()
    out
  }

  private def maskedCrc(d: Array[Byte], from: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32C
    c.update(d, from, len)
    val crc = c.getValue
    (((crc >>> 15) | (crc << 17)) + 0xa282ead8L) & 0xFFFFFFFFL
  }

  private def decodeFramed(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.min(b.length * 3, 1 << 16))
    var p = 10 // past the stream identifier
    while (p < b.length) {
      if (p + 4 > b.length) fail()
      val tpe = b(p) & 0xff
      val len = Bytes.le(b, p + 1, 3).toInt
      p += 4
      if (p + len > b.length) fail()
      tpe match {
        case 0x00 => // compressed: CRC32C(uncompressed) + raw block
          if (len < 4) fail()
          val want = Bytes.le32(b, p)
          val chunk = decodeRaw(b, p + 4, p + len)
          if (chunk.length > 65536) fail()
          if (maskedCrc(chunk, 0, chunk.length) != want) fail()
          if (out.size() + chunk.length > MaxOutputBytes) fail()
          out.write(chunk, 0, chunk.length)
        case 0x01 => // uncompressed: CRC + payload
          if (len < 4 || len - 4 > 65536) fail()
          if (maskedCrc(b, p + 4, len - 4) != Bytes.le32(b, p)) fail()
          if (out.size() + len - 4 > MaxOutputBytes) fail()
          out.write(b, p + 4, len - 4)
        case 0xff => // repeated stream identifier (concatenation)
          if (len != 6 || b(p) != 's' || b(p + 1) != 'N' || b(p + 2) != 'a' ||
            b(p + 3) != 'P' || b(p + 4) != 'p' || b(p + 5) != 'Y') fail()
        case t if t >= 0x80 && t <= 0xfe => // padding / skippable
        case _ => fail() // 0x02-0x7f: unskippable unknown
      }
      p += len
    }
    out.toByteArray
  }
}
