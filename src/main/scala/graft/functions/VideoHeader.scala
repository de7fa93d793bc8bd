package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: header-only video metadata from a binary
  * column — `video_header(bin)` → `struct<format, width, height,
  * duration_ms>`, or null for unrecognized/corrupt bytes. Completes the
  * image/audio/video trio ([[ImageHeader]], [[AudioHeader]]): the
  * routing/filtering decisions a 100 TB multimodal pipeline makes before
  * paying for a frame decode, as one scan-side codegen'd call.
  *
  * Parsed containers:
  *  - MP4/ISO-BMFF: a real nested BOX WALK — top-level boxes (32-bit and
  *    64-bit `size==1` extended sizes) to `moov`, then `moov`→`mvhd`
  *    (timescale + duration, version 0 and 1 layouts) and
  *    `moov`→`trak`→`tkhd` (16.16 fixed-point width/height).
  *  - AVI: RIFF `AVI ` LIST walk to `hdrl`→`avih` (µs-per-frame ×
  *    total-frames → duration, little-endian width/height).
  */
object VideoHeader {

  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  // shared overflow-safe readers (Long returns — see graft.functions.Bytes)
  private def fourcc(b: Array[Byte], i: Int): String =
    new String(Array(b(i), b(i + 1), b(i + 2), b(i + 3)),
      java.nio.charset.StandardCharsets.US_ASCII)

  private def row(fmt: String, w: Int, h: Int, ms: Long): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(fmt), w, h, ms))

  /** Find an ISO-BMFF box of `typ` inside [start, end); returns
    * (payloadStart, payloadEnd) or null. Handles 64-bit extended sizes.
    * Shared with [[VideoFrames]]' MP4 sample-table walk.
    */
  private[functions] def findBox(b: Array[Byte], start: Long, end: Long,
                                 typ: String): Array[Long] = {
    var p = start
    while (p + 8 <= end) {
      var size = Bytes.be32(b, p.toInt)
      var hdr = 8L
      if (size == 1L) {
        if (p + 16 > end) return null
        size = Bytes.be64(b, p.toInt + 8)
        hdr = 16L
      } else if (size == 0L) size = end - p // box extends to end
      if (size < hdr || p + size > end) return null
      if (fourcc(b, p.toInt + 4) == typ) return Array(p + hdr, p + size)
      p += size
    }
    null
  }

  private def parseMp4(b: Array[Byte]): InternalRow = {
    val len = b.length.toLong
    val moov = findBox(b, 0, len, "moov")
    if (moov == null) return null
    val mvhd = findBox(b, moov(0), moov(1), "mvhd")
    if (mvhd == null || mvhd(0) + 4 > mvhd(1)) return null
    val mp = mvhd(0).toInt
    val v = b(mp) & 0xff
    // v0: ctime(4) mtime(4) timescale(4) duration(4); v1: 8/8/4/8
    val (timescale, duration) =
      if (v == 0) {
        if (mvhd(0) + 20 > mvhd(1)) return null
        (Bytes.be32(b, mp + 12), Bytes.be32(b, mp + 16))
      } else {
        if (mvhd(0) + 32 > mvhd(1)) return null
        (Bytes.be32(b, mp + 20), Bytes.be64(b, mp + 24))
      }
    if (timescale <= 0) return null
    var w = 0L; var h = 0L
    val trak = findBox(b, moov(0), moov(1), "trak")
    if (trak != null) {
      val tkhd = findBox(b, trak(0), trak(1), "tkhd")
      // an empty (header-only) tkhd has no version byte to read
      if (tkhd != null && tkhd(0) + 4 <= tkhd(1)) {
        val tp = tkhd(0).toInt
        val tv = b(tp) & 0xff
        // matrix ends 36 bytes before width; width/height are 16.16 fixed
        val wOff = if (tv == 0) 76 else 88
        if (tkhd(0) + wOff + 8 <= tkhd(1)) {
          w = Bytes.be32(b, tp + wOff) >> 16
          h = Bytes.be32(b, tp + wOff + 4) >> 16
        }
      }
    }
    // be64 reads the v1 duration as a SIGNED Long, so a hostile value past
    // 2^63 arrives negative, and anything past Long.MaxValue/1000 would
    // wrap in the ms conversion — corrupt container yields null, never a
    // garbage/negative duration
    if (duration < 0L || duration > Long.MaxValue / 1000L) return null
    row("mp4", w.toInt, h.toInt, duration * 1000L / timescale)
  }

  private def parseAvi(b: Array[Byte]): InternalRow = {
    // RIFF....AVI , then chunk walk: LIST(hdrl) -> avih
    var p = 12
    while (p + 8 <= b.length) {
      val size = Bytes.le32(b, p + 4)
      if (size < 0 || p + 8 + size > b.length) return null
      if (fourcc(b, p) == "LIST" && size >= 4 &&
          fourcc(b, p + 8) == "hdrl") {
        var q = p + 12
        val listEnd = p + 8 + size.toInt
        while (q + 8 <= listEnd) {
          val csize = Bytes.le32(b, q + 4)
          if (csize < 0 || q + 8 + csize > listEnd) return null
          if (fourcc(b, q) == "avih") {
            // payload: usPerFrame(4) maxBytes(4) pad(4) flags(4)
            // totalFrames(4) initial(4) streams(4) bufSize(4) w(4) h(4)
            if (csize < 40) return null
            val usPerFrame = Bytes.le32(b, q + 8)
            val frames = Bytes.le32(b, q + 24)
            val w = Bytes.le32(b, q + 40)
            val h = Bytes.le32(b, q + 44)
            // both fields are unsigned 32-bit, so the µs product can reach
            // ~1.8e19 and wrap a signed Long — reject before multiplying
            if (frames > 0L && usPerFrame > Long.MaxValue / frames) return null
            return row("avi", w.toInt, h.toInt, usPerFrame * frames / 1000L)
          }
          q += 8 + csize.toInt + (csize.toInt & 1)
        }
        return null
      }
      p += 8 + size.toInt + (size.toInt & 1)
    }
    null
  }

  /** Invoked from both interpreted eval and generated code. */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 16) return null
    // MP4/ISO-BMFF: first box is conventionally ftyp
    if (fourcc(b, 4) == "ftyp") return parseMp4(b)
    if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        fourcc(b, 8) == "AVI ") return parseAvi(b)
    null
  }
}
