package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: header-only audio metadata from a binary
  * column — `audio_header(bin)` → `struct<format, channels, sample_rate,
  * bits_per_sample>`, or null when the bytes are not a recognized audio
  * container. The audio sibling of [[ImageHeader]] (same scan-side
  * codegen pattern, same curation rationale: route/filter/bucket blobs
  * without paying for a sample decode).
  *
  * Parsed formats:
  *  - WAV: RIFF/WAVE with a real CHUNK WALK to the `fmt ` chunk
  *    (arbitrary JUNK/LIST chunks before it, word-aligned sizes), then
  *    channels (LE16), sample rate (LE32), bits per sample (LE16).
  *  - FLAC: `fLaC` + the mandatory STREAMINFO metadata block — sample
  *    rate is a 20-bit field, channels a 3-bit field, bits-per-sample a
  *    5-bit field packed across bytes 18–21 of the stream (actual bit
  *    unpacking, not byte reads).
  */
object AudioHeader {

  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false)))

  private def row(fmt: String, ch: Int, rate: Int, bits: Int): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(fmt), ch, rate, bits))

  /** Invoked from both interpreted eval and generated code; null when the
    * bytes are not a recognized, non-truncated audio header.
    */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return null
    // WAV: RIFF....WAVE, then chunk walk to 'fmt '
    if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') {
      var p = 12
      while (p + 8 <= b.length) {
        val size = Bytes.le32(b, p + 4) // Long: a 0x7FFFFFF0 size field cannot wrap p negative
        if (size < 0 || p + 8L + size > b.length) return null
        if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' && b(p + 3) == ' ') {
          // fmt payload: format(2) channels(2) rate(4) byteRate(4)
          // blockAlign(2) bits(2)
          if (size < 16 || p + 8 + 16 > b.length) return null
          return row("wav", Bytes.le16(b, p + 10).toInt,
            Bytes.le32(b, p + 12).toInt, Bytes.le16(b, p + 22).toInt)
        }
        p += (8 + size + (size & 1)).toInt // RIFF chunks are word-aligned
      }
      return null // no fmt chunk before truncation
    }
    // FLAC: fLaC + STREAMINFO (mandatory first metadata block)
    if (b.length >= 22 &&
        b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C' &&
        (b(4) & 0x7f) == 0) { // block type 0 = STREAMINFO
      // STREAMINFO starts at 8; bytes 18..21 of the stream pack
      // rate(20 bits) | channels-1(3) | bits-1(5) | total-samples(36...)
      val rate = ((b(18) & 0xff) << 12) | ((b(19) & 0xff) << 4) | ((b(20) & 0xff) >> 4)
      val ch = ((b(20) >> 1) & 0x7) + 1
      val bits = (((b(20) & 0x1) << 4) | ((b(21) & 0xff) >> 4)) + 1
      if (rate == 0) return null // streaminfo rate 0 is invalid per spec
      return row("flac", ch, rate, bits)
    }
    null
  }
}
