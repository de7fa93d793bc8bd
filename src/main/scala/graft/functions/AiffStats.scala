package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** AIFF (Audio IFF) sample decode + stats — the big-endian sibling of
  * the RIFF/WAVE path ([[AudioPcmStats]]): Mac-era archives, broadcast
  * libraries, and DAW exports ship `.aiff`, and every byte-order or
  * sign assumption is INVERTED vs WAV (16/24-bit samples big-endian,
  * 8-bit samples SIGNED where WAV's are unsigned-centered), so reusing
  * the WAV decoder would corrupt exactly the gates this one feeds.
  *
  * `audio_aiff_stats(binary)` → `(n_samples, peak, sum_sq,
  * zero_crossings, sample_rate, bits)` or null:
  *  - `FORM`/`AIFF` IFF walk (big-endian sizes, even-padded chunks);
  *  - `COMM`: mono only, 8/16/24 bits, `numSampleFrames`, and the
  *    80-bit IEEE-extended sample rate decoded EXACTLY (sign bit or a
  *    non-integral / out-of-range rate refuses — a rate is a gate
  *    input, never a rounded guess);
  *  - `SSND`: samples start past the offset field; `numSampleFrames`
  *    must agree with the chunk's payload size — a mismatch refuses;
  *  - stats are the shared exact-integer contract (peak, Σs², strict
  *    sign-flip zero crossings) over big-endian signed samples.
  *
  * Scale: scan-side expression over one blob, embarrassingly parallel;
  * same cost shape as the WAV/FLAC/G.711 decoders it sits beside.
  */
object AiffStats {

  val schema: StructType = StructType(Seq(
    StructField("n_samples", IntegerType, nullable = false),
    StructField("peak", IntegerType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("zero_crossings", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false)))

  /** 80-bit IEEE 754 extended → exact non-negative integer Hz, or -1.
    * value = mantissa (explicit integer bit) × 2^(exp − 16383 − 63);
    * refuses sign, non-integral, zero, and > Int.MaxValue rates.
    */
  private def extendedToHz(b: Array[Byte], i: Int): Int = {
    if ((b(i) & 0x80) != 0) return -1 // negative rate
    val exp = Bytes.be16(b, i).toInt & 0x7fff
    val mant = Bytes.be64(b, i + 2)
    if (mant == 0) return -1
    val shift = 16383 + 63 - exp
    if (shift < 0 || shift > 63) return -1
    if (shift < 63 && (mant & ((1L << shift) - 1)) != 0) return -1
    val r = mant >>> shift
    if (r <= 0 || r > Int.MaxValue) -1 else r.toInt
  }

  def stats(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return null
    if (!(b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M' &&
          b(8) == 'A' && b(9) == 'I' && b(10) == 'F' && b(11) == 'F'))
      return null
    if (Bytes.be32(b, 4) != b.length - 8) return null
    var p = 12
    var frames = -1
    var bits = 0
    var rate = -1
    var dataAt = -1
    var dataLen = -1L
    while (p + 8 <= b.length) {
      val size = Bytes.be32(b, p + 4)
      if (size < 0 || p + 8L + size > b.length) return null
      if (b(p) == 'C' && b(p + 1) == 'O' && b(p + 2) == 'M' &&
          b(p + 3) == 'M') {
        if (size < 18) return null
        if (Bytes.be16(b, p + 8) != 1) return null // mono only
        frames = Bytes.be32(b, p + 10).toInt
        bits = Bytes.be16(b, p + 14).toInt
        if (bits != 8 && bits != 16 && bits != 24) return null
        rate = extendedToHz(b, p + 16)
        if (rate < 0) return null
      } else if (b(p) == 'S' && b(p + 1) == 'S' && b(p + 2) == 'N' &&
                 b(p + 3) == 'D') {
        if (size < 8) return null
        val offset = Bytes.be32(b, p + 8)
        if (offset < 0 || 8 + offset > size) return null
        dataAt = (p + 16 + offset).toInt
        dataLen = size - 8 - offset
      }
      p += (8 + size + (size & 1)).toInt
    }
    if (frames < 0 || dataAt < 0) return null
    val bps = bits / 8
    if (dataLen != frames.toLong * bps) return null // COMM/SSND must agree
    var peak = 0
    var sumSq = 0L
    var zc = 0
    var prev = 0
    var k = 0
    while (k < frames) {
      val i = dataAt + bps * k
      val s = bps match {
        case 1 => b(i).toInt // 8-bit AIFF is SIGNED (unlike WAV)
        case 2 => Bytes.be16(b, i).toShort.toInt
        case _ => (b(i) << 16) | ((b(i + 1) & 0xff) << 8) | (b(i + 2) & 0xff)
      }
      val a = if (s < 0) -s else s
      if (a > peak) peak = a
      sumSq += s.toLong * s
      if (k > 0 && prev.toLong * s < 0) zc += 1
      prev = s
      k += 1
    }
    new GenericInternalRow(Array[Any](frames, peak, sumSq, zc, rate, bits))
  }
}
