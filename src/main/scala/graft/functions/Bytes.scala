package graft.functions

/** How a byte-input decoder in this package reads integers, reads bits
  * and refuses input. Every decoder uses this one copy; none keeps its
  * own.
  *
  *  - Fixed-width reads (`be16` … `le64`, the n-byte little-endian [[le]]
  *    and the byte-order-switched [[u16]] / [[u32]] of TIFF-style
  *    containers) are bounds-unchecked: the caller's loop guard covers
  *    them, which is why they stay simple and branch-free. All return
  *    Long so chunk/box SIZE fields can never overflow Int and wrap
  *    negative (the classic corrupt-container crash: a size of
  *    0x7FFFFFF0 read as Int makes `p += 8 + size` wrap and index a
  *    negative offset). Callers narrow with `.toInt` / `.toShort`.
  *  - [[Window]] is the checked form: each read refuses unless it lies
  *    inside the window.
  *  - [[Corrupt]] is the refusal signal, thrown by [[fail]]. Each
  *    decoder entry point catches it and returns null.
  *  - [[MsbBits]] (bzip2, FLAC, PDF LZW) and [[LsbBits]] (GIF LZW, WebP
  *    lossless, zstd FSE headers) are the forward bit readers; both
  *    refuse on exhaustion. JPEG's byte-unstuffing reader and zstd's
  *    backward sentinel reader stay with their decoders.
  */
private[functions] object Bytes {

  /** Whole-or-refuse signal for malformed input. Stackless singleton:
    * thrown only on bad input, and the interesting cost there is NOT
    * building a stack trace per blob.
    */
  object Corrupt extends RuntimeException(null, null, false, false)
  def fail(): Nothing = throw Corrupt

  def be16(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 8) | (b(i + 1) & 0xffL)
  def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)
  def le16(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8)
  def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
  def le64(b: Array[Byte], i: Int): Long =
    le32(b, i) | (le32(b, i + 4) << 32)

  /** `n` bytes (0..8) little-endian, unsigned within the width. */
  def le(b: Array[Byte], i: Int, n: Int): Long = {
    var v = 0L
    var k = 0
    while (k < n) { v |= (b(i + k) & 0xffL) << (8 * k); k += 1 }
    v
  }

  /** 16 / 32 bits in the byte order a TIFF-style header declares. */
  def u16(b: Array[Byte], i: Int, littleEndian: Boolean): Long =
    if (littleEndian) le16(b, i) else be16(b, i)
  def u32(b: Array[Byte], i: Int, littleEndian: Boolean): Long =
    if (littleEndian) le32(b, i) else be32(b, i)

  /** Checked reads over `b[lo, hi)`: each refuses unless `[i, i + width)`
    * lies inside the window. Long arithmetic, so a crafted offset near
    * Int.MaxValue cannot wrap the sum negative and slip past the bound.
    */
  class Window(val b: Array[Byte], val lo: Int, val hi: Int) {
    def this(b: Array[Byte]) = this(b, 0, b.length)
    private def need(i: Int, n: Int): Unit =
      if (i < lo || i.toLong + n > hi) fail()
    def u8(i: Int): Int = { need(i, 1); b(i) & 0xff }
    def be16(i: Int): Long = { need(i, 2); Bytes.be16(b, i) }
    def le16(i: Int): Long = { need(i, 2); Bytes.le16(b, i) }
    def le32(i: Int): Long = { need(i, 4); Bytes.le32(b, i) }
    def le64(i: Int): Long = { need(i, 8); Bytes.le64(b, i) }
    def le(i: Int, n: Int): Long = { need(i, n); Bytes.le(b, i, n) }
  }

  /** MSB-first forward bit reader over `b[start, end)`. */
  final class MsbBits(b: Array[Byte], start: Int, end: Int) {
    private var pos: Long = start.toLong << 3
    private val limit: Long = end.toLong << 3
    def atEnd: Boolean = pos >= limit
    def alignByte(): Unit = pos = (pos + 7) & ~7L
    /** The byte the cursor sits on; refuses when not byte-aligned. */
    def bytePos: Int = {
      if ((pos & 7) != 0) fail()
      (pos >> 3).toInt
    }
    def bit(): Int = {
      if (pos >= limit) fail()
      val v = (b((pos >> 3).toInt) >> (7 - (pos & 7).toInt)) & 1
      pos += 1
      v
    }
    /** `n` (0..32) bits, first bit most significant. */
    def bits(n: Int): Int = bitsLong(n).toInt
    /** `n` (0..64) bits, first bit most significant. */
    def bitsLong(n: Int): Long = {
      if (n == 0) return 0L
      if (pos + n > limit) fail()
      var acc = 0L
      var got = 0
      while (got < n) {
        val off = (pos & 7).toInt
        val take = math.min(8 - off, n - got)
        val chunk = ((b((pos >> 3).toInt) & 0xff) >> (8 - off - take)) & ((1 << take) - 1)
        acc = (acc << take) | chunk
        got += take
        pos += take
      }
      acc
    }
  }

  /** LSB-first forward bit reader over `b[start, end)`. */
  final class LsbBits(b: Array[Byte], start: Int, end: Int) {
    private var pos: Long = start.toLong << 3
    private val limit: Long = end.toLong << 3
    /** Bytes touched since `start`, counting a partly read one. */
    def bytesConsumed: Int = ((pos - (start.toLong << 3) + 7) >> 3).toInt
    def bit(): Int = bits(1)
    /** `n` (0..31) bits, first bit least significant. */
    def bits(n: Int): Int = {
      if (n == 0) return 0
      if (pos + n > limit) fail()
      var acc = 0
      var got = 0
      while (got < n) {
        val off = (pos & 7).toInt
        val take = math.min(8 - off, n - got)
        val chunk = ((b((pos >> 3).toInt) & 0xff) >> off) & ((1 << take) - 1)
        acc |= chunk << got
        got += take
        pos += take
      }
      acc
    }
  }
}
