package graft.functions

/** LZ4 frame decompression as a scan-side expression — the fourth leg
  * of the archive codec matrix (fast-tier dataset shards and cache
  * files ship `.lz4`). Full from-spec decode of the public frame and
  * block formats:
  *
  *   - frame: magic, FLG/BD descriptor with its XXH32-derived header
  *     checksum byte, optional content size, block-independence and
  *     both checksum flags, EndMark, optional content checksum;
  *   - blocks: 4-byte sizes with the uncompressed high bit, optional
  *     per-block XXH32;
  *   - sequences: token nibbles with 255-extension lengths, 16-bit
  *     offsets, overlap-tolerant match copy, literal-only tail.
  *
  * XXH32 is implemented from its published constants — fixtures from
  * the independent system `lz4` CLI pin every checksum path.
  *
  * Whole-or-refuse (null): bad magic/version, reserved FLG bits,
  * descriptor/block/content checksum mismatch, offsets past the
  * window start, truncated sequences, missing EndMark, trailing
  * garbage, or output past [[MaxOutputBytes]]. Skippable frames
  * (magic 0x184D2A5x) are skipped whole, like the spec says.
  */
object Lz4 {

  val MaxOutputBytes: Int = 64 << 20

  import Bytes.{Corrupt, fail}

  // ---- XXH32 (public constants) ----
  private val P1 = 0x9E3779B1
  private val P2 = 0x85EBCA77
  private val P3 = 0xC2B2AE3D
  private val P4 = 0x27D4EB2F
  private val P5 = 0x165667B1

  private[functions] def xxh32(b: Array[Byte], from: Int, until: Int,
                               seed: Int): Int = {
    val len = until - from
    var h =
      if (len >= 16) {
        var a1 = seed + P1 + P2
        var a2 = seed + P2
        var a3 = seed
        var a4 = seed - P1
        var i = from
        while (i <= until - 16) {
          a1 = Integer.rotateLeft(a1 + Bytes.le32(b, i).toInt * P2, 13) * P1
          a2 = Integer.rotateLeft(a2 + Bytes.le32(b, i + 4).toInt * P2, 13) * P1
          a3 = Integer.rotateLeft(a3 + Bytes.le32(b, i + 8).toInt * P2, 13) * P1
          a4 = Integer.rotateLeft(a4 + Bytes.le32(b, i + 12).toInt * P2, 13) * P1
          i += 16
        }
        Integer.rotateLeft(a1, 1) + Integer.rotateLeft(a2, 7) +
          Integer.rotateLeft(a3, 12) + Integer.rotateLeft(a4, 18)
      } else seed + P5
    h += len
    var i = from + (len & ~15)
    while (i <= until - 4) {
      h = Integer.rotateLeft(h + Bytes.le32(b, i).toInt * P3, 17) * P4
      i += 4
    }
    while (i < until) {
      h = Integer.rotateLeft(h + (b(i) & 0xff) * P5, 11) * P1
      i += 1
    }
    h ^= h >>> 15
    h *= P2
    h ^= h >>> 13
    h *= P3
    h ^= h >>> 16
    h
  }

  /** `lz4_decompress(binary)` → concatenated decompressed payload of
    * every LZ4 frame in the blob, or null.
    */
  def decompressAll(b: Array[Byte]): Array[Byte] =
    try decompressOrFail(b)
    catch {
      case Corrupt | _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => null
    }

  private def decompressOrFail(b: Array[Byte]): Array[Byte] = {
    if (b == null) return null
    val in = new Bytes.Window(b)
    if (b.length < 7) fail()
    val out = new Buf(math.min(math.max(b.length * 4, 1024), 1 << 16))
    var p = 0
    var sawFrame = false
    while (p < b.length) {
      val magic = in.le32(p)
      if ((magic & 0xFFFFFFF0L) == 0x184D2A50L) {
        // skippable frame: 4-byte size then payload
        val sz = in.le32(p + 4)
        if (p + 8L + sz > b.length) fail()
        p += 8 + sz.toInt
      } else if (magic == 0x184D2204L) {
        p = decodeFrame(b, p + 4, out)
        sawFrame = true
      } else fail()
    }
    if (!sawFrame) fail()
    out.toArray
  }

  /** Growable output window with in-buffer backward copies. */
  private final class Buf(cap0: Int) {
    private var a = new Array[Byte](cap0)
    var n = 0
    private def ensure(extra: Int): Unit = {
      if (n + extra > MaxOutputBytes) fail()
      while (n + extra > a.length)
        a = java.util.Arrays.copyOf(a, math.max(a.length << 1, n + extra))
    }
    def write(src: Array[Byte], off: Int, len: Int): Unit = {
      ensure(len)
      System.arraycopy(src, off, a, n, len)
      n += len
    }
    def copyBack(offset: Int, len: Int): Unit = {
      if (offset <= 0 || offset > n) fail()
      ensure(len)
      var i = 0
      val s = n - offset
      while (i < len) { a(n + i) = a(s + i); i += 1 } // overlap-safe forward
      n += len
    }
    def xxhFrom(from: Int): Int = xxh32(a, from, n, 0)
    def toArray: Array[Byte] = java.util.Arrays.copyOf(a, n)
  }

  private def decodeFrame(b: Array[Byte], start: Int, out: Buf): Int = {
    val in = new Bytes.Window(b)
    var p = start
    if (p + 3 > b.length) fail()
    val flg = b(p) & 0xff
    val bd = b(p + 1) & 0xff
    if ((flg >> 6) != 1) fail() // version
    if ((flg & 0x02) != 0 || (bd & 0x8f) != 0) fail() // reserved bits
    val blockChecksum = (flg & 0x10) != 0
    val contentSize = (flg & 0x08) != 0
    val contentChecksum = (flg & 0x04) != 0
    val dictId = (flg & 0x01) != 0
    val bmax = (bd >> 4) & 0x07
    if (bmax < 4) fail()
    val maxBlock = 1 << (8 + 2 * bmax) // 4..7 -> 64KB..4MB
    var descEnd = p + 2
    var declared = -1L
    if (contentSize) { declared = in.le64(descEnd); descEnd += 8 }
    if (dictId) descEnd += 4
    if (descEnd + 1 > b.length) fail()
    // header checksum byte: (XXH32(descriptor after magic, 0) >> 8) & 0xff
    val hc = (xxh32(b, p, descEnd, 0) >>> 8) & 0xff
    if ((b(descEnd) & 0xff) != hc) fail()
    p = descEnd + 1

    val frameStart = out.n
    var end = false
    while (!end) {
      val word = in.le32(p)
      p += 4
      if (word == 0L) end = true
      else {
        val compressed = (word & 0x80000000L) == 0
        val size = (word & 0x7FFFFFFFL).toInt
        if (size <= 0 || size > maxBlock || p + size > b.length) fail()
        if (compressed) decodeBlock(b, p, p + size, out, frameStart)
        else out.write(b, p, size)
        p += size
        if (blockChecksum) {
          if (in.le32(p) != (xxh32(b, p - size, p, 0) & 0xFFFFFFFFL)) fail()
          p += 4
        }
      }
    }
    val produced = out.n - frameStart
    if (declared >= 0 && declared != produced) fail()
    if (contentChecksum) {
      if (in.le32(p) != (out.xxhFrom(frameStart) & 0xFFFFFFFFL)) fail()
      p += 4
    }
    p
  }

  /** One LZ4 block: token-driven literal/match sequences. Match
    * offsets are bounded below by the FRAME start — correct for both
    * linked and independent blocks as the CLI produces them
    * (independent blocks never reach back past their own start).
    */
  private def decodeBlock(b: Array[Byte], from: Int, until: Int,
                          out: Buf, frameStart: Int): Unit = {
    var p = from
    var done = false
    while (!done) {
      if (p >= until) fail()
      val token = b(p) & 0xff
      p += 1
      var litLen = token >> 4
      if (litLen == 15) {
        var x = 255
        while (x == 255) {
          if (p >= until) fail()
          x = b(p) & 0xff
          p += 1
          litLen += x
        }
      }
      if (p + litLen > until) fail()
      out.write(b, p, litLen)
      p += litLen
      if (p == until) done = true // literal-only tail ends the block
      else {
        if (p + 2 > until) fail()
        val offset = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
        p += 2
        var matchLen = (token & 0x0f) + 4
        if ((token & 0x0f) == 15) {
          var x = 255
          while (x == 255) {
            if (p >= until) fail()
            x = b(p) & 0xff
            p += 1
            matchLen += x
          }
        }
        if (out.n - offset < frameStart) fail()
        out.copyBack(offset, matchLen)
      }
    }
  }

}
