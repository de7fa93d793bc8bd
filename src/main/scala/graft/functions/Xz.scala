package graft.functions

/** XZ / LZMA2 decompression as a scan-side expression — the third
  * leg of the crawl-archive compression matrix next to gzip/zstd/bz2
  * (HF dataset drops and source tarballs ship `.xz`). Full from-spec
  * decode of the public formats:
  *
  *   - XZ container: stream header/footer with CRC32'd flags, block
    *   headers (LZMA2 filter only), 4-byte padding, per-block check
    *   (None/CRC32/CRC64/SHA-256 all verified), index cross-checked
    *   against the decoded blocks, concatenated streams + stream
    *   padding.
  *   - LZMA2 chunk layer: uncompressed and compressed chunks,
    *   state/props/dict reset flags, exact packed-size consumption.
  *   - LZMA core: binary range coder (11-bit adaptive probabilities,
    *   2^24 normalization), literal coder with lc/lp context and
    *   matched-literal mode, the 12-state machine, length coders,
    *   position-slot/spec-pos/align distance model, rep distances.
  *
  * No fixed spec tables anywhere — every probability starts at 1/2
  * and every derived constant is arithmetic, so the whole decoder is
  * reproducible offline; CRC tables derive from their polynomials.
  *
  * Whole-or-refuse (null): bad magics/CRCs/check values, reserved
  * flags, non-LZMA2 filters, distances reaching past a dict reset,
  * chunks not consuming exactly their packed size, index/footer
  * disagreement, truncation, trailing garbage, or output past
  * [[Gzip.MaxInflatedBytes]]-style [[MaxOutputBytes]].
  *
  * Fixtures are committed from the INDEPENDENT python stdlib (liblzma)
  * compressor (tools/gen_xz_fixtures.py) with exact payload sidecars.
  */
object Xz {

  val MaxOutputBytes: Int = 64 << 20

  import Bytes.{Corrupt, fail}

  /** CRC-64/XZ: reflected, poly 0xC96C5795D7870F42, init/final ~0. */
  private val Crc64Table: Array[Long] = {
    val t = new Array[Long](256)
    var i = 0
    while (i < 256) {
      var c = i.toLong
      var k = 0
      while (k < 8) {
        c = if ((c & 1L) != 0) (c >>> 1) ^ 0xC96C5795D7870F42L else c >>> 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  private def crc64(b: Array[Byte], from: Int, until: Int): Long = {
    var c = ~0L
    var i = from
    while (i < until) {
      c = (c >>> 8) ^ Crc64Table(((c ^ b(i)) & 0xff).toInt)
      i += 1
    }
    ~c
  }

  private def crc32(b: Array[Byte], from: Int, until: Int): Long = {
    val c = new java.util.zip.CRC32
    c.update(b, from, until - from)
    c.getValue
  }

  /** `xz_decompress(binary)` → concatenated decompressed payload of every
    * XZ stream in the blob, or null.
    */
  def decompressAll(b: Array[Byte]): Array[Byte] =
    try decompressOrFail(b)
    catch {
      case Corrupt | _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => null
    }

  // ----------------------------------------------------------------
  // XZ container
  // ----------------------------------------------------------------

  private def decompressOrFail(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 32) { if (b == null) return null else fail() }
    val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 16))
    var p = 0
    var sawStream = false
    while (p < b.length) {
      // stream padding: zero bytes in multiples of 4 between streams
      if (b(p) == 0) {
        val start = p
        while (p < b.length && b(p) == 0) p += 1
        if ((p - start) % 4 != 0 || p < b.length && !sawStream) fail()
        if (p >= b.length) { if (!sawStream) fail() else return out.toByteArray }
      }
      p = decodeStream(b, p, out)
      sawStream = true
    }
    if (!sawStream) fail()
    out.toByteArray
  }

  private def varint(b: Array[Byte], pos: Array[Int]): Long = {
    var v = 0L
    var shift = 0
    var i = pos(0)
    while (true) {
      if (i >= b.length || shift > 56) fail()
      val byte = b(i) & 0xff
      i += 1
      v |= (byte & 0x7fL) << shift
      if ((byte & 0x80) == 0) { pos(0) = i; return v }
      shift += 7
    }
    v
  }

  private def decodeStream(b: Array[Byte], start: Int,
                           out: java.io.ByteArrayOutputStream): Int = {
    val in = new Bytes.Window(b)
    var p = start
    // stream header: FD '7' 'z' 'X' 'Z' 00 | flags(2) | CRC32(flags)
    if (p + 12 > b.length) fail()
    if ((b(p) & 0xff) != 0xfd || b(p + 1) != '7' || b(p + 2) != 'z' ||
      b(p + 3) != 'X' || b(p + 4) != 'Z' || b(p + 5) != 0) fail()
    if (b(p + 6) != 0) fail() // first flag byte reserved
    val checkId = b(p + 7) & 0xff
    val checkSize = checkId match {
      case 0x00 => 0
      case 0x01 => 4 // CRC32
      case 0x04 => 8 // CRC64
      case 0x0a => 32 // SHA-256
      case _ => fail()
    }
    if (in.le32(p + 8) != crc32(b, p + 6, p + 8)) fail()
    p += 12

    // blocks until the index indicator (0x00 where a block header starts)
    val records = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    while ((b(p) & 0xff) != 0x00) {
      val blockStart = p
      val bhs = ((b(p) & 0xff) + 1) * 4
      if (p + bhs > b.length) fail()
      val flags = b(p + 1) & 0xff
      if ((flags & 0x3c) != 0) fail() // reserved
      val nFilters = (flags & 0x03) + 1
      if (nFilters != 1) fail() // LZMA2 alone is the xz default chain
      val pos = Array(p + 2)
      if ((flags & 0x40) != 0) varint(b, pos) // compressed size (unused)
      if ((flags & 0x80) != 0) varint(b, pos) // uncompressed size (unused)
      val filterId = varint(b, pos)
      if (filterId != 0x21) fail()
      val propsSize = varint(b, pos)
      if (propsSize != 1) fail()
      val dictProp = b(pos(0)) & 0xff
      pos(0) += 1
      if (dictProp > 40) fail()
      // header padding must be zero up to the CRC
      var q = pos(0)
      while (q < p + bhs - 4) { if (b(q) != 0) fail(); q += 1 }
      if (in.le32(p + bhs - 4) != crc32(b, p, p + bhs - 4)) fail()
      p += bhs

      val outBefore = out.size()
      p = Lzma2.decode(b, p, out)
      val unpadded0 = (p - blockStart).toLong
      // pad to 4
      while ((p - blockStart) % 4 != 0) { if (b(p) != 0) fail(); p += 1 }
      // verify block check over the bytes this block produced
      val produced = out.toByteArray // bounded by MaxOutputBytes
      checkId match {
        case 0x00 =>
        case 0x01 =>
          if (in.le32(p) != crc32(produced, outBefore, produced.length)) fail()
        case 0x04 =>
          if (in.le64(p) != crc64(produced, outBefore, produced.length)) fail()
        case 0x0a =>
          val md = java.security.MessageDigest.getInstance("SHA-256")
          md.update(produced, outBefore, produced.length - outBefore)
          val want = java.util.Arrays.copyOfRange(b, p, p + 32)
          if (!java.util.Arrays.equals(md.digest(), want)) fail()
      }
      p += checkSize
      records += ((unpadded0 + checkSize, (produced.length - outBefore).toLong))
    }

    // index: 0x00 | count | (unpadded, uncompressed)* | pad4 | CRC32
    val indexStart = p
    p += 1
    val pos = Array(p)
    val n = varint(b, pos)
    if (n != records.length) fail()
    var i = 0
    while (i < n) {
      val up = varint(b, pos)
      val un = varint(b, pos)
      if ((up, un) != records(i)) fail()
      i += 1
    }
    p = pos(0)
    while ((p - indexStart) % 4 != 0) { if (b(p) != 0) fail(); p += 1 }
    if (in.le32(p) != crc32(b, indexStart, p)) fail()
    p += 4
    val indexSize = p - indexStart

    // stream footer: CRC32(backward+flags) | backward(4) | flags(2) | YZ
    if (p + 12 > b.length) fail()
    if (in.le32(p) != crc32(b, p + 4, p + 10)) fail()
    val backward = (in.le32(p + 4) + 1) * 4
    if (backward != indexSize) fail()
    if (b(p + 8) != 0 || (b(p + 9) & 0xff) != checkId) fail()
    if (b(p + 10) != 'Y' || b(p + 11) != 'Z') fail()
    p + 12
  }

  // ----------------------------------------------------------------
  // LZMA2 chunk layer + LZMA core
  // ----------------------------------------------------------------

  private object Lzma2 {

    /** Decode one LZMA2 filter run starting at `p`; returns the
      * position after the 0x00 end marker.
      */
    def decode(b: Array[Byte], start: Int,
               out: java.io.ByteArrayOutputStream): Int = {
      var p = start
      val dict = new Dict(out)
      var st: LzmaState = null
      // Last-seen props survive uncompressed chunks: liblzma emits a
      // state-reset-only chunk (reset mode 1, props reused) after an
      // uncompressed chunk, so (lc, lp, pb) must be retained even when
      // the probability state itself is discarded.
      var havProps = false
      var lcProp = 0
      var lpProp = 0
      var pbProp = 0
      var needDictReset = true
      while (true) {
        if (p >= b.length) fail()
        val control = b(p) & 0xff
        p += 1
        if (control == 0x00) return p
        if (control == 0x01 || control == 0x02) {
          // uncompressed chunk (0x01 = dict reset first)
          if (control == 0x01) { dict.reset(); needDictReset = false }
          else if (needDictReset) fail()
          val size = (((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)) + 1
          p += 2
          if (p + size > b.length) fail()
          var i = 0
          while (i < size) { dict.put(b(p + i) & 0xff); i += 1 }
          p += size
          st = null // uncompressed chunks force a state reset after
        } else if (control >= 0x80) {
          val unpack = (((control & 0x1f) << 16) |
            ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)) + 1
          val pack = (((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)) + 1
          p += 4
          val resetMode = (control >> 5) & 0x03
          if (resetMode == 3) { dict.reset(); needDictReset = false }
          else if (needDictReset) fail()
          if (resetMode >= 2) {
            val props = b(p) & 0xff
            p += 1
            if (props > 224) fail()
            val lc = props % 9
            val rem = props / 9
            val lp = rem % 5
            val pb = rem / 5
            if (pb > 4 || lc + lp > 4) fail()
            lcProp = lc; lpProp = lp; pbProp = pb; havProps = true
            st = new LzmaState(lc, lp, pb)
          } else if (resetMode == 1) {
            if (!havProps) fail()
            st = new LzmaState(lcProp, lpProp, pbProp)
          } else if (st == null) fail()
          if (p + pack > b.length) fail()
          st.decodeChunk(b, p, p + pack, dict, unpack)
          p += pack
        } else fail()
      }
      fail()
    }
  }

  /** Output window: absolute positions into the whole decoded run,
    * with a reset base that match distances must not cross.
    */
  private final class Dict(out: java.io.ByteArrayOutputStream) {
    private var buf = new Array[Byte](1 << 16)
    var pos = 0 // bytes held locally (== total bytes of this filter run)
    private var base = 0
    def reset(): Unit = base = pos
    /** Position since the last dict reset — the lc/lp/pb context
      * counter (a reset starts a fresh LZMA stream). */
    def relPos: Int = pos - base
    def atStart: Boolean = pos == base
    def put(byte: Int): Unit = {
      if (pos >= MaxOutputBytes) fail()
      if (pos >= buf.length)
        buf = java.util.Arrays.copyOf(buf, buf.length << 1)
      buf(pos) = byte.toByte
      pos += 1
      out.write(byte)
    }
    def byteBack(dist: Int): Int = {
      val i = pos - dist - 1
      if (i < base) fail()
      buf(i) & 0xff
    }
    def copyMatch(dist: Int, len: Int): Unit = {
      var i = 0
      while (i < len) { put(byteBack(dist)); i += 1 }
    }
  }

  /** One LZMA probability-model instance (survives across chunks when
    * the control byte says no state reset).
    */
  private final class LzmaState(val lc: Int, val lp: Int, val pb: Int) {
    private val posMask = (1 << pb) - 1
    private val litPosMask = (1 << lp) - 1
    private def np(n: Int) = Array.fill(n)(1024) // probabilities at 1/2

    private val isMatch = np(12 << 4)
    private val isRep = np(12)
    private val isRepG0 = np(12)
    private val isRepG1 = np(12)
    private val isRepG2 = np(12)
    private val isRep0Long = np(12 << 4)
    private val posSlot = Array.fill(4)(np(1 << 6))
    private val specPos = np(115)
    private val align = np(16)
    private val lenChoice = np(2)
    private val lenLow = Array.fill(16)(np(8))
    private val lenMid = Array.fill(16)(np(8))
    private val lenHigh = np(256)
    private val repChoice = np(2)
    private val repLow = Array.fill(16)(np(8))
    private val repMid = Array.fill(16)(np(8))
    private val repHigh = np(256)
    private val literals = np(0x300 << (lc + lp))

    private var state = 0
    private var rep0 = 0
    private var rep1 = 0
    private var rep2 = 0
    private var rep3 = 0

    // ---- range decoder ----
    private var in: Array[Byte] = null
    private var inPos = 0
    private var inEnd = 0
    private var range = 0L
    private var code = 0L

    private def rcInit(): Unit = {
      if (inPos + 5 > inEnd) fail()
      if (in(inPos) != 0) fail()
      range = 0xFFFFFFFFL
      code = 0L
      var i = 1
      while (i <= 4) { code = (code << 8) | (in(inPos + i) & 0xffL); i += 1 }
      inPos += 5
    }

    private def rcNormalize(): Unit =
      if (range < 0x1000000L) {
        if (inPos >= inEnd) fail()
        range <<= 8
        code = ((code << 8) | (in(inPos) & 0xffL)) & 0xFFFFFFFFL
        inPos += 1
      }

    private def bit(probs: Array[Int], i: Int): Int = {
      val bound = (range >>> 11) * probs(i)
      if (code < bound) {
        range = bound
        probs(i) += (2048 - probs(i)) >> 5
        rcNormalize()
        0
      } else {
        range -= bound
        code -= bound
        probs(i) -= probs(i) >> 5
        rcNormalize()
        1
      }
    }

    private def bitTree(probs: Array[Int], nbits: Int): Int = {
      var m = 1
      var i = 0
      while (i < nbits) { m = (m << 1) | bit(probs, m); i += 1 }
      m - (1 << nbits)
    }

    private def bitTreeReverse(probs: Array[Int], off: Int, nbits: Int): Int = {
      var m = 1
      var sym = 0
      var i = 0
      while (i < nbits) {
        val x = bit(probs, off + m)
        m = (m << 1) | x
        sym |= x << i
        i += 1
      }
      sym
    }

    private def directBits(nbits: Int): Int = {
      var res = 0
      var i = 0
      while (i < nbits) {
        range >>>= 1
        code -= range
        if (code < 0) { code += range; res <<= 1 }
        else res = (res << 1) | 1
        rcNormalize()
        i += 1
      }
      res
    }

    private def decodeLen(choice: Array[Int], low: Array[Array[Int]],
                          mid: Array[Array[Int]], high: Array[Int],
                          posState: Int): Int =
      if (bit(choice, 0) == 0) 2 + bitTree(low(posState), 3)
      else if (bit(choice, 1) == 0) 10 + bitTree(mid(posState), 3)
      else 18 + bitTree(high, 8)

    /** Decode exactly `unpack` bytes from in[from,until) — the chunk
      * must consume its packed bytes exactly.
      */
    def decodeChunk(inBuf: Array[Byte], from: Int, until: Int, dict: Dict,
                    unpack: Int): Unit = {
      in = inBuf; inPos = from; inEnd = until
      rcInit()
      val target = dict.pos + unpack
      while (dict.pos < target) {
        val posState = dict.relPos & posMask
        if (bit(isMatch, (state << 4) + posState) == 0) {
          // literal
          val prev = if (dict.atStart) 0 else dict.byteBack(0)
          val ctx = ((dict.relPos & litPosMask) << lc) + (prev >>> (8 - lc))
          val off = 0x300 * ctx
          var sym = 1
          if (state >= 7) {
            var matchByte = dict.byteBack(rep0)
            var break = false
            while (!break && sym < 0x100) {
              val matchBit = (matchByte >> 7) & 1
              matchByte = (matchByte << 1) & 0xff
              val x = bit(literals, off + ((1 + matchBit) << 8) + sym)
              sym = (sym << 1) | x
              if (matchBit != x) break = true
            }
          }
          while (sym < 0x100) sym = (sym << 1) | bit(literals, off + sym)
          dict.put(sym & 0xff)
          state = if (state < 4) 0 else if (state < 10) state - 3 else state - 6
        } else if (bit(isRep, state) == 0) {
          // new match
          rep3 = rep2; rep2 = rep1; rep1 = rep0
          val len = decodeLen(lenChoice, lenLow, lenMid, lenHigh, posState)
          val lenState = math.min(len - 2, 3)
          val slot = bitTree(posSlot(lenState), 6)
          if (slot < 4) rep0 = slot
          else {
            val nd = (slot >> 1) - 1
            rep0 = (2 | (slot & 1)) << nd
            if (slot < 14)
              rep0 += bitTreeReverse(specPos, rep0 - slot, nd)
            else {
              rep0 += directBits(nd - 4) << 4
              rep0 += bitTreeReverse(align, 0, 4)
            }
          }
          if (rep0 < 0) fail() // end marker / overflow: not in sized chunks
          if (dict.pos + len > target) fail()
          dict.copyMatch(rep0, len)
          state = if (state < 7) 7 else 10
        } else {
          // rep match
          val len =
            if (bit(isRepG0, state) == 0) {
              if (bit(isRep0Long, (state << 4) + posState) == 0) {
                state = if (state < 7) 9 else 11
                dict.put(dict.byteBack(rep0))
                // short rep emits exactly one byte; continue main loop
                -1
              } else decodeLen(repChoice, repLow, repMid, repHigh, posState)
            } else {
              val d =
                if (bit(isRepG1, state) == 0) rep1
                else if (bit(isRepG2, state) == 0) { val t = rep2; rep2 = rep1; t }
                else { val t = rep3; rep3 = rep2; rep2 = rep1; t }
              rep1 = rep0
              rep0 = d
              decodeLen(repChoice, repLow, repMid, repHigh, posState)
            }
          if (len >= 0) {
            if (dict.pos + len > target) fail()
            dict.copyMatch(rep0, len)
            state = if (state < 7) 8 else 11
          }
        }
      }
      // the chunk must consume its packed bytes exactly, with the
      // range coder drained (liblzma's sized-chunk contract)
      if (inPos != inEnd) fail()
      if (code != 0) fail()
    }
  }
}
