package graft.functions

/** bzip2 decompression as a scan-side expression — the Wikipedia-dump
  * mile (every `*-pages-articles.xml.bz2` drop, plus plenty of academic
  * corpus archives). Full from-spec decode of the public format:
  * MSB-first bitstream, per-block Huffman groups with delta-coded
  * lengths and unary-MTF selectors every 50 symbols, RUN-A/RUN-B
  * bijective base-2 zero runs, move-to-front over the used-byte map,
  * counting-sort inverse Burrows–Wheeler at `origPtr`, RLE1
  * (4-equal-bytes + count) expansion, and both CRC layers (the
  * non-reflected CRC-32 the format uses, table derived from the
  * 0x04c11db7 polynomial). Concatenated streams decode in sequence —
  * the multi-stream layout parallel dump tools emit.
  *
  * Whole-or-refuse (null, never partial output): bad magics, the
  * deprecated `randomized` flag, out-of-range origPtr / code lengths /
  * selector indices, over-long Huffman walks, either CRC mismatching,
  * truncation, trailing garbage, or output past [[MaxOutputBytes]]
  * (the [[Gzip.MaxInflatedBytes]] decompression-bomb posture).
  *
  * Fixtures are committed from the INDEPENDENT python stdlib
  * compressor (tools/gen_bz2_fixtures.py) with exact payload md5
  * sidecars — the decoder must reproduce the compressor's input
  * bit-for-bit.
  */
object Bzip2 {

  val MaxOutputBytes: Int = 64 << 20

  /** CRC-32/BZIP2: poly 0x04c11db7, MSB-first, init/final 0xffffffff. */
  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 24
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04c11db7 else c << 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  import Bytes.{Corrupt, fail}

  /** `bzip2_decompress(binary)` → concatenated decompressed payload of
    * every bzip2 stream in the blob, or null.
    *
    * Decompress every concatenated bzip2 stream, or null. */
  def decompressAll(b: Array[Byte]): Array[Byte] =
    try decompressOrFail(b)
    catch {
      case Corrupt | _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => null
    }

  private val BlockMagic = 0x314159265359L
  private val FooterMagic = 0x177245385090L

  private def decompressOrFail(b: Array[Byte]): Array[Byte] = {
    if (b == null) return null
    if (b.length == 0) fail()
    val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 16))
    val r = new Bytes.MsbBits(b, 0, b.length)
    while (!r.atEnd) {
      // stream header (byte-aligned): 'BZh' + level
      if (r.bits(8) != 'B' || r.bits(8) != 'Z' || r.bits(8) != 'h') fail()
      val level = r.bits(8) - '0'
      if (level < 1 || level > 9) fail()
      val blockCap = level * 100000
      var streamCrc = 0
      var footer = false
      while (!footer) {
        val magic = r.bitsLong(48)
        if (magic == BlockMagic) {
          val blockCrc = decodeBlock(r, blockCap, out)
          streamCrc = ((streamCrc << 1) | (streamCrc >>> 31)) ^ blockCrc
        } else if (magic == FooterMagic) {
          if (r.bits(32) != streamCrc) fail()
          r.alignByte()
          footer = true
        } else fail()
      }
    }
    out.toByteArray
  }

  /** One block: entropy stream → BWT string → inverse BWT → RLE1 into
    * `out`. Returns the computed block CRC (also checked here).
    */
  private def decodeBlock(r: Bytes.MsbBits, blockCap: Int,
                          out: java.io.ByteArrayOutputStream): Int = {
    val wantCrc = r.bits(32)
    if (r.bit() != 0) fail() // deprecated `randomized` blocks: refuse
    val origPtr = r.bits(24)

    // used-byte map: 16 group bits, then 16 bits per present group
    val used16 = r.bits(16)
    val inUse = new Array[Boolean](256)
    var g = 0
    while (g < 16) {
      if ((used16 & (0x8000 >>> g)) != 0) {
        val m = r.bits(16)
        var j = 0
        while (j < 16) {
          if ((m & (0x8000 >>> j)) != 0) inUse(g * 16 + j) = true
          j += 1
        }
      }
      g += 1
    }
    val seqToUnseq = (0 until 256).filter(inUse(_)).toArray
    val nInUse = seqToUnseq.length
    if (nInUse == 0) fail()
    val alphaSize = nInUse + 2

    val nGroups = r.bits(3)
    if (nGroups < 2 || nGroups > 6) fail()
    val nSelectors = r.bits(15)
    if (nSelectors < 1) fail()
    // selectors: unary index into the MTF'd group list
    val selectors = new Array[Int](nSelectors)
    val gMtf = Array.tabulate(nGroups)(identity)
    var i = 0
    while (i < nSelectors) {
      var j = 0
      while (r.bit() == 1) { j += 1; if (j >= nGroups) fail() }
      val v = gMtf(j)
      while (j > 0) { gMtf(j) = gMtf(j - 1); j -= 1 }
      gMtf(0) = v
      selectors(i) = v
      i += 1
    }

    // delta-coded code lengths, then canonical tables per group
    // (codes assigned per ascending length in symbol order — the
    // format's hbAssignCodes order, i.e. plain canonical)
    val lens = Array.ofDim[Int](nGroups, alphaSize)
    g = 0
    while (g < nGroups) {
      var c = r.bits(5)
      var s = 0
      while (s < alphaSize) {
        var cont = true
        while (cont) {
          if (c < 1 || c > 20) fail()
          if (r.bit() == 0) cont = false
          else if (r.bit() == 0) c += 1
          else c -= 1
        }
        lens(g)(s) = c
        s += 1
      }
      g += 1
    }
    val firstCode = Array.ofDim[Int](nGroups, 21)
    val firstIdx = Array.ofDim[Int](nGroups, 21)
    val countLen = Array.ofDim[Int](nGroups, 21)
    val perm = Array.ofDim[Int](nGroups, alphaSize)
    g = 0
    while (g < nGroups) {
      var pp = 0
      var l = 1
      while (l <= 20) {
        firstIdx(g)(l) = pp
        var s = 0
        while (s < alphaSize) {
          if (lens(g)(s) == l) { perm(g)(pp) = s; pp += 1 }
          s += 1
        }
        countLen(g)(l) = pp - firstIdx(g)(l)
        l += 1
      }
      var code = 0
      l = 1
      while (l <= 20) {
        firstCode(g)(l) = code
        code = (code + countLen(g)(l)) << 1
        l += 1
      }
      g += 1
    }

    def readSym(g: Int): Int = {
      var l = 0
      var v = 0
      while (l < 20) {
        v = (v << 1) | r.bit()
        l += 1
        if (countLen(g)(l) > 0 && v >= firstCode(g)(l) &&
          v < firstCode(g)(l) + countLen(g)(l))
          return perm(g)(firstIdx(g)(l) + v - firstCode(g)(l))
      }
      fail()
    }

    // MTF + RLE2 → BWT string
    val bwt = new Array[Byte](blockCap)
    var nblock = 0
    val mtf = seqToUnseq.clone()
    var symCount = 0
    var selIdx = -1
    def nextSym(): Int = {
      if (symCount == 0) {
        selIdx += 1
        if (selIdx >= nSelectors) fail()
        symCount = 50
      }
      symCount -= 1
      readSym(selectors(selIdx))
    }
    val eob = alphaSize - 1
    var sym = nextSym()
    while (sym != eob) {
      if (sym <= 1) {
        // RUN-A / RUN-B: bijective base-2 run of mtf(0)
        var run = 0L
        var k = 0
        while (sym <= 1) {
          run += (sym + 1).toLong << k
          k += 1
          if (k > 40) fail()
          sym = nextSym()
        }
        if (nblock + run > blockCap) fail()
        val byte = mtf(0).toByte
        var n = 0L
        while (n < run) { bwt(nblock) = byte; nblock += 1; n += 1 }
      } else {
        val m = sym - 1
        if (m >= mtf.length) fail()
        val v = mtf(m)
        var j = m
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
        if (nblock >= blockCap) fail()
        bwt(nblock) = v.toByte
        nblock += 1
        sym = nextSym()
      }
    }
    if (nblock == 0 || origPtr >= nblock) fail()

    // inverse BWT: counting sort into the successor vector, then walk
    val cftab = new Array[Int](257)
    i = 0
    while (i < nblock) { cftab((bwt(i) & 0xff) + 1) += 1; i += 1 }
    i = 1
    while (i <= 256) { cftab(i) += cftab(i - 1); i += 1 }
    val tt = new Array[Int](nblock)
    i = 0
    while (i < nblock) {
      val c = bwt(i) & 0xff
      tt(cftab(c)) = i
      cftab(c) += 1
      i += 1
    }

    // walk + RLE1 expansion + CRC
    var crc = 0xffffffff
    def emit(byte: Int): Unit = {
      if (out.size() >= MaxOutputBytes) fail()
      out.write(byte)
      crc = (crc << 8) ^ CrcTable(((crc >>> 24) ^ byte) & 0xff)
    }
    var p = tt(origPtr)
    var emitted = 0
    var runByte = -1
    var runLen = 0
    while (emitted < nblock) {
      val byte = bwt(p) & 0xff
      p = tt(p)
      emitted += 1
      if (runLen == 4) {
        // this byte is the RLE1 count of EXTRA copies of runByte
        var n = 0
        while (n < byte) { emit(runByte); n += 1 }
        runLen = 0
        runByte = -1
      } else {
        if (byte == runByte) runLen += 1
        else { runByte = byte; runLen = 1 }
        emit(byte)
      }
    }
    if (runLen == 4) fail() // block ended owing its RLE1 count byte
    val got = ~crc
    if (got != wantCrc) fail()
    got
  }
}
