package graft.functions

/** Zstandard frame codec as scan-side expressions — the OTHER
  * compression layer of real web-crawl inputs, written FROM SPEC
  * (RFC 8878: frame/block framing, FSE a.k.a. tANS entropy tables,
  * canonical Huffman literals with FSE-compressed weights, the
  * three-slot repeat-offset history, XXH64 content checksums). Newer
  * Common Crawl dumps ship zstd-compressed segments; round 9 could only
  * DETECT them (`codec_probe`, [[Gzip.probe]]) and quarantine — this closes the
  * engine's crawl first mile for the format.
  *
  * Decode posture mirrors [[Gzip.inflateAll]]: whole-or-refuse — null
  * (never a partial buffer, never garbage) on bad magic, reserved
  * bits/block types, malformed entropy tables, bitstreams not exactly
  * consumed, offsets past the decoded window, frame-content-size or
  * XXH64 checksum mismatch, a dictionary frame WITHOUT its dictionary
  * (or with the wrong one — [[decompressAllDict]] carries trained and
  * raw-content dictionaries per RFC 8878 §5: entropy-table preload,
  * starting repeat offsets, and the content as a virtual window
  * prefix), window sizes or outputs past the shared
  * decompression-bomb ceiling.
  *
  * Encode side ([[Zstd.compressRaw]]) emits deterministic RAW-block
  * frames (spec-valid, byte-stable across JVMs) — enough for the
  * round-trip oracle gates; real compression stays the job of real
  * encoders, whose output this decoder certifies against committed
  * CLI-built fixtures (tools/gen_zstd_fixtures.py).
  *
  * Scale shape: identical to the gzip seam — per-blob static calls,
  * codegen-friendly, no shuffle, any crawl file decodable without its
  * neighbours.
  */
object Zstd {

  /** Shared bomb ceiling with the gzip path. */
  val MaxDecodedBytes: Int = Gzip.MaxInflatedBytes

  /** Refuse frames demanding a window larger than this (a 100 TB ingest
    * must bound per-task memory by configuration, not by the input).
    */
  val MaxWindowBytes: Long = Gzip.MaxInflatedBytes.toLong

  /** `decompress_any(binary)` → payload via whichever of the two crawl
    * codecs the magic declares, or null (unknown codec / malformed).
    *
    * Codec-routing decompression for the crawl read path: gzip magic →
    * [[Gzip.inflateAll]], zstd frame/skippable magic →
    * [[decompressAll]], empty → empty (a zero-record file), anything
    * else → null. One blob, one codec — mixed-codec FILES don't exist
    * in real crawl stores; mixed-codec DIRECTORIES do, which is exactly
    * what this absorbs (gzip and zstd segments through one seam).
    */
  def decompressAny(b: Array[Byte]): Array[Byte] = {
    if (b.length == 0) return b
    if (b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b)
      return Gzip.inflateAll(b)
    if (b.length >= 4 && (b(0) & 0xff) == 0x28 && (b(1) & 0xff) == 0xb5 &&
      (b(2) & 0xff) == 0x2f && (b(3) & 0xff) == 0xfd) return decompressAll(b)
    if (b.length >= 4 && (b(0) & 0xf0) == 0x50 && (b(1) & 0xff) == 0x2a &&
      (b(2) & 0xff) == 0x4d && (b(3) & 0xff) == 0x18) return decompressAll(b)
    null
  }

  // ---------------------------------------------------------------- corrupt
  // whole-or-refuse: any malformation lands here and surfaces as null
  import Bytes.{Corrupt, fail}

  // ---------------------------------------------------------------- xxh64
  private val P1 = 0x9E3779B185EBCA87L
  private val P2 = 0xC2B2AE3D27D4EB4FL
  private val P3 = 0x165667B19E3779F9L
  private val P4 = 0x85EBCA77C2B2AE63L
  private val P5 = 0x27D4EB2F165667C5L

  /** XXH64 with seed 0 over `a[off, off+len)` — the frame content
    * checksum hash (public xxHash spec; low 32 bits go on the wire).
    */
  def xxh64(a: Array[Byte], off: Int, len: Int): Long = {
    var p = off
    val end = off + len
    var acc =
      if (len >= 32) {
        var a1 = P1 + P2; var a2 = P2; var a3 = 0L; var a4 = -P1
        while (p + 32 <= end) {
          a1 = java.lang.Long.rotateLeft(a1 + Bytes.le64(a, p) * P2, 31) * P1
          a2 = java.lang.Long.rotateLeft(a2 + Bytes.le64(a, p + 8) * P2, 31) * P1
          a3 = java.lang.Long.rotateLeft(a3 + Bytes.le64(a, p + 16) * P2, 31) * P1
          a4 = java.lang.Long.rotateLeft(a4 + Bytes.le64(a, p + 24) * P2, 31) * P1
          p += 32
        }
        var h = java.lang.Long.rotateLeft(a1, 1) + java.lang.Long.rotateLeft(a2, 7) +
          java.lang.Long.rotateLeft(a3, 12) + java.lang.Long.rotateLeft(a4, 18)
        h = (h ^ (java.lang.Long.rotateLeft(a1 * P2, 31) * P1)) * P1 + P4
        h = (h ^ (java.lang.Long.rotateLeft(a2 * P2, 31) * P1)) * P1 + P4
        h = (h ^ (java.lang.Long.rotateLeft(a3 * P2, 31) * P1)) * P1 + P4
        h = (h ^ (java.lang.Long.rotateLeft(a4 * P2, 31) * P1)) * P1 + P4
        h
      } else P5
    acc += len.toLong
    while (p + 8 <= end) {
      acc ^= java.lang.Long.rotateLeft(Bytes.le64(a, p) * P2, 31) * P1
      acc = java.lang.Long.rotateLeft(acc, 27) * P1 + P4
      p += 8
    }
    if (p + 4 <= end) {
      acc ^= Bytes.le32(a, p) * P1
      acc = java.lang.Long.rotateLeft(acc, 23) * P2 + P3
      p += 4
    }
    while (p < end) {
      acc ^= (a(p) & 0xffL) * P5
      acc = java.lang.Long.rotateLeft(acc, 11) * P1
      p += 1
    }
    acc ^= acc >>> 33; acc *= P2
    acc ^= acc >>> 29; acc *= P3
    acc ^= acc >>> 32
    acc
  }

  // ------------------------------------------------------------ bit readers

  /** The backward bitstream (RFC 8878 §4.1 bitstream convention): the
    * last byte's highest set bit is a sentinel; `pos` counts bits below
    * it, numbering byte0-bit0 as position 0. Reads take the `n` bits
    * just below `pos`, first-read bit most significant — exactly the
    * reference decoders' look-at-top-of-container semantics. Reads past
    * the start zero-fill and drive `pos` negative; callers enforce the
    * spec's exact-consumption rules on `pos`.
    */
  private final class BackBits(b: Array[Byte], start: Int, end: Int) {
    if (end <= start) fail()
    private val last = b(end - 1) & 0xff
    if (last == 0) fail()
    var pos: Int = (end - 1 - start) * 8 + (31 - Integer.numberOfLeadingZeros(last))

    def peek(n: Int): Int = {
      var acc = 0
      var i = pos - 1
      val stop = pos - n
      while (i >= stop) {
        val bit = if (i < 0) 0 else (b(start + (i >> 3)) >> (i & 7)) & 1
        acc = (acc << 1) | bit
        i -= 1
      }
      acc
    }
    def read(n: Int): Int = { val v = peek(n); pos -= n; v }
  }

  // ------------------------------------------------------------------- FSE

  /** An FSE decode table: per-state symbol, bit count, and state base. */
  private final class FseTable(val symbol: Array[Int], val nbBits: Array[Int],
      val newState: Array[Int], val accLog: Int)

  /** Single-state table for RLE mode — a degenerate FSE table so the
    * sequence decoder has one shape for all four modes.
    */
  private def rleTable(sym: Int): FseTable =
    new FseTable(Array(sym), Array(0), Array(0), 0)

  /** Build the decode table from normalized counts (RFC 8878 §4.1.1):
    * "less than 1" (-1) symbols at the high end, the (size/2 + size/8
    * + 3) spread for the rest, then per-state nbBits/baseline.
    */
  private def buildFse(counts: Array[Int], accLog: Int): FseTable = {
    val size = 1 << accLog
    val sym = new Array[Int](size)
    var high = size - 1
    var s = 0
    while (s < counts.length) {
      if (counts(s) == -1) { sym(high) = s; high -= 1 }
      s += 1
    }
    val step = (size >> 1) + (size >> 3) + 3
    val mask = size - 1
    var pos = 0
    s = 0
    while (s < counts.length) {
      var i = 0
      while (i < counts(s)) {
        sym(pos) = s
        pos = (pos + step) & mask
        while (pos > high) pos = (pos + step) & mask
        i += 1
      }
      s += 1
    }
    if (pos != 0) fail()
    val nextOf = new Array[Int](counts.length)
    s = 0
    while (s < counts.length) {
      nextOf(s) = if (counts(s) == -1) 1 else counts(s)
      s += 1
    }
    val nb = new Array[Int](size)
    val ns = new Array[Int](size)
    var u = 0
    while (u < size) {
      val sy = sym(u)
      val nextState = nextOf(sy); nextOf(sy) += 1
      if (nextState <= 0) fail()
      val b = accLog - (31 - Integer.numberOfLeadingZeros(nextState))
      nb(u) = b
      ns(u) = (nextState << b) - size
      u += 1
    }
    new FseTable(sym, nb, ns, accLog)
  }

  /** Parse an FSE table description (forward bitstream, RFC 8878 §4.1.1
    * distribution format with the low-count optimization and 2-bit
    * zero-run flags); returns the table and the bytes consumed.
    */
  private def readFseTable(b: Array[Byte], start: Int, limit: Int,
      maxSymbol: Int, maxAccLog: Int): (FseTable, Int) = {
    val br = new Bytes.LsbBits(b, start, limit)
    val accLog = br.bits(4) + 5
    if (accLog > maxAccLog) fail()
    val size = 1 << accLog
    var remaining = size + 1
    var threshold = size
    var nbBits = accLog + 1
    val counts = new Array[Int](maxSymbol + 1)
    var charnum = 0
    var previous0 = false
    while (remaining > 1) {
      if (charnum > maxSymbol) fail()
      if (previous0) {
        var rep = br.bits(2)
        while (rep == 3) {
          charnum += 3
          if (charnum > maxSymbol + 1) fail()
          rep = br.bits(2)
        }
        charnum += rep
        if (charnum > maxSymbol) fail()
        previous0 = false
      }
      val max = (2 * threshold - 1) - remaining
      val peeked = br.bits(nbBits - 1)
      var count =
        if ((peeked & (threshold - 1)) < max) peeked & (threshold - 1)
        else {
          val full = peeked | (br.bits(1) << (nbBits - 1))
          if (full >= threshold) full - max else full
        }
      count -= 1 // value 0 encodes the "less than 1" probability (-1)
      remaining -= (if (count < 0) -count else count)
      counts(charnum) = count
      charnum += 1
      previous0 = count == 0
      while (remaining > 1 && remaining < threshold) {
        nbBits -= 1
        threshold >>= 1
      }
    }
    if (remaining != 1) fail()
    (buildFse(counts, accLog), br.bytesConsumed)
  }

  // predefined sequence-code distributions (RFC 8878 §3.1.1.3.2.2)
  private val LLDefault = buildFse(Array(
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
    2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
    -1, -1, -1, -1), 6)
  private val MLDefault = buildFse(Array(
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    -1, -1, -1, -1, -1, -1, -1), 6)
  private val OFDefault = buildFse(Array(
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1), 5)

  // literals-length / match-length code baselines and extra bits
  private val LLBase = Array(
    0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024,
    2048, 4096, 8192, 16384, 32768, 65536)
  private val LLBits = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private val MLBase = Array(
    3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18,
    19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34,
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027,
    2051, 4099, 8195, 16387, 32771, 65539)
  private val MLBits = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  // --------------------------------------------------------------- huffman

  /** A canonical Huffman decode table (huff0 shape): indexed by the next
    * `tableLog` bits (MSB-first from the backward stream), each entry
    * giving the symbol and the bits actually consumed.
    */
  private final class HufTable(val symbol: Array[Int], val nbBits: Array[Int],
      val tableLog: Int)

  /** Weights → table: sum 2^(w-1), deduce the final symbol's weight from
    * the power-of-two completion, fill 2^(w-1)-entry runs weight-
    * ascending in natural symbol order (RFC 8878 §4.2.1).
    */
  private def buildHuf(weights: Array[Int]): HufTable = {
    var sum = 0L
    var i = 0
    while (i < weights.length) {
      if (weights(i) > 11) fail()
      if (weights(i) > 0) sum += 1L << (weights(i) - 1)
      i += 1
    }
    if (sum == 0) fail()
    val tableLog = 64 - java.lang.Long.numberOfLeadingZeros(sum) // highbit+1
    if (tableLog > 11) fail()
    val total = 1L << tableLog
    val rest = total - sum
    // rest must itself be a power of two — it is the last weight's share
    if (rest <= 0 || (rest & (rest - 1)) != 0) fail()
    val lastW = (63 - java.lang.Long.numberOfLeadingZeros(rest)).toInt + 1
    val all = weights :+ lastW
    val size = 1 << tableLog
    val sym = new Array[Int](size)
    val nb = new Array[Int](size)
    var posn = 0
    var w = 1
    while (w <= tableLog) {
      var s2 = 0
      while (s2 < all.length) {
        if (all(s2) == w) {
          val run = 1 << (w - 1)
          val bits = tableLog + 1 - w
          var k = 0
          while (k < run) { sym(posn) = s2; nb(posn) = bits; posn += 1; k += 1 }
        }
        s2 += 1
      }
      w += 1
    }
    if (posn != size) fail()
    new HufTable(sym, nb, tableLog)
  }

  /** Parse a Huffman tree description at `p`: direct 4-bit weights when
    * the header byte is ≥ 128, else an FSE-compressed weight stream of
    * `header` bytes decoded with two alternating states (RFC 8878
    * §4.2.1.2). Returns the table and total bytes consumed.
    */
  private def readHufTable(b: Array[Byte], p: Int, limit: Int): (HufTable, Int) = {
    if (p >= limit) fail()
    val header = b(p) & 0xff
    if (header >= 128) {
      val numWeights = header - 127
      val nBytes = (numWeights + 1) / 2
      if (p + 1 + nBytes > limit) fail()
      val ws = new Array[Int](numWeights)
      var i = 0
      while (i < numWeights) {
        val byte = b(p + 1 + (i >> 1)) & 0xff
        ws(i) = if ((i & 1) == 0) byte >> 4 else byte & 0x0f
        i += 1
      }
      (buildHuf(ws), 1 + nBytes)
    } else {
      val compSize = header
      if (p + 1 + compSize > limit) fail()
      val (tab, descBytes) = readFseTable(b, p + 1, p + 1 + compSize, 15, 6)
      val br = new BackBits(b, p + 1 + descBytes, p + 1 + compSize)
      var s1 = br.read(tab.accLog)
      var s2 = br.read(tab.accLog)
      if (br.pos < 0) fail()
      val ws = new java.util.ArrayList[Integer](64)
      var done = false
      while (!done) {
        if (ws.size > 300) fail() // runaway guard; real cap re-checked below
        ws.add(tab.symbol(s1))
        s1 = tab.newState(s1) + br.read(tab.nbBits(s1))
        if (br.pos < 0) { ws.add(tab.symbol(s2)); done = true }
        else {
          ws.add(tab.symbol(s2))
          s2 = tab.newState(s2) + br.read(tab.nbBits(s2))
          if (br.pos < 0) { ws.add(tab.symbol(s1)); done = true }
        }
      }
      if (ws.size > 255) fail() // ≤255 listed weights (last symbol deduced)
      val arr = new Array[Int](ws.size)
      var i = 0
      while (i < arr.length) { arr(i) = ws.get(i); i += 1 }
      (buildHuf(arr), 1 + compSize)
    }
  }

  /** Decode exactly `n` literals from one backward Huffman stream; the
    * stream must be consumed to the bit (RFC: a stream with leftover
    * bits is corrupt).
    */
  private def hufStream(b: Array[Byte], start: Int, end: Int, tab: HufTable,
      n: Int, out: Array[Byte], outOff: Int): Unit = {
    val br = new BackBits(b, start, end)
    var i = 0
    while (i < n) {
      val idx = br.peek(tab.tableLog)
      val bits = tab.nbBits(idx)
      if (bits > br.pos) fail()
      br.pos -= bits
      out(outOff + i) = tab.symbol(idx).toByte
      i += 1
    }
    if (br.pos != 0) fail()
  }

  // ------------------------------------------------------------- the frame

  /** Growable output with the bomb ceiling enforced on every extension. */
  private final class Out(cap0: Int) {
    var a = new Array[Byte](math.max(cap0, 64))
    var len = 0
    def ensure(extra: Int): Unit = {
      if (extra < 0 || len.toLong + extra > MaxDecodedBytes) fail()
      if (len + extra > a.length) {
        val n = math.max(a.length * 2L, (len + extra).toLong)
        a = java.util.Arrays.copyOf(a, math.min(n, MaxDecodedBytes.toLong + 64).toInt)
      }
    }
  }

  /** `zunstd_all(binary)` → concatenated content of every zstd frame, or
    * null on any malformation (the [[Gzip.inflateAll]] whole-or-refuse
    * posture for RFC 8878 streams).
    *
    * Decode every frame (regular or skippable) of `blob`, returning the
    * concatenated content or null on ANY malformation.
    */
  def decompressAll(blob: Array[Byte]): Array[Byte] =
    decompressFrames(blob, null)

  /** `zunstd_dict(binary, binary)` → dictionary-assisted decode of every
    * frame, or null (wrong/missing dictionary, any malformation).
    *
    * [[decompressAll]] with a dictionary (RFC 8878 §5): magic-framed
    * trained dictionaries carry an ID, entropy tables (Huffman + the
    * OF/ML/LL FSE trio) and starting repeat offsets; anything without
    * the magic is a raw-content dictionary. Frames whose
    * Dictionary_ID disagrees with a trained dictionary refuse.
    */
  def decompressAllDict(blob: Array[Byte], dict: Array[Byte]): Array[Byte] =
    try decompressFrames(blob, parseDict(dict))
    catch {
      case Corrupt => null
      case _: ArrayIndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
    }

  private def decompressFrames(blob: Array[Byte], dict: ZDict): Array[Byte] = {
    try {
      val out = new Out(math.min(math.max(blob.length, 16) * 4, 1 << 20))
      var p = 0
      val in = new Bytes.Window(blob)
      while (p < blob.length) {
        val magic = in.le32(p)
        if (magic == 0xFD2FB528L) p = decodeFrame(blob, p + 4, out, dict)
        else if ((magic & 0xFFFFFFF0L) == 0x184D2A50L) {
          val sz = in.le32(p + 4)
          if (p + 8 + sz > blob.length) fail()
          p = p + 8 + sz.toInt
        } else fail()
      }
      java.util.Arrays.copyOf(out.a, out.len)
    } catch {
      case Corrupt => null
      case _: ArrayIndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
    }
  }

  /** Parsed dictionary: trained (entropy + reps + id) or raw content. */
  private final class ZDict(val id: Long, val content: Array[Byte],
      val huf: HufTable, val ll: FseTable, val of: FseTable,
      val ml: FseTable, val rep1: Long, val rep2: Long, val rep3: Long)

  private def parseDict(d: Array[Byte]): ZDict = {
    if (d == null || d.length == 0) fail()
    val in = new Bytes.Window(d)
    if (d.length < 8 || in.le32(0) != 0xEC30A437L)
      return new ZDict(0L, d, null, null, null, null, 1L, 4L, 8L)
    val id = in.le32(4)
    var p = 8
    val (huf, hufUsed) = readHufTable(d, p, d.length)
    p += hufUsed
    // entropy trio in dictionary order: offsets, match lengths,
    // literals lengths (RFC 8878 §5)
    val (of, ofUsed) = readFseTable(d, p, d.length, 31, 8); p += ofUsed
    val (ml, mlUsed) = readFseTable(d, p, d.length, 52, 9); p += mlUsed
    val (ll, llUsed) = readFseTable(d, p, d.length, 35, 9); p += llUsed
    val r1 = in.le32(p); val r2 = in.le32(p + 4); val r3 = in.le32(p + 8)
    p += 12
    if (r1 <= 0 || r2 <= 0 || r3 <= 0) fail()
    val content = java.util.Arrays.copyOfRange(d, p, d.length)
    if (r1 > content.length || r2 > content.length ||
      r3 > content.length) fail()
    new ZDict(id, content, huf, ll, of, ml, r1, r2, r3)
  }

  private def decodeFrame(blob: Array[Byte], start: Int, out: Out,
      dict: ZDict): Int = {
    var p = start
    val in = new Bytes.Window(blob)
    val fhd = in.u8(p); p += 1
    val fcsFlag = fhd >> 6
    val singleSeg = ((fhd >> 5) & 1) == 1
    if (((fhd >> 3) & 1) != 0) fail() // reserved bit
    val checksumFlag = ((fhd >> 2) & 1) == 1
    val dictFlag = fhd & 3
    var windowSize = 0L
    if (!singleSeg) {
      val wd = in.u8(p); p += 1
      val base = 1L << (10 + (wd >> 3))
      windowSize = base + (base >> 3) * (wd & 7)
    }
    val dictBytes = dictFlag match {
      case 0 => 0; case 1 => 1; case 2 => 2; case _ => 4
    }
    val did = if (dictBytes > 0) in.le(p, dictBytes) else 0L
    p += dictBytes
    if (dict == null) {
      if (did != 0L) fail() // dictionary frame without a dictionary
    } else if (dict.id != 0L && did != 0L && did != dict.id)
      fail() // wrong dictionary for this frame
    var fcs = -1L
    fcsFlag match {
      case 0 => if (singleSeg) { fcs = in.u8(p); p += 1 }
      case 1 => fcs = in.le(p, 2) + 256; p += 2
      case 2 => fcs = in.le(p, 4); p += 4
      case _ => fcs = in.le(p, 8); p += 8
    }
    if (singleSeg) windowSize = fcs
    if (windowSize > MaxWindowBytes || fcs > MaxDecodedBytes.toLong) fail()
    val blockMax = math.min(windowSize, 1L << 17).toInt
    val frameStart = out.len
    val st = new FrameState
    if (dict != null) {
      st.huf = dict.huf; st.ll = dict.ll; st.of = dict.of; st.ml = dict.ml
      st.rep1 = dict.rep1; st.rep2 = dict.rep2; st.rep3 = dict.rep3
      st.dictContent = dict.content
    }
    var last = false
    while (!last) {
      if (p + 3 > blob.length) fail()
      val bh = in.le(p, 3).toInt
      p += 3
      last = (bh & 1) == 1
      val btype = (bh >> 1) & 3
      val bsize = bh >> 3
      btype match {
        case 0 => // raw
          if (bsize > blockMax || p + bsize > blob.length) fail()
          out.ensure(bsize)
          System.arraycopy(blob, p, out.a, out.len, bsize)
          out.len += bsize
          p += bsize
        case 1 => // RLE
          if (bsize > blockMax) fail()
          val v = in.u8(p); p += 1
          out.ensure(bsize)
          java.util.Arrays.fill(out.a, out.len, out.len + bsize, v.toByte)
          out.len += bsize
        case 2 => // compressed
          if (bsize > blockMax || p + bsize > blob.length) fail()
          val before = out.len
          decodeCompressedBlock(blob, p, p + bsize, out, st, frameStart)
          if (out.len - before > blockMax) fail()
          p += bsize
        case _ => fail() // reserved
      }
    }
    if (fcs >= 0 && out.len - frameStart != fcs) fail()
    if (checksumFlag) {
      val expect = in.le(p, 4); p += 4
      val got = xxh64(out.a, frameStart, out.len - frameStart) & 0xffffffffL
      if (got != expect) fail()
    }
    p
  }

  /** Cross-block entropy state within one frame: the last Huffman table
    * (for Treeless literals), the last LL/OF/ML tables (for Repeat
    * mode), and the three-slot repeat-offset history.
    */
  private final class FrameState {
    var huf: HufTable = null
    var ll: FseTable = null
    var of: FseTable = null
    var ml: FseTable = null
    var rep1 = 1L; var rep2 = 4L; var rep3 = 8L
    /** Dictionary content virtually prefixing the frame window. */
    var dictContent: Array[Byte] = null
  }

  private def decodeCompressedBlock(b: Array[Byte], start: Int, end: Int,
      out: Out, st: FrameState, frameStart: Int): Unit = {
    var p = start
    val in = new Bytes.Window(b, 0, end)

    // ---- literals section
    val h0 = in.u8(p)
    val litType = h0 & 3
    val sizeFmt = (h0 >> 2) & 3
    var litBuf: Array[Byte] = null
    var litSize = 0
    litType match {
      case 0 | 1 => // raw / RLE
        val regSize = sizeFmt match {
          case 1 => val v = h0 >> 4 | (in.u8(p + 1) << 4); p += 2; v
          case 3 => val v = h0 >> 4 | (in.u8(p + 1) << 4) | (in.u8(p + 2) << 12); p += 3; v
          case _ => val v = h0 >> 3; p += 1; v
        }
        if (regSize > (1 << 17)) fail()
        litSize = regSize
        litBuf = new Array[Byte](regSize)
        if (litType == 0) {
          if (p + regSize > end) fail()
          System.arraycopy(b, p, litBuf, 0, regSize)
          p += regSize
        } else {
          val v = in.u8(p); p += 1
          java.util.Arrays.fill(litBuf, v.toByte)
        }
      case _ => // compressed / treeless
        var regSize = 0
        var compSize = 0
        var fourStreams = true
        sizeFmt match {
          case 0 =>
            fourStreams = false
            val v = in.le(p, 3).toInt
            regSize = (v >> 4) & 0x3ff; compSize = (v >> 14) & 0x3ff; p += 3
          case 1 =>
            val v = in.le(p, 3).toInt
            regSize = (v >> 4) & 0x3ff; compSize = (v >> 14) & 0x3ff; p += 3
          case 2 =>
            val v = in.le(p, 4)
            regSize = ((v >> 4) & 0x3fff).toInt
            compSize = ((v >> 18) & 0x3fff).toInt; p += 4
          case _ =>
            val v = in.le(p, 5)
            regSize = ((v >> 4) & 0x3ffff).toInt
            compSize = ((v >> 22) & 0x3ffff).toInt; p += 5
        }
        if (regSize > (1 << 17) || p + compSize > end) fail()
        val streamsEnd = p + compSize
        if (litType == 2) {
          val (tab, used) = readHufTable(b, p, streamsEnd)
          st.huf = tab
          p += used
        } else if (st.huf == null) fail() // treeless with no prior table
        val tab = st.huf
        litSize = regSize
        litBuf = new Array[Byte](regSize)
        if (!fourStreams) {
          hufStream(b, p, streamsEnd, tab, regSize, litBuf, 0)
        } else {
          if (streamsEnd - p < 6) fail()
          val s1 = in.le16(p).toInt
          val s2 = in.le16(p + 2).toInt
          val s3 = in.le16(p + 4).toInt
          val q0 = p + 6
          val s4 = streamsEnd - q0 - s1 - s2 - s3
          if (s4 <= 0) fail()
          val per = (regSize + 3) / 4
          val lastN = regSize - 3 * per
          if (lastN < 0) fail()
          hufStream(b, q0, q0 + s1, tab, per, litBuf, 0)
          hufStream(b, q0 + s1, q0 + s1 + s2, tab, per, litBuf, per)
          hufStream(b, q0 + s1 + s2, q0 + s1 + s2 + s3, tab, per, litBuf, 2 * per)
          hufStream(b, q0 + s1 + s2 + s3, streamsEnd, tab, lastN, litBuf, 3 * per)
        }
        p = streamsEnd
    }

    // ---- sequences section
    val s0 = in.u8(p); p += 1
    var numSeq = 0
    if (s0 == 0) {
      if (p != end) fail()
      out.ensure(litSize)
      System.arraycopy(litBuf, 0, out.a, out.len, litSize)
      out.len += litSize
      return
    } else if (s0 < 128) numSeq = s0
    else if (s0 < 255) { numSeq = ((s0 - 128) << 8) | in.u8(p); p += 1 }
    // RFC 8878 §3.1.1.3.2.1: byte0==255 → numSeq = byte1 + (byte2<<8) +
    // 0x7F00 — ADD, not OR: byte2's high bits overlap 0x7F00, so OR would
    // lose the carry for any count in [0x8000, 0xFF00).
    else { numSeq = in.le16(p).toInt + 0x7f00; p += 2 }

    val modes = in.u8(p); p += 1
    if ((modes & 3) != 0) fail() // reserved bits
    def pick(mode: Int, prev: FseTable, dflt: FseTable, maxSym: Int,
        maxAL: Int): FseTable = mode match {
      case 0 => dflt
      case 1 =>
        val sym = in.u8(p); p += 1
        if (sym > maxSym) fail()
        rleTable(sym)
      case 2 =>
        val (tab, used) = readFseTable(b, p, end, maxSym, maxAL)
        p += used
        tab
      case _ => if (prev == null) fail() else prev
    }
    val llT = pick((modes >> 6) & 3, st.ll, LLDefault, 35, 9); st.ll = llT
    val ofT = pick((modes >> 4) & 3, st.of, OFDefault, 31, 8); st.of = ofT
    val mlT = pick((modes >> 2) & 3, st.ml, MLDefault, 52, 9); st.ml = mlT

    val br = new BackBits(b, p, end)
    var llS = br.read(llT.accLog)
    var ofS = br.read(ofT.accLog)
    var mlS = br.read(mlT.accLog)
    if (br.pos < 0) fail()
    var litPos = 0
    var i = 0
    while (i < numSeq) {
      val ofCode = ofT.symbol(ofS)
      if (ofCode > 31) fail()
      val ofValue = (1L << ofCode) + (
        if (ofCode > 0) {
          // long extra-bit reads split to stay in Int range per read
          if (ofCode <= 24) br.read(ofCode).toLong & 0xffffffffL
          else {
            val hi = br.read(ofCode - 24).toLong
            val lo = br.read(24).toLong & 0xffffffL
            (hi << 24) | lo
          }
        } else 0L)
      val mlCode = mlT.symbol(mlS)
      if (mlCode > 52) fail()
      val ml = MLBase(mlCode) + br.read(MLBits(mlCode))
      val llCode = llT.symbol(llS)
      if (llCode > 35) fail()
      val ll = LLBase(llCode) + br.read(LLBits(llCode))
      // resolve the offset against the three-slot repeat history
      var offset = 0L
      if (ofValue > 3) {
        offset = ofValue - 3
        st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
      } else {
        val idx = if (ll == 0) ofValue + 1 else ofValue
        idx match {
          case 1 => offset = st.rep1
          case 2 =>
            offset = st.rep2
            st.rep2 = st.rep1; st.rep1 = offset
          case 3 =>
            offset = st.rep3
            st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
          case _ => // ll == 0 && ofValue == 3 → rep1 - 1
            offset = st.rep1 - 1
            if (offset <= 0) fail()
            st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
        }
      }
      if (i != numSeq - 1) {
        llS = llT.newState(llS) + br.read(llT.nbBits(llS))
        mlS = mlT.newState(mlS) + br.read(mlT.nbBits(mlS))
        ofS = ofT.newState(ofS) + br.read(ofT.nbBits(ofS))
        if (llS >= llT.symbol.length || mlS >= mlT.symbol.length ||
          ofS >= ofT.symbol.length || llS < 0 || mlS < 0 || ofS < 0) fail()
      }
      // execute: literals copy then match copy
      if (litPos + ll > litSize) fail()
      out.ensure(ll + ml)
      System.arraycopy(litBuf, litPos, out.a, out.len, ll)
      out.len += ll
      litPos += ll
      val dictLen = if (st.dictContent == null) 0 else st.dictContent.length
      if (offset > (out.len - frameStart).toLong + dictLen)
        fail() // past the frame's window (incl. the dictionary prefix)
      if (offset > out.len - frameStart) {
        // the match starts inside the dictionary content, which
        // virtually precedes the frame; it may run forward into the
        // frame's own output, so copy byte-at-a-time across the seam
        var k = 0
        while (k < ml) {
          val src = out.len - offset.toInt
          out.a(out.len) =
            if (src >= frameStart) out.a(src)
            else st.dictContent(dictLen + (src - frameStart))
          out.len += 1
          k += 1
        }
      } else {
        var k = 0
        val src = out.len - offset.toInt
        while (k < ml) {
          out.a(out.len + k) = out.a(src + k)
          k += 1
        }
        out.len += ml
      }
      i += 1
    }
    if (br.pos != 0) fail() // bitstream must be exactly consumed
    val rest = litSize - litPos
    if (rest < 0) fail()
    out.ensure(rest)
    System.arraycopy(litBuf, litPos, out.a, out.len, rest)
    out.len += rest
  }

  // --------------------------------------------------------------- encoder

  /** `zstd_frame(binary)` → one deterministic RAW-block zstd frame.
    *
    * One deterministic single-segment zstd frame over RAW blocks with an
    * XXH64 content checksum — spec-valid (any conformant decoder reads
    * it), byte-stable across JVMs (no compressor heuristics), and the
    * engine-side half of the round-trip oracle gates. Payloads ≤ 128 KB
    * fit one block; larger inputs split at the Block_Maximum_Size.
    */
  def compressRaw(raw: Array[Byte]): Array[Byte] = {
    val n = raw.length
    val out = new java.io.ByteArrayOutputStream(n + 32)
    @inline def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    w32(0xFD2FB528L)
    // FHD: single-segment + checksum; FCS field width by payload size
    val fcsFlag = if (n <= 255) 0 else if (n <= 65535 + 256) 1 else 2
    out.write((fcsFlag << 6) | 0x20 | 0x04)
    fcsFlag match {
      case 0 => out.write(n)
      case 1 =>
        val v = n - 256
        out.write(v & 0xff); out.write((v >> 8) & 0xff)
      case _ => w32(n.toLong)
    }
    val blockMax = math.max(1, math.min(n, 1 << 17))
    var off = 0
    var emitted = false
    while (off < n || !emitted) {
      val chunk = math.min(blockMax, n - off)
      val lastBlock = off + chunk >= n
      val bh = (chunk << 3) | (if (lastBlock) 1 else 0)
      out.write(bh & 0xff); out.write((bh >> 8) & 0xff); out.write((bh >> 16) & 0xff)
      out.write(raw, off, chunk)
      off += chunk
      emitted = true
    }
    w32(xxh64(raw, 0, n) & 0xffffffffL)
    out.toByteArray
  }
}
