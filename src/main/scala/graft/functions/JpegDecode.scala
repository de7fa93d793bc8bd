package graft.functions

/** Baseline sequential JPEG → luma raster, written from the public JPEG
  * specification (ITU-T T.81): marker parse (DQT/DHT/SOF/DRI/SOS),
  * canonical Huffman entropy decode with byte-unstuffing and restart
  * markers, dequantization, separable double-precision IDCT, and
  * MCU/plane assembly for both non-interleaved (Ns=1) and interleaved
  * scans at any legal sampling (4:4:4, 4:2:2, 4:2:0, …).
  *
  * Scope decisions, in 100 TB-curation terms:
  *  - LUMA ONLY. Every consumer behind the [[ImageHash]] seam is
  *    grayscale (aHash/dHash/resize), and JPEG luma IS the Y channel —
  *    no chroma upsampling or color conversion enters the result.
  *    Chroma blocks still must be Huffman-WALKED to keep the entropy
  *    stream in sync, but they skip dequant + IDCT entirely (for 4:2:0
  *    that is 6× less IDCT work than a full decode per MCU).
  *  - Baseline/extended-sequential (SOF0/SOF1) AND progressive (SOF2)
  *    Huffman. Progressive files — which large web JPEGs skew toward —
  *    accumulate luma coefficients across their scans (spectral
  *    selection + successive approximation per ITU-T T.81 §G, including
  *    EOB runs and AC refinement), then run the one final IDCT; scans
  *    that carry no luma are byte-skipped without entropy decode (the
  *    marker-escape framing makes scan boundaries findable without
  *    decoding — at curation scale most progressive chroma data is
  *    never touched). Lossless, hierarchical, and arithmetic coding
  *    return null — the caller treats null as "not decodable here", the
  *    same per-row degradation contract as the PNG/BMP paths: a corrupt
  *    or exotic blob must never kill a stage.
  *  - Any malformed structure (truncation, lost marker sync, over-long
  *    Huffman walk, coefficient index overflow) aborts to null via a
  *    single control-flow exception caught at the boundary.
  *
  * Verification: JpegPixelSpec pins decoded rasters against committed
  * fixtures from an independent python encoder (tools/
  * gen_jpeg_fixtures.py — exact on DC-only mosaics, ±1 elsewhere) and
  * cross-checks against the JDK's own ImageIO JPEG codec (readRaster
  * band 0 = raw Y plane) on both those fixtures and ImageIO-encoded
  * images — two unrelated codecs on each side of the contract.
  *
  * Reference for WHAT the multimodal seam computes:
  * preprocessing/build_dataset.py:1 (the reference pipeline's media
  * ingestion boundary); the decode itself is spec-derived.
  */
private[functions] object JpegDecode {

  final class Luma(val w: Int, val h: Int, val px: Array[Int])

  /** Per-image color statistics from DEQUANTIZED DC coefficients — the
    * pre-IDCT block means (every AC basis function is zero-mean over
    * its block, so the DC term IS the block mean, exactly, before
    * per-pixel rounding/clamping). Means are milli-units of the 0–255
    * sample scale: block mean = dc·q₀·125 + 128000 (1000/8 = 125, all
    * integer). `colorfulnessMilli` is the average absolute chroma
    * deviation from neutral per chroma block — the solid-color /
    * grayscale-thumbnail gate signal. Grayscale files report neutral
    * chroma and colorfulness 0.
    */
  final class ColorStats(val w: Int, val h: Int,
                         val yMeanMilli: Long, val cbMeanMilli: Long,
                         val crMeanMilli: Long, val colorfulnessMilli: Long,
                         val nBlocksY: Long, val nBlocksC: Long)

  /** Full-RGB statistics from per-pixel conversion of the decoded
    * Y/Cb/Cr planes. Sums are in MILLI-units of the 0–255 scale over
    * all `nPx = w*h` image pixels; the YCbCr→RGB transform uses
    * milli-integer JFIF coefficients (1402/344/714/1772) with clamping
    * to [0, 255000] and NO per-pixel division, so every sum is exact
    * integer arithmetic a DuckDB oracle replays bit-for-bit.
    * `sumAbsRg`/`sumAbsYb2` are the opponent-axis magnitudes |R−G| and
    * |R+G−2B| (twice the yellow–blue axis) — the sqrt-free
    * colorfulness signal.
    */
  final class RgbStats(val w: Int, val h: Int, val nPx: Long,
                       val sumR: Long, val sumG: Long, val sumB: Long,
                       val sumSat: Long, val sumAbsRg: Long,
                       val sumAbsYb2: Long)

  /** Per-component plane collection for the RGB path: the same
    * entropy walk as the luma decode, but chroma blocks IDCT into
    * their own subsampled planes instead of being discarded.
    */
  private[functions] final class RgbReq {
    var planes: Array[Array[Int]] = null
    var pws: Array[Int] = null
    var phs: Array[Int] = null
    var cH: Array[Int] = null
    var cV: Array[Int] = null
    var maxH = 1
    var maxV = 1
    var frameComponents = 0
    var scanComponents = 0
  }

  /** DC collector threaded through the baseline scan decode: the chroma
    * Huffman walk already tracks each component's DC predictor to stay
    * in sync — lifting it to statistics costs three adds per block.
    */
  private final class ColorAcc {
    var nY = 0L; var sumY = 0L
    var nCb = 0L; var sumCb = 0L
    var nCr = 0L; var sumCr = 0L
    var devSum = 0L
    var frameComponents = 0
    var scanComponents = 0
    def addY(dcDeq: Int): Unit = {
      nY += 1; sumY += dcDeq.toLong * 125 + 128000L
    }
    def addC(ci: Int, dcDeq: Int): Unit = {
      val m = dcDeq.toLong * 125 + 128000L
      if (ci == 1) { nCb += 1; sumCb += m } else { nCr += 1; sumCr += m }
      devSum += math.abs(dcDeq.toLong * 125)
    }
  }

  /** Same decompression-bomb ceiling as the PNG path: a 10-byte SOF can
    * declare 65535×65535 and the MCU loop would materialize it.
    */
  private val MaxPixels = 1 << 24

  // zigzag scan order: decode index k -> natural position (row*8 + col)
  private val ZZ: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // orthonormal IDCT basis: F(u)(y) = k(u)·cos((2y+1)uπ/16)
  private val F: Array[Array[Double]] = Array.tabulate(8, 8) { (u, y) =>
    (if (u == 0) math.sqrt(1.0 / 8) else math.sqrt(2.0 / 8)) *
      math.cos((2 * y + 1) * u * math.Pi / 16)
  }

  /** Canonical Huffman table in the spec's mincode/maxcode/valptr form. */
  private final class HTab(bits: Array[Int], val values: Array[Int]) {
    val mincode = new Array[Int](17)
    val maxcode: Array[Int] = Array.fill(17)(-1)
    val valptr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l) > 0) {
          valptr(l) = k
          mincode(l) = code
          code += bits(l)
          k += bits(l)
          maxcode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
  }

  // single abort channel: thrown on any malformed structure, caught once
  // at the decode() boundary
  import Bytes.{Corrupt, fail}

  /** MSB-first bit reader over entropy-coded data: 0xFF00 unstuffing,
    * loud failure on any real marker inside the stream, byte-aligned
    * RSTn consumption between restart intervals.
    */
  private final class Bits(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var n = 0
    def bit(): Int = {
      if (n == 0) {
        if (pos >= b.length) fail()
        val v = b(pos) & 0xff
        pos += 1
        if (v == 0xff) {
          if (pos >= b.length) fail()
          if ((b(pos) & 0xff) == 0x00) pos += 1 // stuffed 0xFF data byte
          else fail() // marker mid-stream: truncated/desynced scan
        }
        acc = v
        n = 8
      }
      n -= 1
      (acc >> n) & 1
    }
    def receive(s: Int): Int = {
      var v = 0
      var i = 0
      while (i < s) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def restart(expectMod8: Int): Unit = {
      n = 0 // drop padding bits to the byte boundary
      if (pos + 1 >= b.length) fail()
      if ((b(pos) & 0xff) != 0xff) fail()
      var p = pos + 1
      while (p < b.length && (b(p) & 0xff) == 0xff) p += 1 // fill bytes
      if (p >= b.length) fail()
      if ((b(p) & 0xff) != 0xd0 + expectMod8) fail()
      pos = p + 1
    }
  }

  private def huffDecode(t: HTab, r: Bits): Int = {
    var code = r.bit()
    var l = 1
    while (code > t.maxcode(l)) {
      code = (code << 1) | r.bit()
      l += 1
      if (l > 16) fail()
    }
    t.values(t.valptr(l) + code - t.mincode(l))
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Decode one 8×8 block. `outNat` null ⇒ Huffman-walk only (chroma);
    * otherwise natural-order DEQUANTIZED coefficients land there
    * (`q` is the zigzag-order table). Returns the new DC predictor.
    */
  private def decodeBlock(r: Bits, dc: HTab, ac: HTab, pred: Int,
                          q: Array[Int], outNat: Array[Int]): Int = {
    val t = huffDecode(dc, r)
    if (t > 15) fail()
    val diff = extend(r.receive(t), t)
    val newPred = pred + diff
    if (outNat != null) {
      java.util.Arrays.fill(outNat, 0)
      outNat(0) = newPred * q(0)
    }
    var k = 1
    while (k < 64) {
      val rs = huffDecode(ac, r)
      val s = rs & 0x0f
      if (s == 0) {
        if (rs == 0xf0) k += 16 // ZRL: sixteen zeros
        else if (rs == 0x00) k = 64 // EOB
        else fail()
      } else {
        k += (rs >> 4)
        if (k > 63) fail()
        val v = extend(r.receive(s), s)
        if (outNat != null) outNat(ZZ(k)) = v * q(k)
        k += 1
      }
    }
    newPred
  }

  /** Separable IDCT of natural-order coefficients into the plane at
    * block origin (ox, oy), clipping to plane bounds; +128 level shift,
    * round-half-up, clamp to [0, 255].
    */
  private def idctInto(coef: Array[Int], plane: Array[Int],
                       pw: Int, ph: Int, ox: Int, oy: Int): Unit = {
    val tmp = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) { s += coef(u * 8 + v) * F(v)(x); v += 1 }
        tmp(u * 8 + x) = s
        x += 1
      }
      u += 1
    }
    var y = 0
    while (y < 8) {
      val py = oy + y
      if (py < ph) {
        var x = 0
        while (x < 8) {
          val px = ox + x
          if (px < pw) {
            var s = 0.0
            var uu = 0
            while (uu < 8) { s += F(uu)(y) * tmp(uu * 8 + x); uu += 1 }
            val g = math.floor(s + 128.5).toInt
            plane(py * pw + px) = if (g < 0) 0 else if (g > 255) 255 else g
          }
          x += 1
        }
      }
      y += 1
    }
  }

  /** Entry: luma raster at full image resolution, or null. */
  def decode(b: Array[Byte]): Luma =
    try decodeOrFail(b, null, null)
    catch {
      case Corrupt | _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => null
    }

  /** Entry: full-RGB per-pixel statistics, or null. Same coverage
    * contract as [[decodeColor]] (baseline, first scan interleaves
    * every frame component), restricted to 1- or 3-component frames
    * (CMYK/YCCK out of scope).
    */
  def decodeRgb(b: Array[Byte]): RgbStats =
    try {
      val rgb = new RgbReq
      val luma = decodeOrFail(b, null, rgb)
      if (luma == null || rgb.planes == null || rgb.planes(0) == null) null
      else if (rgb.scanComponents != rgb.frameComponents) null
      else if (rgb.frameComponents != 1 && rgb.frameComponents != 3) null
      else accumulateRgb(luma.w, luma.h, rgb)
    } catch {
      case Corrupt | _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => null
    }

  private def accumulateRgb(w: Int, h: Int, rgb: RgbReq): RgbStats = {
    val color = rgb.frameComponents == 3
    if (color && (rgb.planes(1) == null || rgb.planes(2) == null)) return null
    val p0 = rgb.planes(0)
    val pw0 = rgb.pws(0)
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var sumSat = 0L; var sumRg = 0L; var sumYb2 = 0L
    var y = 0
    while (y < h) {
      val ly = y * rgb.cV(0) / rgb.maxV
      val cy1 = if (color) y * rgb.cV(1) / rgb.maxV else 0
      val cy2 = if (color) y * rgb.cV(2) / rgb.maxV else 0
      var x = 0
      while (x < w) {
        val yv = p0(ly * pw0 + x * rgb.cH(0) / rgb.maxH)
        var rM = yv * 1000
        var gM = rM
        var bM = rM
        if (color) {
          val cb = rgb.planes(1)(cy1 * rgb.pws(1) + x * rgb.cH(1) / rgb.maxH)
          val cr = rgb.planes(2)(cy2 * rgb.pws(2) + x * rgb.cH(2) / rgb.maxH)
          rM = yv * 1000 + 1402 * (cr - 128)
          gM = yv * 1000 - 344 * (cb - 128) - 714 * (cr - 128)
          bM = yv * 1000 + 1772 * (cb - 128)
          if (rM < 0) rM = 0 else if (rM > 255000) rM = 255000
          if (gM < 0) gM = 0 else if (gM > 255000) gM = 255000
          if (bM < 0) bM = 0 else if (bM > 255000) bM = 255000
        }
        sumR += rM; sumG += gM; sumB += bM
        val mx = math.max(rM, math.max(gM, bM))
        val mn = math.min(rM, math.min(gM, bM))
        sumSat += mx - mn
        sumRg += math.abs(rM - gM)
        sumYb2 += math.abs(rM + gM - 2L * bM)
        x += 1
      }
      y += 1
    }
    new RgbStats(w, h, w.toLong * h, sumR, sumG, sumB,
      sumSat, sumRg, sumYb2)
  }

  /** Entry: DC color statistics, or null. Baseline files whose first
    * scan carries every frame component (all interleaved color files,
    * all grayscale files); progressive and non-interleaved color
    * return null — the caller's not-decodable-here contract.
    */
  def decodeColor(b: Array[Byte]): ColorStats =
    try {
      val acc = new ColorAcc
      val luma = decodeOrFail(b, acc, null)
      if (luma == null || acc.nY == 0) null
      else if (acc.scanComponents != acc.frameComponents) null
      else {
        val nC = acc.nCb + acc.nCr
        new ColorStats(luma.w, luma.h,
          acc.sumY / acc.nY,
          if (acc.nCb > 0) acc.sumCb / acc.nCb else 128000L,
          if (acc.nCr > 0) acc.sumCr / acc.nCr else 128000L,
          if (nC > 0) acc.devSum / nC else 0L,
          acc.nY, nC)
      }
    } catch {
      case Corrupt | _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => null
    }

  private def decodeOrFail(b: Array[Byte], acc: ColorAcc,
                           rgb: RgbReq): Luma = {
    if (b == null || b.length < 4 ||
        (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return null
    val in = new Bytes.Window(b)
    val qz = Array.ofDim[Int](4, 64)
    val qSeen = new Array[Boolean](4)
    val dcTabs = new Array[HTab](4)
    val acTabs = new Array[HTab](4)
    var ri = 0
    var w = 0
    var h = 0
    var cH: Array[Int] = null
    var cV: Array[Int] = null
    var cQ: Array[Int] = null
    var cIds: Array[Int] = null
    var sofSeen = false
    var progressive = false
    var prog: ProgState = null
    var p = 2
    while (p + 1 < b.length) {
      if ((b(p) & 0xff) != 0xff) return null // lost marker sync
      var m = b(p + 1) & 0xff
      while (m == 0xff) { // fill bytes
        p += 1
        if (p + 1 >= b.length) return null
        m = b(p + 1) & 0xff
      }
      p += 2
      if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
        // standalone markers outside a scan: nothing to skip
      } else if (m == 0xd9) {
        // EOI: a progressive file finishes HERE (its scans accumulated);
        // anything else reaching EOI decoded nothing
        if (progressive && prog != null && prog.anyLumaScan && qSeen(cQ(0)))
          return finishProgressive(prog, qz(cQ(0)))
        return null
      } else if (m == 0xdb) { // DQT: one or more tables
        val end = p + in.be16(p).toInt
        var q = p + 2
        while (q < end) {
          val pq = (b(q) & 0xff) >> 4
          val tq = b(q) & 0x0f
          if (tq > 3) fail()
          if (pq == 0) {
            if (q + 65 > end) fail()
            var k = 0
            while (k < 64) { qz(tq)(k) = b(q + 1 + k) & 0xff; k += 1 }
            q += 65
          } else if (pq == 1) { // 16-bit precision (extended sequential)
            if (q + 129 > end) fail()
            var k = 0
            while (k < 64) { qz(tq)(k) = in.be16(q + 1 + 2 * k).toInt; k += 1 }
            q += 129
          } else fail()
          qSeen(tq) = true
        }
        p = end
      } else if (m == 0xc4) { // DHT: one or more tables
        val end = p + in.be16(p).toInt
        var q = p + 2
        while (q < end) {
          val tc = (b(q) & 0xff) >> 4
          val th = b(q) & 0x0f
          if (tc > 1 || th > 3) fail()
          val bits = new Array[Int](17)
          var total = 0
          var i = 1
          while (i <= 16) {
            if (q + i >= b.length) fail()
            bits(i) = b(q + i) & 0xff
            total += bits(i)
            i += 1
          }
          if (total > 256 || q + 17 + total > end) fail()
          val vals = new Array[Int](total)
          i = 0
          while (i < total) { vals(i) = b(q + 17 + i) & 0xff; i += 1 }
          val tab = new HTab(bits, vals)
          if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
          q += 17 + total
        }
        p = end
      } else if (m == 0xc0 || m == 0xc1 || m == 0xc2) {
        // SOF0/SOF1 sequential, SOF2 progressive huffman
        if (sofSeen) fail()
        sofSeen = true
        progressive = m == 0xc2
        val len = in.be16(p).toInt
        val prec = b(p + 2) & 0xff
        h = in.be16(p + 3).toInt
        w = in.be16(p + 5).toInt
        val nc = b(p + 7) & 0xff
        if (prec != 8 || w <= 0 || h <= 0 || nc < 1 || nc > 4 ||
            len != 8 + 3 * nc || w.toLong * h > MaxPixels) return null
        cIds = new Array[Int](nc)
        cH = new Array[Int](nc)
        cV = new Array[Int](nc)
        cQ = new Array[Int](nc)
        var i = 0
        while (i < nc) {
          val o = p + 8 + 3 * i
          if (o + 2 >= b.length) fail()
          cIds(i) = b(o) & 0xff
          cH(i) = (b(o + 1) & 0xff) >> 4
          cV(i) = b(o + 1) & 0x0f
          cQ(i) = b(o + 2) & 0xff
          if (cH(i) < 1 || cH(i) > 4 || cV(i) < 1 || cV(i) > 4 || cQ(i) > 3)
            return null
          i += 1
        }
        p += len
      } else if (m >= 0xc3 && m <= 0xcf) {
        // SOF3/7 lossless, C5/6 differential, C8 JPG, C9-CB/CD-CF
        // arithmetic, CC conditioning: out of scope → null
        return null
      } else if (m == 0xdd) { // DRI
        if (in.be16(p) != 4) fail()
        ri = in.be16(p + 2).toInt
        p += 4
      } else if (m == 0xda) { // SOS: decode the first scan and finish
        if (!sofSeen) return null
        val len = in.be16(p).toInt
        val ns = b(p + 2) & 0xff
        if (ns < 1 || ns > 4 || len != 6 + 2 * ns) fail()
        val scanComp = new Array[Int](ns)
        val scanDc = new Array[HTab](ns)
        val scanAc = new Array[HTab](ns)
        var i = 0
        while (i < ns) {
          val cs = b(p + 3 + 2 * i) & 0xff
          val tt = b(p + 4 + 2 * i) & 0xff
          val ci = cIds.indexOf(cs)
          if (ci < 0) fail()
          scanComp(i) = ci
          scanDc(i) = dcTabs(tt >> 4)
          scanAc(i) = acTabs(tt & 0x0f)
          // progressive scans legitimately omit the unused table (DC
          // refinement needs neither; AC scans need no DC table) — each
          // decode shape checks the table it actually consumes
          if (!progressive && (scanDc(i) == null || scanAc(i) == null)) fail()
          i += 1
        }
        val ss = b(p + 3 + 2 * ns) & 0xff
        val se = b(p + 4 + 2 * ns) & 0xff
        val aa = b(p + 5 + 2 * ns) & 0xff
        if (progressive) {
          // accumulate this scan (or byte-skip it if it has no luma) and
          // keep walking markers — a progressive image is the SUM of its
          // scans, finished at EOI
          val ah = aa >> 4
          val al = aa & 0x0f
          if (ss > 63 || al > 13) fail()
          // T.81 G.1 scan-header constraints: a DC scan (ss=0) must carry
          // se=0 (no AC spectral range to silently ignore), and a
          // refinement scan's prior point transform must be exactly one
          // above the current (ah == al+1) — anything else is a
          // nonconforming file that would decode to a wrong raster
          if (ss == 0 && se != 0) fail()
          if (ah != 0 && ah != al + 1) fail()
          if (prog == null) {
            var maxH = 1
            var maxV = 1
            var j = 0
            while (j < cH.length) {
              if (cH(j) > maxH) maxH = cH(j)
              if (cV(j) > maxV) maxV = cV(j)
              j += 1
            }
            prog = new ProgState(w, h, cH, cV, maxH, maxV)
          }
          p =
            if (scanComp.contains(0))
              decodeProgScan(b, p + len, prog, scanComp, scanDc, scanAc,
                cH, cV, ss, se, ah, al, ri)
            else skipEntropy(b, p + len) // chroma-only: zero decode work
        } else {
          if (ss != 0 || se != 63 || aa != 0) return null // partial scan
          // the FIRST scan must carry luma (frame component 0) — true for
          // every interleaved baseline file and every grayscale file
          if (!scanComp.contains(0)) return null
          if (!qSeen(cQ(0))) fail()
          if (acc != null) {
            acc.frameComponents = cIds.length
            acc.scanComponents = ns
          }
          if (rgb != null) {
            rgb.frameComponents = cIds.length
            rgb.scanComponents = ns
          }
          return decodeScan(b, p + len, w, h, scanComp, scanDc, scanAc,
            cH, cV, cQ, qz, ri, acc, rgb)
        }
      } else { // APPn / COM / anything else with a length field
        val len = in.be16(p).toInt
        if (len < 2) fail()
        p += len
      }
    }
    null
  }

  private def decodeScan(b: Array[Byte], start: Int, w: Int, h: Int,
                         scanComp: Array[Int], scanDc: Array[HTab],
                         scanAc: Array[HTab], cH: Array[Int], cV: Array[Int],
                         cQ: Array[Int], qz: Array[Array[Int]],
                         ri: Int, acc: ColorAcc, rgb: RgbReq): Luma = {
    val ns = scanComp.length
    var maxH = 1
    var maxV = 1
    var i = 0
    while (i < cH.length) {
      if (cH(i) > maxH) maxH = cH(i)
      if (cV(i) > maxV) maxV = cV(i)
      i += 1
    }
    if (rgb != null) {
      rgb.planes = new Array[Array[Int]](cH.length)
      rgb.pws = new Array[Int](cH.length)
      rgb.phs = new Array[Int](cH.length)
      rgb.cH = cH
      rgb.cV = cV
      rgb.maxH = maxH
      rgb.maxV = maxV
    }
    val r = new Bits(b, start)
    val coef = new Array[Int](64)
    var plane: Array[Int] = null
    var pw = 0
    var ph = 0
    if (ns == 1) {
      // non-interleaved: MCU = one block, raster over the component plane
      val ci = scanComp(0)
      val cw = (w * cH(ci) + maxH - 1) / maxH
      val chh = (h * cV(ci) + maxV - 1) / maxV
      if (cw.toLong * chh > MaxPixels) fail()
      val nbx = (cw + 7) / 8
      val nby = (chh + 7) / 8
      plane = new Array[Int](cw * chh)
      pw = cw
      ph = chh
      val q = qz(cQ(ci))
      var pred = 0
      var mcu = 0
      var by = 0
      while (by < nby) {
        var bx = 0
        while (bx < nbx) {
          if (ri > 0 && mcu > 0 && mcu % ri == 0) {
            r.restart((mcu / ri - 1) % 8)
            pred = 0
          }
          pred = decodeBlock(r, scanDc(0), scanAc(0), pred, q, coef)
          idctInto(coef, plane, pw, ph, bx * 8, by * 8)
          if (acc != null && ci == 0) acc.addY(pred * q(0))
          mcu += 1
          bx += 1
        }
        by += 1
      }
    } else {
      val mcusX = (w + 8 * maxH - 1) / (8 * maxH)
      val mcusY = (h + 8 * maxV - 1) / (8 * maxV)
      pw = mcusX * 8 * cH(0)
      ph = mcusY * 8 * cV(0)
      if (pw.toLong * ph > MaxPixels.toLong * 4) fail()
      plane = new Array[Int](pw * ph)
      if (rgb != null) {
        var si = 0
        while (si < ns) {
          val ci = scanComp(si)
          if (ci != 0) {
            val cpw = mcusX * 8 * cH(ci)
            val cph = mcusY * 8 * cV(ci)
            if (cpw.toLong * cph > MaxPixels.toLong * 4) fail()
            rgb.planes(ci) = new Array[Int](cpw * cph)
            rgb.pws(ci) = cpw
            rgb.phs(ci) = cph
          }
          si += 1
        }
      }
      val preds = new Array[Int](ns)
      var mcu = 0
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          if (ri > 0 && mcu > 0 && mcu % ri == 0) {
            r.restart((mcu / ri - 1) % 8)
            java.util.Arrays.fill(preds, 0)
          }
          var si = 0
          while (si < ns) {
            val ci = scanComp(si)
            val q = qz(cQ(ci))
            var byy = 0
            while (byy < cV(ci)) {
              var bxx = 0
              while (bxx < cH(ci)) {
                if (ci == 0) {
                  preds(si) = decodeBlock(r, scanDc(si), scanAc(si),
                    preds(si), q, coef)
                  idctInto(coef, plane, pw, ph,
                    (mx * cH(0) + bxx) * 8, (my * cV(0) + byy) * 8)
                  if (acc != null) acc.addY(preds(si) * q(0))
                } else {
                  // chroma: walk the entropy stream; render into the
                  // component plane only when the RGB path asks (the
                  // synced DC predictor lifts to DC color stats free)
                  val outNat = if (rgb != null) coef else null
                  preds(si) = decodeBlock(r, scanDc(si), scanAc(si),
                    preds(si), q, outNat)
                  if (rgb != null)
                    idctInto(coef, rgb.planes(ci), rgb.pws(ci), rgb.phs(ci),
                      (mx * cH(ci) + bxx) * 8, (my * cV(ci) + byy) * 8)
                  if (acc != null) acc.addC(ci, preds(si) * q(0))
                }
                bxx += 1
              }
              byy += 1
            }
            si += 1
          }
          mcu += 1
          mx += 1
        }
        my += 1
      }
    }
    if (rgb != null) {
      rgb.planes(0) = plane
      rgb.pws(0) = pw
      rgb.phs(0) = ph
    }
    assembleLuma(plane, pw, w, h, cH(0), cV(0), maxH, maxV)
  }

  /** Assemble full-resolution luma from the decoded component plane. In
    * (virtually) every real file the luma component samples at
    * (maxH, maxV) so this is a crop; the nearest-index map keeps
    * legal-but-odd subsampled-luma files correct.
    */
  private def assembleLuma(plane: Array[Int], pw: Int, w: Int, h: Int,
                           ch0: Int, cv0: Int, maxH: Int, maxV: Int): Luma = {
    val lw = (w * ch0 + maxH - 1) / maxH
    val lh = (h * cv0 + maxV - 1) / maxV
    val px = new Array[Int](w * h)
    if (lw == w && lh == h) {
      var y = 0
      while (y < h) {
        System.arraycopy(plane, y * pw, px, y * w, w)
        y += 1
      }
    } else {
      var y = 0
      while (y < h) {
        val sy = y * cv0 / maxV
        var x = 0
        while (x < w) {
          px(y * w + x) = plane(sy * pw + x * ch0 / maxH)
          x += 1
        }
        y += 1
      }
    }
    new Luma(w, h, px)
  }

  /** Advance past one scan's entropy-coded bytes WITHOUT decoding them:
    * stuffed 0xFF00 and RSTn markers stay inside the scan, anything else
    * after 0xFF (fill bytes skipped) is the next real marker. This is
    * what lets progressive chroma scans cost zero decode work.
    */
  private def skipEntropy(b: Array[Byte], start: Int): Int = {
    var p = start
    while (p + 1 < b.length) {
      if ((b(p) & 0xff) != 0xff) p += 1
      else {
        val m = b(p + 1) & 0xff
        if (m == 0x00 || (m >= 0xd0 && m <= 0xd7)) p += 2
        else if (m == 0xff) p += 1 // fill byte
        else return p
      }
    }
    fail()
  }

  /** Per-file progressive state: the accumulated (zigzag-order,
    * undequantized) luma coefficient buffer over the PADDED block grid —
    * interleaved DC scans cover the padded MCU grid while
    * non-interleaved AC scans cover only the component's real blocks,
    * so the padded layout is the one both index schemes embed into.
    */
  private final class ProgState(val w: Int, val h: Int,
                                cH: Array[Int], cV: Array[Int],
                                val maxH: Int, val maxV: Int) {
    val ch0: Int = cH(0)
    val cv0: Int = cV(0)
    val cw: Int = (w * ch0 + maxH - 1) / maxH
    val chh: Int = (h * cv0 + maxV - 1) / maxV
    val mcusX: Int = (w + 8 * maxH - 1) / (8 * maxH)
    val mcusY: Int = (h + 8 * maxV - 1) / (8 * maxV)
    val nbx: Int = (cw + 7) / 8
    val nby: Int = (chh + 7) / 8
    val nbxPad: Int = mcusX * ch0
    val nbyPad: Int = mcusY * cv0
    if (nbxPad.toLong * nbyPad * 64 > MaxPixels.toLong * 4) fail()
    val coef = new Array[Int](nbxPad * nbyPad * 64)
    var anyLumaScan = false
  }

  /** Decode one progressive scan that CONTAINS luma (scans without luma
    * are byte-skipped by the caller), accumulating into `st.coef`;
    * returns the position of the next marker. Shapes per T.81 §G:
    * interleaved DC (walk chroma inline to stay in sync), single-comp
    * luma DC, single-comp luma AC with EOB runs; Ah>0 scans are
    * successive-approximation refinements.
    */
  private def decodeProgScan(b: Array[Byte], start: Int, st: ProgState,
                             scanComp: Array[Int], scanDc: Array[HTab],
                             scanAc: Array[HTab], cH: Array[Int],
                             cV: Array[Int], ss: Int, se: Int, ah: Int,
                             al: Int, ri: Int): Int = {
    val ns = scanComp.length
    val r = new Bits(b, start)
    val p1 = 1 << al
    val m1 = -1 << al
    var eobrun = 0

    // one DC step for a block at padded-grid index `bi` of component ci
    // (luma writes, chroma only keeps the predictor in sync); returns the
    // new predictor
    def dcStep(bi: Int, isLuma: Boolean, dcTab: HTab, pred: Int): Int = {
      if (ah == 0) {
        val t = huffDecode(dcTab, r)
        if (t > 15) fail()
        val newPred = pred + extend(r.receive(t), t)
        if (isLuma) st.coef(bi * 64) = newPred << al
        newPred
      } else {
        if (r.bit() == 1 && isLuma) st.coef(bi * 64) |= p1
        pred
      }
    }

    if (ss == 0) { // DC scan (first or refinement)
      if (ah == 0 && scanDc.exists(_ == null)) fail()
      val preds = new Array[Int](ns)
      if (ns == 1) { // non-interleaved: the component's real block grid
        var mcu = 0
        var by = 0
        while (by < st.nby) {
          var bx = 0
          while (bx < st.nbx) {
            if (ri > 0 && mcu > 0 && mcu % ri == 0) {
              r.restart((mcu / ri - 1) % 8)
              preds(0) = 0
            }
            preds(0) = dcStep(by * st.nbxPad + bx, isLuma = true,
              scanDc(0), preds(0))
            mcu += 1
            bx += 1
          }
          by += 1
        }
      } else { // interleaved over the padded MCU grid
        var mcu = 0
        var my = 0
        while (my < st.mcusY) {
          var mx = 0
          while (mx < st.mcusX) {
            if (ri > 0 && mcu > 0 && mcu % ri == 0) {
              r.restart((mcu / ri - 1) % 8)
              java.util.Arrays.fill(preds, 0)
            }
            var si = 0
            while (si < ns) {
              val ci = scanComp(si)
              var byy = 0
              while (byy < cV(ci)) {
                var bxx = 0
                while (bxx < cH(ci)) {
                  val bi =
                    if (ci == 0)
                      (my * cV(0) + byy) * st.nbxPad + mx * cH(0) + bxx
                    else 0
                  preds(si) = dcStep(bi, isLuma = ci == 0, scanDc(si), preds(si))
                  bxx += 1
                }
                byy += 1
              }
              si += 1
            }
            mcu += 1
            mx += 1
          }
          my += 1
        }
      }
    } else { // AC scan: spec requires Ns = 1, and the caller ensured luma
      if (ns != 1 || se < ss || se > 63) fail()
      val ac = scanAc(0)
      if (ac == null) fail()
      var mcu = 0
      var by = 0
      while (by < st.nby) {
        var bx = 0
        while (bx < st.nbx) {
          if (ri > 0 && mcu > 0 && mcu % ri == 0) {
            r.restart((mcu / ri - 1) % 8)
            eobrun = 0
          }
          val base = (by * st.nbxPad + bx) * 64
          if (ah == 0) { // first AC scan for this band
            if (eobrun > 0) eobrun -= 1
            else {
              var k = ss
              while (k <= se) {
                val rs = huffDecode(ac, r)
                val s = rs & 0x0f
                val run = rs >> 4
                if (s == 0) {
                  if (run < 15) {
                    eobrun = (1 << run) - 1
                    if (run > 0) eobrun += r.receive(run)
                    k = 64 // EOB for this block
                  } else k += 16 // ZRL
                } else {
                  k += run
                  if (k > se) fail()
                  st.coef(base + k) = extend(r.receive(s), s) << al
                  k += 1
                }
              }
            }
          } else { // AC refinement (T.81 G.1.2.3)
            var k = ss
            if (eobrun == 0) {
              var done = false
              while (!done && k <= se) {
                val rs = huffDecode(ac, r)
                var run = rs >> 4
                val s = rs & 0x0f
                var newval = 0
                if (s == 0) {
                  if (run < 15) {
                    eobrun = 1 << run
                    if (run > 0) eobrun += r.receive(run)
                    done = true // fall through to the EOB correction loop
                  }
                  // run == 15: skip 16 zero-history coefficients below
                } else {
                  if (s != 1) fail()
                  newval = if (r.bit() == 1) p1 else m1
                }
                if (!done) {
                  var placed = false
                  while (!placed && k <= se) {
                    val c = st.coef(base + k)
                    if (c != 0) {
                      if (r.bit() == 1 && (c & p1) == 0)
                        st.coef(base + k) = c + (if (c >= 0) p1 else m1)
                      k += 1
                    } else {
                      if (run == 0) {
                        if (newval != 0) st.coef(base + k) = newval
                        k += 1
                        placed = true
                      } else {
                        run -= 1
                        k += 1
                      }
                    }
                  }
                  if (!placed && (rs & 0x0f) != 0) fail() // ran off the band
                }
              }
            }
            if (eobrun > 0) {
              while (k <= se) {
                val c = st.coef(base + k)
                if (c != 0 && r.bit() == 1 && (c & p1) == 0)
                  st.coef(base + k) = c + (if (c >= 0) p1 else m1)
                k += 1
              }
              eobrun -= 1
            }
          }
          mcu += 1
          bx += 1
        }
        by += 1
      }
    }
    st.anyLumaScan = true
    skipEntropy(b, r.pos)
  }

  /** Final progressive assembly: dequantize each real luma block's
    * accumulated coefficients and run the one IDCT pass.
    */
  private def finishProgressive(st: ProgState, q: Array[Int]): Luma = {
    val pw = st.cw
    val ph = st.chh
    val plane = new Array[Int](pw * ph)
    val nat = new Array[Int](64)
    var by = 0
    while (by < st.nby) {
      var bx = 0
      while (bx < st.nbx) {
        val base = (by * st.nbxPad + bx) * 64
        var k = 0
        while (k < 64) { nat(ZZ(k)) = st.coef(base + k) * q(k); k += 1 }
        idctInto(nat, plane, pw, ph, bx * 8, by * 8)
        bx += 1
      }
      by += 1
    }
    assembleLuma(plane, pw, st.w, st.h, st.ch0, st.cv0, st.maxH, st.maxV)
  }
}
