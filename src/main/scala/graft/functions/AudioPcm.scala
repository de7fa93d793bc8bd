package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Native Catalyst expression: SAMPLE-LEVEL audio statistics from a binary
  * column — `audio_pcm_stats(bin)` → `struct<n_samples, peak, sum_sq,
  * zero_crossings>`, or null when the bytes are not a mono 16-bit PCM WAV.
  * Where [[AudioHeader]] stops at the format header, this decodes the
  * actual waveform — the audio analog of [[ImageHash]]'s pixel decode, and
  * the signal-quality seam of a multimodal curation pipeline (silence /
  * clipping / activity filtering before an expensive model ever runs).
  *
  * Everything returned is EXACT INTEGER arithmetic over the decoded
  * samples, so an oracle can replay the numbers without parsing bytes:
  *  - `n_samples`: data-chunk size / 2;
  *  - `peak`: max |s| (32768 for a full-scale negative sample);
  *  - `sum_sq`: Σ s² as a long — RMS and mean power are FLOAT functions
  *    of this and n, left to the caller so the expression stays
  *    float-free;
  *  - `zero_crossings`: count of adjacent pairs with s(k-1)·s(k) < 0
  *    (strict sign flips; zeros never count) — the classic voiced /
  *    unvoiced discriminator.
  *
  * Contract: RIFF/WAVE chunk walk (word-aligned, arbitrary chunks before
  * `fmt `), then PCM only (format tag 1), 8/16/24-bit widths, MONO only —
  * zero crossings over interleaved channels would be meaningless, so
  * stereo is a null, never a garbage number. 8-bit WAV is UNSIGNED by
  * spec, so samples are centered (`byte − 128`); 16- and 24-bit are
  * signed little-endian. The `data` chunk must be a whole number of
  * frames. Null, never garbage, for anything else.
  *
  * Scale shape: scan-side expression inside WholeStageCodegen (static
  * call, the [[ImageHash]] pattern); each blob is decoded once and
  * reduced to four integers before anything shuffles.
  */
object AudioPcmStats {

  val schema: StructType = StructType(Seq(
    StructField("n_samples", IntegerType, nullable = false),
    StructField("peak", IntegerType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("zero_crossings", IntegerType, nullable = false)))

  /** Invoked from both interpreted eval and generated code; null unless
    * the bytes are a complete mono 16-bit PCM RIFF/WAVE.
    */
  def stats(b: Array[Byte]): InternalRow = statsImpl(b, allowStereo = false)

  /** `audio_pcm_downmix(bin)` — [[AudioPcmStats]] semantics extended to
    * stereo via truncating (L+R)/2 downmix; see
    * [[AudioPcmStats.statsDownmix]].
    *
    * Like [[stats]], but also accepts STEREO 16-bit PCM, downmixing each
    * frame to `(L + R) / 2` with Java's truncating integer division —
    * deliberately truncation, not floor, because SQL engines' integer
    * division (`//` in DuckDB) truncates toward zero and the oracle
    * replays the downmix arithmetically. Zero crossings, peak, and Σs²
    * are then computed over the downmixed stream, which is the standard
    * mono-ize-first curation contract (per-channel crossings over an
    * interleaved stream would be meaningless — the reason [[stats]]
    * refuses stereo outright).
    */
  def statsDownmix(b: Array[Byte]): InternalRow = statsImpl(b, allowStereo = true)

  /** `audio_g711_stats(bin)` — [[AudioPcmStats]]'s stats contract over
    * G.711 μ-law / A-law companded mono WAV; see
    * [[AudioPcmStats.statsG711]].
    *
    * G.711 COMPANDED WAV — the telephony/speech-corpus encoding (call
    * recordings, IVR dumps, much of the classic ASR world ships μ-law
    * or A-law, not linear PCM): RIFF walk as in [[statsImpl]] but
    * format tag 7 (μ-law) or 6 (A-law), 8 bits, MONO; each byte expands
    * through the ITU-T G.711 segment arithmetic (the classic public
    * `g711.c` decode: bias 0x84 / segment shifts for μ-law, 0x55 XOR /
    * segment table for A-law) to a 13/14-bit linear sample at 16-bit
    * scale, then the same stats contract. The expansion is closed-form
    * integer arithmetic, so the oracle replays byte → linear exactly.
    * Linear-PCM tags refuse here (that is [[stats]]'s surface), as
    * companded tags refuse there — one decoder per contract.
    */
  def statsG711(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return null
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return null
    var p = 12
    var tag = -1
    var dataAt = -1
    var dataLen = -1L
    while (p + 8 <= b.length) {
      val size = Bytes.le32(b, p + 4)
      if (size < 0 || p + 8L + size > b.length) return null
      if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' && b(p + 3) == ' ') {
        if (size < 16) return null
        val t = Bytes.le16(b, p + 8).toInt
        if ((t == 6 || t == 7) && Bytes.le16(b, p + 10) == 1 &&
          Bytes.le16(b, p + 22) == 8) tag = t
      } else if (b(p) == 'd' && b(p + 1) == 'a' && b(p + 2) == 't' &&
                 b(p + 3) == 'a') {
        dataAt = p + 8
        dataLen = size
      }
      p += (8 + size + (size & 1)).toInt
    }
    if (tag < 0 || dataAt < 0) return null
    val n = dataLen.toInt
    var peak = 0
    var sumSq = 0L
    var zc = 0
    var prev = 0
    var k = 0
    while (k < n) {
      val s =
        if (tag == 7) ulaw2linear(b(dataAt + k) & 0xff)
        else alaw2linear(b(dataAt + k) & 0xff)
      val a = if (s < 0) -s else s
      if (a > peak) peak = a
      sumSq += s.toLong * s
      if (k > 0 && prev.toLong * s < 0) zc += 1
      prev = s
      k += 1
    }
    new GenericInternalRow(Array[Any](n, peak, sumSq, zc))
  }

  /** ITU-T G.711 μ-law expansion (bias 0x84, 3-bit segment shift). */
  def ulaw2linear(u0: Int): Int = {
    val u = (~u0) & 0xff
    var t = ((u & 0x0f) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** ITU-T G.711 A-law expansion (0x55 toggle, per-segment offsets). */
  def alaw2linear(a0: Int): Int = {
    val a = a0 ^ 0x55
    var t = (a & 0x0f) << 4
    val seg = (a & 0x70) >> 4
    if (seg == 0) t += 8
    else if (seg == 1) t += 0x108
    else { t += 0x108; t <<= seg - 1 }
    if ((a & 0x80) != 0) t else -t
  }

  private def statsImpl(b: Array[Byte], allowStereo: Boolean): InternalRow = {
    if (b == null || b.length < 12) return null
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return null
    var p = 12
    var fmtOk = false
    var channels = 0
    var bits = 0
    var dataAt = -1
    var dataLen = -1L
    while (p + 8 <= b.length) {
      val size = Bytes.le32(b, p + 4) // Long: a 0x7FFFFFF0 size cannot wrap p negative
      if (size < 0 || p + 8L + size > b.length) return null
      if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' && b(p + 3) == ' ') {
        if (size < 16) return null
        channels = Bytes.le16(b, p + 10).toInt
        bits = Bytes.le16(b, p + 22).toInt
        // PCM (tag 1), 8/16/24-bit, mono (or stereo when downmixing) —
        // anything else is a null, not a guess
        fmtOk = Bytes.le16(b, p + 8) == 1 &&
          (bits == 8 || bits == 16 || bits == 24) &&
          (channels == 1 || (allowStereo && channels == 2))
      } else if (b(p) == 'd' && b(p + 1) == 'a' && b(p + 2) == 't' &&
                 b(p + 3) == 'a') {
        dataAt = p + 8
        dataLen = size
      }
      p += (8 + size + (size & 1)).toInt
    }
    if (!fmtOk || dataAt < 0) return null
    val bps = bits / 8
    val bytesPerFrame = bps * channels
    if (dataLen % bytesPerFrame != 0) return null
    val n = (dataLen / bytesPerFrame).toInt
    def sample(idx: Int): Int = {
      val i = dataAt + bps * idx
      bps match {
        case 1 => (b(i) & 0xff) - 128 // 8-bit WAV is unsigned, centered
        case 2 => Bytes.le16(b, i).toShort.toInt
        case _ => (b(i + 2) << 16) | ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)
      }
    }
    var peak = 0
    var sumSq = 0L
    var zc = 0
    var prev = 0
    var k = 0
    while (k < n) {
      val s =
        if (channels == 1) sample(k)
        else (sample(2 * k) + sample(2 * k + 1)) / 2 // truncating, see scaladoc
      val a = if (s < 0) -s else s
      if (a > peak) peak = a
      sumSq += s.toLong * s
      if (k > 0 && prev.toLong * s < 0) zc += 1
      prev = s
      k += 1
    }
    new GenericInternalRow(Array[Any](n, peak, sumSq, zc))
  }
}

/** `audio_flac_stats(bin)` — the [[AudioPcmStats]] stats struct decoded
  * from a native FLAC stream: magic + metadata-block walk (STREAMINFO
  * required: mono, 16-bit), then real frame parsing — sync code,
  * blocksize/sample-rate codes including their trailing explicit fields,
  * UTF-8 coded frame number, and ALL FOUR subframe types: CONSTANT,
  * VERBATIM, and — since round 9 — FIXED (orders 0–4) and LPC (any
  * order) with their Rice-coded residual partitions (both 4-bit RICE and
  * 5-bit RICE2 parameter widths, escape partitions included). Real-world
  * FLAC is essentially always Rice-coded FIXED/LPC — constant/verbatim
  * frames are degenerate cases — so this is what lets the audio curation
  * gates (silence / clipping / activity) run on actual FLAC uploads, not
  * just WAV. Prediction is the spec's exact integer arithmetic (fixed
  * polynomial predictors; LPC as a 64-bit accumulated dot product with
  * arithmetic right shift), so every decoded sample is bit-exact and an
  * integer oracle replays the stats from the source formula without ever
  * touching bytes. Wasted-bits subframes refuse with null (a documented
  * boundary — rare in practice and never produced by fixed-point
  * encoders at default settings). Frame CRCs are skipped, not verified:
  * the value contract here is sample arithmetic, and a flipped bit
  * surfaces as a hash mismatch anyway.
  *
  * The decoded sample count must equal STREAMINFO's total-samples field
  * (when nonzero) — a truncated stream refuses rather than returning
  * stats over a prefix.
  */
object AudioFlacStats {

  import Bytes.{Corrupt, fail}

  /** FLAC's signed fields (warmups, LPC coefficients, raw residuals):
    * `n` bits of two's complement through the shared MSB-first reader —
    * subframe bodies are bit-aligned; only frame and metadata headers
    * are whole bytes.
    */
  private def readSignedBits(br: Bytes.MsbBits, n: Int): Int = {
    val v = br.bits(n)
    (v << (32 - n)) >> (32 - n) // sign-extend
  }

  /** Rice quotient: a run of 0-bits terminated by a 1-bit. */
  private def readUnary(br: Bytes.MsbBits): Int = {
    var q = 0
    while (br.bit() == 0) {
      q += 1
      if (q > (1 << 20)) fail() // corrupt unary run bound
    }
    q
  }

  /** One complete subframe (header + body) through the bit reader — the
    * stereo path, where the second channel's subframe starts mid-byte.
    * CONSTANT and VERBATIM expand to arrays here (the mono fast path
    * keeps its allocation-free form); FIXED/LPC share
    * [[decodePredicted]]. Wasted-bits subframes refuse, as everywhere.
    */
  private def decodeSubframe(br: Bytes.MsbBits, blockSize: Int,
                             bps: Int): Array[Int] = {
    val sh = br.bits(8)
    if ((sh & 0x80) != 0 || (sh & 1) != 0) fail()
    val typ = (sh >> 1) & 0x3f
    if (typ == 0) {
      val v = readSignedBits(br, bps)
      val s = new Array[Int](blockSize)
      java.util.Arrays.fill(s, v)
      s
    } else if (typ == 1) {
      val s = new Array[Int](blockSize)
      var i = 0
      while (i < blockSize) { s(i) = readSignedBits(br, bps); i += 1 }
      s
    } else if (typ >= 8 && typ <= 12) {
      if (typ - 8 > blockSize) fail()
      decodePredicted(br, blockSize, typ - 8, lpc = false, bps)
    } else if (typ >= 32) {
      val order = (typ & 0x1f) + 1
      if (order > blockSize) fail()
      decodePredicted(br, blockSize, order, lpc = true, bps)
    } else fail()
  }

  /** Decode one FIXED/LPC subframe body (warmup + coefficients + Rice
    * residual partitions + prediction reconstruction) into exact
    * samples at `bps` bits (17 for a stereo SIDE channel — the spec's
    * one-extra-bit rule for difference channels).
    */
  private def decodePredicted(br: Bytes.MsbBits, blockSize: Int, order: Int,
                              lpc: Boolean, bps: Int): Array[Int] = {
    val s = new Array[Int](blockSize)
    var i = 0
    while (i < order) { s(i) = readSignedBits(br, bps); i += 1 }
    var coefs: Array[Int] = null
    var shift = 0
    if (lpc) {
      val precM1 = br.bits(4)
      if (precM1 == 15) fail() // invalid by spec
      val prec = precM1 + 1
      shift = readSignedBits(br, 5)
      if (shift < 0) fail() // negative shifts are spec-forbidden
      coefs = new Array[Int](order)
      var j = 0
      while (j < order) { coefs(j) = readSignedBits(br, prec); j += 1 }
    }
    // residual: 2-bit method (0=RICE 4-bit params, 1=RICE2 5-bit), then
    // 4-bit partition order; partition 0 is short by `order` warmups
    val method = br.bits(2)
    if (method > 1) fail()
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val po = br.bits(4)
    val parts = 1 << po
    if (blockSize % parts != 0 || (blockSize >> po) < order) fail()
    var idx = order
    var pi = 0
    while (pi < parts) {
      val cnt = (blockSize >> po) - (if (pi == 0) order else 0)
      val param = br.bits(pBits)
      if (param == escape) {
        val rawBits = br.bits(5) // 0 = the whole partition is zeros
        var j = 0
        while (j < cnt) {
          s(idx) = if (rawBits == 0) 0 else readSignedBits(br, rawBits)
          idx += 1; j += 1
        }
      } else {
        var j = 0
        while (j < cnt) {
          val q = readUnary(br)
          val u = (q.toLong << param) | (br.bits(param) & 0xffffffffL)
          // zigzag unfold: even -> u/2, odd -> -(u/2)-1
          s(idx) = (if ((u & 1L) != 0) -((u >> 1) + 1) else u >> 1).toInt
          idx += 1; j += 1
        }
      }
      pi += 1
    }
    // prediction reconstruction, in place and in order (each sample only
    // depends on already-reconstructed history)
    if (lpc) {
      i = order
      while (i < blockSize) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coefs(j).toLong * s(i - 1 - j); j += 1 }
        s(i) += (acc >> shift).toInt
        i += 1
      }
    } else {
      order match {
        case 0 => // residuals ARE the samples
        case 1 =>
          i = 1; while (i < blockSize) { s(i) += s(i - 1); i += 1 }
        case 2 =>
          i = 2; while (i < blockSize) { s(i) += 2 * s(i - 1) - s(i - 2); i += 1 }
        case 3 =>
          i = 3; while (i < blockSize) {
            s(i) += 3 * s(i - 1) - 3 * s(i - 2) + s(i - 3); i += 1 }
        case _ =>
          i = 4; while (i < blockSize) {
            s(i) += 4 * s(i - 1) - 6 * s(i - 2) + 4 * s(i - 3) - s(i - 4); i += 1 }
      }
    }
    s
  }

  /** Invoked from both interpreted eval and generated code; null unless
    * the bytes are a complete mono 16-bit FLAC (all four subframe types
    * decode; wasted-bits subframes refuse).
    */
  def stats(b: Array[Byte]): InternalRow =
    try statsOrThrow(b)
    catch { case Corrupt => null }

  private def statsOrThrow(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 42) return null
    if (!(b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')) return null

    // --- metadata blocks: need STREAMINFO (type 0, 34 bytes) ---
    var p = 4
    var last = false
    var totalSamples = -1L
    var streamChannels = 0
    var haveInfo = false
    while (!last) {
      if (p + 4 > b.length) return null
      val hdr = b(p) & 0xff
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = ((b(p + 1) & 0xffL) << 16) | ((b(p + 2) & 0xffL) << 8) |
        (b(p + 3) & 0xffL)
      if (p + 4L + len > b.length) return null
      if (typ == 0) {
        if (len < 34) return null
        val f = p + 4
        // packed 64 bits at +10: sr(20) | channels-1(3) | bits-1(5) | total(36)
        val packed = Bytes.be64(b, f + 10)
        val chan = ((packed >>> 41) & 0x7) + 1
        val bits = ((packed >>> 36) & 0x1f) + 1
        if ((chan != 1 && chan != 2) || bits != 16) return null
        streamChannels = chan.toInt
        totalSamples = packed & ((1L << 36) - 1)
        haveInfo = true
      }
      p += 4 + len.toInt
    }
    if (!haveInfo) return null

    // --- frames ---
    var peak = 0
    var sumSq = 0L
    var zc = 0
    var prev = 0
    var count = 0L
    while (p < b.length) {
      // frame header: sync 11111111 111110xx (fixed-blocksize streams
      // have bit 1 = 0; variable-blocksize frames also parse — the
      // UTF-8 number is just wider)
      if (p + 5 > b.length) return null
      if ((b(p) & 0xff) != 0xff || ((b(p + 1) & 0xfc) != 0xf8)) return null
      val bsCode = (b(p + 2) >> 4) & 0xf
      val srCode = b(p + 2) & 0xf
      val chanAsgn = (b(p + 3) >> 4) & 0xf
      val sizeCode = (b(p + 3) >> 1) & 0x7
      // frame channel layout must match STREAMINFO: 0 = mono; 1 =
      // independent L/R; 8/9/10 = left-side / right-side / mid-side
      val stereo = chanAsgn == 1 || chanAsgn == 8 || chanAsgn == 9 ||
        chanAsgn == 10
      if (chanAsgn == 0) { if (streamChannels != 1) return null }
      else if (stereo) { if (streamChannels != 2) return null }
      else return null
      if (sizeCode != 0 && sizeCode != 4) return null // 16-bit only
      if (srCode == 0xf) return null          // invalid
      if (bsCode == 0) return null            // reserved
      var q = p + 4
      // UTF-8 coded frame/sample number: leading byte tells the width
      val lead = b(q) & 0xff
      val extra =
        if (lead < 0x80) 0
        else if (lead >= 0xc0 && lead < 0xe0) 1
        else if (lead < 0xf0) 2
        else if (lead < 0xf8) 3
        else if (lead < 0xfc) 4
        else if (lead < 0xfe) 5
        else 6
      q += 1 + extra
      // explicit blocksize field
      var blockSize = bsCode match {
        case 1 => 192
        case c if c >= 2 && c <= 5 => 576 << (c - 2)
        case 6 => -1 // 8-bit value-1 follows
        case 7 => -2 // 16-bit value-1 follows
        case c => 256 << (c - 8)
      }
      if (blockSize == -1) { if (q + 1 > b.length) return null
        blockSize = (b(q) & 0xff) + 1; q += 1 }
      else if (blockSize == -2) { if (q + 2 > b.length) return null
        blockSize = Bytes.be16(b, q).toInt + 1; q += 2 }
      // explicit sample-rate field
      if (srCode == 12) q += 1
      else if (srCode == 13 || srCode == 14) q += 2
      q += 1 // CRC-8, not verified (see scaladoc)
      if (q > b.length) return null
      if (stereo) {
        // STEREO frame: both subframes are bit-contiguous (the second
        // starts mid-byte), so the whole channel pair goes through the
        // bit reader; SIDE channels carry bps+1 = 17 bits (the spec's
        // extra bit for difference channels). Reconstruct L/R, then the
        // truncating (L+R)/2 downmix — the `audio_pcm_downmix` contract,
        // so stats over stereo FLAC and stereo WAV of the same content
        // agree exactly.
        val br = new Bytes.MsbBits(b, q, b.length)
        val bps0 = if (chanAsgn == 9) 17 else 16 // right-side: ch0 IS the side
        val bps1 = if (chanAsgn == 8 || chanAsgn == 10) 17 else 16
        val c0 = decodeSubframe(br, blockSize, bps0)
        val c1 = decodeSubframe(br, blockSize, bps1)
        var k = 0
        while (k < blockSize) {
          var l = 0
          var rr = 0
          if (chanAsgn == 1) { l = c0(k); rr = c1(k) }
          else if (chanAsgn == 8) { l = c0(k); rr = c0(k) - c1(k) }
          else if (chanAsgn == 9) { l = c0(k) + c1(k); rr = c1(k) }
          else { // mid-side: mid = (L+R)>>1 floored, side = L-R
            val side = c1(k)
            val mid2 = (c0(k) << 1) | (side & 1)
            l = (mid2 + side) >> 1
            rr = (mid2 - side) >> 1
          }
          if (l < -32768 || l > 32767 || rr < -32768 || rr > 32767)
            return null // reconstruction overflow = corrupt stream
          val v = (l + rr) / 2 // truncating, see AudioPcmDownmix
          val a = if (v < 0) -v else v
          if (a > peak) peak = a
          sumSq += v.toLong * v
          if (count + k > 0 && prev.toLong * v < 0) zc += 1
          prev = v
          k += 1
        }
        count += blockSize
        br.alignByte()
        q = br.bytePos
        q += 2 // frame CRC-16, not verified
        if (q > b.length) return null
        p = q
      } else {
      // subframe header: 1 pad bit, 6 type bits, 1 wasted-bits flag
      if (q + 1 > b.length) return null
      val sh = b(q) & 0xff
      if ((sh & 0x80) != 0 || (sh & 1) != 0) return null // pad/wasted-bits
      val typ = (sh >> 1) & 0x3f
      q += 1
      if (typ == 0) { // CONSTANT: one 16-bit sample, blockSize copies
        if (q + 2 > b.length) return null
        val v = Bytes.be16(b, q).toShort.toInt
        q += 2
        val a = if (v < 0) -v else v
        if (a > peak) peak = a
        sumSq += v.toLong * v * blockSize
        // sign flips only at the boundary with the previous frame
        if (count > 0 && prev.toLong * v < 0) zc += 1
        prev = v
        count += blockSize
      } else if (typ == 1) { // VERBATIM: blockSize 16-bit samples
        if (q + 2L * blockSize > b.length) return null
        var k = 0
        while (k < blockSize) {
          val v = Bytes.be16(b, q + 2 * k).toShort.toInt
          val a = if (v < 0) -v else v
          if (a > peak) peak = a
          sumSq += v.toLong * v
          if (count + k > 0 && prev.toLong * v < 0) zc += 1
          prev = v
          k += 1
        }
        q += 2 * blockSize
        count += blockSize
      } else if ((typ >= 8 && typ <= 12) || typ >= 32) {
        // FIXED (order typ-8, 0..4) or LPC (order (typ&31)+1): bit-aligned
        // warmup + Rice residual partitions + exact integer prediction
        val lpc = typ >= 32
        val order = if (lpc) (typ & 0x1f) + 1 else typ - 8
        if (order > blockSize) return null
        val br = new Bytes.MsbBits(b, q, b.length)
        val samples = decodePredicted(br, blockSize, order, lpc, 16)
        var k = 0
        while (k < blockSize) {
          val v = samples(k)
          if (v < -32768 || v > 32767) return null // predictor overflow = corrupt
          val a = if (v < 0) -v else v
          if (a > peak) peak = a
          sumSq += v.toLong * v
          if (count + k > 0 && prev.toLong * v < 0) zc += 1
          prev = v
          k += 1
        }
        count += blockSize
        br.alignByte() // subframe bodies end on a bit; the frame pads to a byte
        q = br.bytePos
      } else return null // reserved subframe types — refuse
      q += 2 // frame CRC-16, not verified
      if (q > b.length) return null
      p = q
      }
    }
    if (totalSamples != 0 && count != totalSamples) return null
    if (count > Int.MaxValue) return null
    new GenericInternalRow(Array[Any](count.toInt, peak, sumSq, zc))
  }
}
