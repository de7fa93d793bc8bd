package graft.functions

/** Microsoft ADPCM (WAV format tag 0x0002) → 16-bit PCM WAV — the
  * second compressed-audio sample-decode path next to [[ImaAdpcm]].
  * Each nibble corrects a two-tap linear prediction
  * `trunc((s1*c1 + s2*c2) / 256) + signed_nibble * delta` with the
  * per-nibble step adaptation `delta = max(16, adapt[nibble]*delta/256)`
  * from the published WAVE spec (MultimediaRegistration / RIFF New
  * Multimedia Data Types, wFormatTag 2). Divisions truncate toward
  * zero exactly as the spec's C pseudo-code does.
  *
  * The predictor coefficient pairs are READ FROM THE FILE's fmt
  * extension (the spec requires the 7 standard pairs first but allows
  * more) — the decoder carries no coefficient table of its own; only
  * the 16-entry adaptation table is fixed spec data.
  *
  * `msadpcm_to_pcm(binary)`: mono MS ADPCM WAV in → canonical mono
  * 16-bit PCM WAV out (the [[AudioResample]] container shape), or
  * null. Mono block layout: bPredictor u8 (< wNumCoef), iDelta i16 LE
  * (> 0), iSamp1 i16, iSamp2 i16, then packed nibbles HIGH nibble
  * first; the two header samples are emitted oldest (iSamp2) first.
  * Pure integer arithmetic with no rounding freedom — the committed
  * fixtures (tools/gen_msadpcm_fixtures.py, an independent from-spec
  * python encoder) carry EXACT expected-PCM sidecars.
  *
  * Whole-or-refuse: null for stereo, a non-0x02 tag, bits-per-sample
  * != 4, a fmt extension shorter than its coefficient count, a
  * samples-per-block disagreeing with the block geometry, predictor
  * index out of range, non-positive header delta, ragged blocks, or a
  * `fact` chunk disagreeing with the decoded sample count.
  */
object MsAdpcm {

  /** Standard coefficient pairs (files carry them; kept here for the
    * fixture generator and oracle replay, not used by the decoder). */
  private[graft] val Coef1: Array[Int] = Array(256, 512, 0, 192, 240, 460, 392)
  private[graft] val Coef2: Array[Int] = Array(0, -256, 0, 64, 0, -208, -232)

  /** Per-nibble step adaptation (RIFF spec, wFormatTag 2). */
  private[graft] val Adapt: Array[Int] = Array(
    230, 230, 230, 230, 307, 409, 512, 614, 768,
    614, 512, 409, 307, 230, 230, 230)

  private val MaxSamples = 1 << 24

  /** `msadpcm_to_pcm(binary)` → decoded 16-bit PCM WAV bytes, or null. */
  def decode(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 12) return null
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return null
    var p = 12
    var fmtOk = false
    var rate = 0
    var blockAlign = 0
    var spb = 0
    var c1: Array[Int] = null
    var c2: Array[Int] = null
    var factSamples = -1L
    var dataAt = -1
    var dataLen = -1L
    while (p + 8 <= b.length) {
      val size = Bytes.le32(b, p + 4)
      if (size < 0 || p + 8L + size > b.length) return null
      if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' && b(p + 3) == ' ') {
        if (size < 30) return null // 18 base + spb + nCoef + >=1 pair
        rate = Bytes.le32(b, p + 12).toInt
        blockAlign = Bytes.le16(b, p + 20).toInt
        val cb = Bytes.le16(b, p + 24).toInt
        spb = Bytes.le16(b, p + 26).toInt
        val nCoef = Bytes.le16(b, p + 28).toInt
        fmtOk = Bytes.le16(b, p + 8) == 0x02 && Bytes.le16(b, p + 10) == 1 &&
          Bytes.le16(b, p + 22) == 4 && rate > 0 && blockAlign >= 8 &&
          nCoef >= 1 && cb >= 4 + 4 * nCoef && size >= 22 + 4 * nCoef &&
          spb == (blockAlign - 7) * 2 + 2
        if (fmtOk) {
          c1 = new Array[Int](nCoef)
          c2 = new Array[Int](nCoef)
          var k = 0
          while (k < nCoef) {
            c1(k) = Bytes.le16(b, p + 30 + 4 * k).toShort.toInt
            c2(k) = Bytes.le16(b, p + 32 + 4 * k).toShort.toInt
            k += 1
          }
        }
      } else if (b(p) == 'f' && b(p + 1) == 'a' && b(p + 2) == 'c' &&
          b(p + 3) == 't') {
        if (size < 4) return null
        factSamples = Bytes.le32(b, p + 8)
      } else if (b(p) == 'd' && b(p + 1) == 'a' && b(p + 2) == 't' &&
          b(p + 3) == 'a') {
        dataAt = p + 8
        dataLen = size
      }
      p += (8 + size + (size & 1)).toInt
    }
    if (!fmtOk || dataAt < 0 || dataLen <= 0) return null
    if (dataLen % blockAlign != 0) return null // ragged final block
    val nBlocks = (dataLen / blockAlign).toInt
    val nOut = nBlocks.toLong * spb
    if (nOut > MaxSamples) return null
    if (factSamples >= 0 && factSamples != nOut) return null
    val data = new Array[Byte](2 * nOut.toInt)
    var o = 0
    def emit(s: Int): Unit = {
      data(o) = (s & 0xff).toByte
      data(o + 1) = ((s >> 8) & 0xff).toByte
      o += 2
    }
    var blk = 0
    while (blk < nBlocks) {
      val at = dataAt + blk * blockAlign
      val predIdx = b(at) & 0xff
      if (predIdx >= c1.length) return null
      var delta = Bytes.le16(b, at + 1).toShort.toLong
      if (delta <= 0) return null
      var s1 = Bytes.le16(b, at + 3).toShort.toInt
      var s2 = Bytes.le16(b, at + 5).toShort.toInt
      emit(s2) // oldest first
      emit(s1)
      val co1 = c1(predIdx)
      val co2 = c2(predIdx)
      var k = 0
      val nNibbles = (blockAlign - 7) * 2
      while (k < nNibbles) {
        val byte = b(at + 7 + (k >> 1)) & 0xff
        val nib = if ((k & 1) == 0) byte >> 4 else byte & 0x0f // HIGH first
        val snib = if (nib >= 8) nib - 16 else nib
        // spec pseudo-code: C division, truncating toward zero
        var pred = (s1.toLong * co1 + s2.toLong * co2) / 256 + snib * delta
        if (pred > 32767) pred = 32767 else if (pred < -32768) pred = -32768
        delta = math.max(16L, Adapt(nib) * delta / 256)
        // the spec has no upper clamp; a hostile stream pumping nibble
        // 8 could grow delta without bound — refuse, never overflow
        if (delta > (1L << 24)) return null
        s2 = s1
        s1 = pred.toInt
        emit(pred.toInt)
        k += 1
      }
      blk += 1
    }
    val out = new Array[Byte](44 + data.length)
    def w4(at: Int, s: String): Unit = {
      var k = 0; while (k < 4) { out(at + k) = s.charAt(k).toByte; k += 1 }
    }
    def wle(at: Int, v: Long, bytes: Int): Unit = {
      var k = 0
      while (k < bytes) { out(at + k) = ((v >> (8 * k)) & 0xff).toByte; k += 1 }
    }
    w4(0, "RIFF"); wle(4, 36L + data.length, 4); w4(8, "WAVE")
    w4(12, "fmt "); wle(16, 16, 4); wle(20, 1, 2); wle(22, 1, 2)
    wle(24, rate, 4); wle(28, 2L * rate, 4); wle(32, 2, 2); wle(34, 16, 2)
    w4(36, "data"); wle(40, data.length, 4)
    System.arraycopy(data, 0, out, 44, data.length)
    out
  }
}
