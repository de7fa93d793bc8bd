package graft.functions

/** IMA/DVI ADPCM (WAV format tag 0x11) → 16-bit PCM WAV — the
  * compressed-audio sample-decode mile: 4-bit adaptive-delta nibbles
  * expand through the published step/index tables (the IMA "Recommended
  * Practices for Enhancing Digital Audio Compatibility" algorithm, also
  * RFC 3551 §4.5.1 DVI4) into full PCM, feeding the existing integer
  * stats contract (`audio_pcm_stats`, VAD, fingerprints) exactly like
  * the FLAC and G.711 paths.
  *
  * `adpcm_to_pcm(binary)`: mono IMA ADPCM WAV in → canonical mono
  * 16-bit PCM WAV out (the [[AudioResample]] container shape), or null.
  * Block layout per the IMA WAV mapping: each `block_align`-sized block
  * starts with a 4-byte header (int16 LE predictor = sample 0, uint8
  * step index, reserved byte) followed by packed nibbles, LOW nibble
  * first; `samples_per_block` comes from the fmt extension and must
  * match the block geometry. Pure integer arithmetic with NO rounding
  * freedom — a correct decoder is bit-exact, so the committed fixtures
  * (tools/gen_adpcm_fixtures.py, an independent from-spec python
  * encoder) carry EXACT expected-PCM sidecars.
  *
  * Whole-or-refuse: null for stereo, a non-0x11 format tag, missing or
  * short fmt extension, bits-per-sample ≠ 4, truncated/ragged blocks,
  * step index > 88 in any block header, a `fact` chunk disagreeing
  * with the decoded sample count.
  */
object ImaAdpcm {

  private[graft] val Step: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  private[graft] val IndexAdj: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** Decompression-bomb ceiling shared with the resampler's posture. */
  private val MaxSamples = 1 << 24

  /** `adpcm_to_pcm(binary)` → decoded 16-bit PCM WAV bytes, or null. */
  def decode(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 12) return null
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return null
    var p = 12
    var fmtOk = false
    var rate = 0
    var blockAlign = 0
    var spb = 0
    var factSamples = -1L
    var dataAt = -1
    var dataLen = -1L
    while (p + 8 <= b.length) {
      val size = Bytes.le32(b, p + 4)
      if (size < 0 || p + 8L + size > b.length) return null
      if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' && b(p + 3) == ' ') {
        // tag 0x11, mono, 4 bits/sample, 2-byte extension: samplesPerBlock
        if (size < 20) return null
        rate = Bytes.le32(b, p + 12).toInt
        blockAlign = Bytes.le16(b, p + 20).toInt
        spb = Bytes.le16(b, p + 26).toInt
        fmtOk = Bytes.le16(b, p + 8) == 0x11 && Bytes.le16(b, p + 10) == 1 &&
          Bytes.le16(b, p + 22) == 4 && Bytes.le16(b, p + 24) >= 2 && rate > 0 &&
          blockAlign >= 5 && spb == (blockAlign - 4) * 2 + 1
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
      var pred = Bytes.le16(b, at).toShort.toInt
      var idx = b(at + 2) & 0xff
      if (idx > 88) return null
      emit(pred)
      var k = 0
      val nNibbles = (blockAlign - 4) * 2
      while (k < nNibbles) {
        val byte = b(at + 4 + (k >> 1)) & 0xff
        val delta = if ((k & 1) == 0) byte & 0x0f else byte >> 4
        val step = Step(idx)
        var vpdiff = step >> 3
        if ((delta & 4) != 0) vpdiff += step
        if ((delta & 2) != 0) vpdiff += step >> 1
        if ((delta & 1) != 0) vpdiff += step >> 2
        pred = if ((delta & 8) != 0) pred - vpdiff else pred + vpdiff
        if (pred > 32767) pred = 32767 else if (pred < -32768) pred = -32768
        idx += IndexAdj(delta & 7)
        if (idx < 0) idx = 0 else if (idx > 88) idx = 88
        emit(pred)
        k += 1
      }
      blk += 1
    }
    // canonical mono 16-bit PCM container (the AudioResample shape)
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
