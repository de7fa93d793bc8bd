package graft.functions

/** `audio_resample(wav, dst_rate) → wav` — LINEAR-interpolation
  * resampling of mono 16-bit PCM RIFF/WAVE to a target rate, the
  * rate-normalization step every speech pipeline runs before feature
  * extraction (ASR stacks standardize on 16 kHz; telephony corpora
  * arrive at 8 kHz, consumer audio at 44.1/48 kHz).
  *
  * EXACT RATIONAL INDEXING, no floats: output sample j sits at source
  * position j·srcRate/dstRate; with num = j·srcRate, i = num div
  * dstRate and fn = num mod dstRate the value is
  * `s_i + (s_{i+1} − s_i)·fn quot dstRate` — quot is TRUNCATING
  * division (Java `/`, Spark `div`, DuckDB `//` all truncate, so an
  * oracle replays the waveform bit for bit, negative differences
  * included). nOut = (n−1)·dstRate div srcRate + 1; the final index
  * lands exactly on s_{n−1} (fn = 0 there by construction, guarded).
  *
  * Whole-or-refuse: anything but a complete mono 16-bit PCM WAV, a
  * non-positive target rate, or an output above [[MaxOutSamples]]
  * nulls out — a resampler that guesses emits garbage training audio.
  *
  * Scale shape: scalar expression, scan-side; composes with
  * `audio_pcm_stats(audio_resample(x, r))` in one codegen stage.
  */
object AudioResample {

  val MaxOutSamples: Int = 1 << 24 // ~16M samples ≈ 17 min @ 16 kHz

  /** Invoked from both interpreted eval and generated code. */
  def resample(b: Array[Byte], dstRate: Int): Array[Byte] = {
    if (b == null || b.length < 12 || dstRate <= 0) return null
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return null
    var p = 12
    var fmtOk = false
    var srcRate = 0
    var dataAt = -1
    var dataLen = -1L
    while (p + 8 <= b.length) {
      val size = Bytes.le32(b, p + 4)
      if (size < 0 || p + 8L + size > b.length) return null
      if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' && b(p + 3) == ' ') {
        if (size < 16) return null
        srcRate = Bytes.le32(b, p + 12).toInt
        fmtOk = Bytes.le16(b, p + 8) == 1 && Bytes.le16(b, p + 10) == 1 &&
          Bytes.le16(b, p + 22) == 16 && srcRate > 0
      } else if (b(p) == 'd' && b(p + 1) == 'a' && b(p + 2) == 't' &&
                 b(p + 3) == 'a') {
        dataAt = p + 8
        dataLen = size
      }
      p += (8 + size + (size & 1)).toInt
    }
    if (!fmtOk || dataAt < 0 || dataLen % 2 != 0) return null
    val n = (dataLen / 2).toInt
    if (n == 0) return null
    def sample(idx: Int): Int = Bytes.le16(b, dataAt + 2 * idx).toShort.toInt
    val nOutL = (n - 1).toLong * dstRate / srcRate + 1
    if (nOutL <= 0 || nOutL > MaxOutSamples) return null
    val nOut = nOutL.toInt
    val data = new Array[Byte](2 * nOut)
    var j = 0
    while (j < nOut) {
      val num = j.toLong * srcRate
      val i = (num / dstRate).toInt
      val fn = num % dstRate
      val s =
        if (fn == 0L) sample(i)
        else sample(i) + (((sample(i + 1) - sample(i)).toLong * fn) / dstRate).toInt
      data(2 * j) = (s & 0xff).toByte
      data(2 * j + 1) = ((s >> 8) & 0xff).toByte
      j += 1
    }
    // minimal canonical container: RIFF(WAVE fmt(16, PCM mono 16-bit
    // dstRate) data)
    val out = new Array[Byte](44 + data.length)
    def w4(at: Int, s: String): Unit = { var k = 0; while (k < 4) { out(at + k) = s.charAt(k).toByte; k += 1 } }
    def wle(at: Int, v: Long, bytes: Int): Unit = {
      var k = 0; while (k < bytes) { out(at + k) = ((v >> (8 * k)) & 0xff).toByte; k += 1 }
    }
    w4(0, "RIFF"); wle(4, 36L + data.length, 4); w4(8, "WAVE")
    w4(12, "fmt "); wle(16, 16, 4); wle(20, 1, 2); wle(22, 1, 2)
    wle(24, dstRate, 4); wle(28, 2L * dstRate, 4); wle(32, 2, 2); wle(34, 16, 2)
    w4(36, "data"); wle(40, data.length, 4)
    System.arraycopy(data, 0, out, 44, data.length)
    out
  }
}
