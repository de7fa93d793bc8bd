package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData

/** Mel-filterbank energies over decoded PCM — the speech-curation gate
  * stats-only signals can't provide (silence/music/speech priors need
  * SPECTRAL shape, not just peak/RMS/zero-crossings): a fixed-point
  * 64-point DFT power spectrum of the first analysis window, folded
  * through [[AudioMel.NumMels]] triangular mel filters (HTK mel scale,
  * 2595·log10(1+hz/700)).
  *
  * Everything is INTEGER once the table constants exist — the
  * [[ImageHash]] pHash DCT posture: cos/sin bases are
  * rint(16384·cos/sin(2πfk/64)) and the mel weights
  * rint(1024·triangle), both from StrictMath (bit-identical on every
  * JVM); spectra divide by the same powers of two with Java's
  * truncating division, so a SQL oracle replays every product, sum,
  * and division exactly.
  *
  * Input contract matches [[AudioResample]]: RIFF/WAVE, mono 16-bit
  * PCM, unknown chunks walked; anything else refuses to null
  * (whole-or-refuse). Scale shape: one scan-side expression — blobs
  * never shuffle.
  */
object AudioMel {

  /** Analysis window (samples); shorter data zero-pads. */
  val WindowSamples: Int = 64
  /** Spectrum bins 0..32 (DC..Nyquist). */
  val NumBins: Int = WindowSamples / 2 + 1
  /** Mel bands emitted. */
  val NumMels: Int = 8
  /** Sample rate the mel edges are laid out for. */
  val SampleRate: Int = 16000

  /** cosBasis(f)(k) = rint(16384·cos(2π·f·k/64)) — fixed-point DFT
    * row for bin f; [[sinBasis]] the −imaginary part's sine. Public:
    * the SQL oracle embeds these very values as literals. */
  val cosBasis: Array[Array[Long]] = Array.tabulate(NumBins, WindowSamples) {
    (f, k) =>
      StrictMath.rint(16384.0 *
        StrictMath.cos(2.0 * StrictMath.PI * f * k / WindowSamples)).toLong
  }
  val sinBasis: Array[Array[Long]] = Array.tabulate(NumBins, WindowSamples) {
    (f, k) =>
      StrictMath.rint(16384.0 *
        StrictMath.sin(2.0 * StrictMath.PI * f * k / WindowSamples)).toLong
  }

  /** melWeights(m)(f) = rint(1024·triangle_m(f·250 Hz)) — HTK
    * triangular filters with [[NumMels]]+2 edges equally spaced on the
    * mel axis from 0 to mel(Nyquist). */
  val melWeights: Array[Array[Long]] = {
    def mel(hz: Double): Double =
      2595.0 * StrictMath.log10(1.0 + hz / 700.0)
    def hz(m: Double): Double =
      700.0 * (StrictMath.pow(10.0, m / 2595.0) - 1.0)
    val top = mel(SampleRate / 2.0)
    val edges = Array.tabulate(NumMels + 2)(i => hz(i * top / (NumMels + 1)))
    Array.tabulate(NumMels, NumBins) { (m, f) =>
      val c = f.toDouble * SampleRate / WindowSamples
      val (lo, mid, hi) = (edges(m), edges(m + 1), edges(m + 2))
      val tri =
        if (c <= lo || c >= hi) 0.0
        else if (c <= mid) (c - lo) / (mid - lo)
        else (hi - c) / (hi - mid)
      StrictMath.rint(1024.0 * tri).toLong
    }
  }

  /** Frame hop for [[melFrames]] (50% overlap). */
  val HopSamples: Int = 32
  /** Spectrogram length cap — frames beyond it refuse, like every
    * other decode ceiling here. */
  val MaxFrames: Int = 4096

  /** Decoded mono 16-bit 16 kHz samples, or null (refused). */
  private def parsePcm(b: Array[Byte]): Array[Long] = {
    if (b == null || b.length < 12) return null
    if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return null
    var p = 12
    var fmtOk = false
    var dataAt = -1
    var dataLen = 0L
    while (p + 8 <= b.length && (dataAt < 0 || !fmtOk)) {
      val size = Bytes.le32(b, p + 4)
      if (size < 0 || p + 8 + size > b.length) return null
      if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' &&
        b(p + 3) == ' ') {
        if (size < 16) return null
        // rate pinned to the mel layout's 16 kHz — resample first
        // (audio_resample) rather than silently mis-binning
        fmtOk = Bytes.le16(b, p + 8) == 1 && Bytes.le16(b, p + 10) == 1 &&
          Bytes.le16(b, p + 22) == 16 && Bytes.le32(b, p + 12) == SampleRate
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
    val s = new Array[Long](n)
    var k = 0
    while (k < n) {
      val i = dataAt + 2 * k
      s(k) = Bytes.le16(b, i).toShort.toLong
      k += 1
    }
    s
  }

  /** Mel energies of the window starting at sample `off` (zero-padded
    * past the end). */
  private def windowEnergies(s: Array[Long], off: Int): Array[Any] = {
    val pw = new Array[Long](NumBins)
    var f = 0
    while (f < NumBins) {
      var re = 0L
      var im = 0L
      val cr = cosBasis(f)
      val si = sinBasis(f)
      var k = 0
      val m = math.min(WindowSamples, s.length - off)
      while (k < m) {
        re += s(off + k) * cr(k)
        im += s(off + k) * si(k)
        k += 1
      }
      val rs = re / 16384L // truncating, replayed by SQL //
      val is = im / 16384L
      pw(f) = rs * rs + is * is
      f += 1
    }
    val out = new Array[Any](NumMels)
    var b2 = 0
    while (b2 < NumMels) {
      var acc = 0L
      val w = melWeights(b2)
      f = 0
      while (f < NumBins) { acc += w(f) * pw(f); f += 1 }
      out(b2) = acc / 1024L
      b2 += 1
    }
    out
  }

  /** `audio_mel(binary)` → array<long> mel band energies or null.
    *
    * Mel band energies of the first window, or null (refused). */
  def mel(b: Array[Byte]): GenericArrayData = {
    val s = parsePcm(b)
    if (s == null) null else new GenericArrayData(windowEnergies(s, 0))
  }

  /** `audio_frame_energy(binary)` → array<long> per-frame Σs² or null.
    *
    * Per-frame Σs² energies on the SAME framing grid as [[melFrames]]
    * ([[HopSamples]] hop, [[WindowSamples]] window, tail zero-padded) —
    * the time-domain signal VAD gates on: no DFT needed to know where
    * the silence is, so voice-activity segmentation costs a scan, not
    * a spectrogram. Samples are ≤ 2¹⁵ so Σ over 64 of s² fits far
    * inside a long; every value is exact integer work a SQL oracle
    * replays from the fixture formula. Same parse/refusal contract as
    * [[mel]]. */
  def frameEnergies(b: Array[Byte]): GenericArrayData = {
    val s = parsePcm(b)
    if (s == null) return null
    val nf = (s.length + HopSamples - 1) / HopSamples
    if (nf > MaxFrames) return null
    val out = new Array[Any](nf)
    var f = 0
    while (f < nf) {
      val off = f * HopSamples
      val m = math.min(WindowSamples, s.length - off)
      var acc = 0L
      var k = 0
      while (k < m) { val v = s(off + k); acc += v * v; k += 1 }
      out(f) = acc
      f += 1
    }
    new GenericArrayData(out)
  }

  /** `audio_mel_frames(binary)` → array<array<long>> spectrogram or null.
    *
    * The full mel SPECTROGRAM — one [[NumMels]]-band energy row per
    * [[HopSamples]]-hop frame (50% window overlap, the standard
    * speech-feature grain): frame f covers samples [f·hop, f·hop+64),
    * the tail zero-padded. Refuses past [[MaxFrames]] like every other
    * decode ceiling. Same fixed-point arithmetic as [[mel]] (which is
    * exactly frame 0). */
  def melFrames(b: Array[Byte]): GenericArrayData = {
    val s = parsePcm(b)
    if (s == null) return null
    val nf = (s.length + HopSamples - 1) / HopSamples
    if (nf > MaxFrames) return null
    val frames = new Array[Any](nf)
    var f = 0
    while (f < nf) {
      frames(f) = new GenericArrayData(windowEnergies(s, f * HopSamples))
      f += 1
    }
    new GenericArrayData(frames)
  }
}
