package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.functions.expr

import graft.SparkSuite

/** Sample-level WAV decode: exact stats on a hand-built waveform, the
  * chunk walk past leading junk, 8/24-bit widths, FLAC constant/verbatim
  * frames, and the null-not-garbage refusals (stereo, unsupported width,
  * non-PCM, truncated data, odd data size, Rice-coded subframes).
  */
class AudioPcmSpec extends SparkSuite {

  /** Minimal RIFF/WAVE builder — fmt (tag/channels/bits) + data chunk.
    * `dataBits` controls how samples are physically written (defaults to
    * the declared `bits`): 8-bit unsigned centered, 16/24-bit signed LE.
    */
  private def wav(samples: Seq[Int], tag: Int = 1, channels: Int = 1,
                  bits: Int = 16, junk: Int = 0,
                  truncateData: Int = 0, rate: Int = 16000): Array[Byte] = {
    val bps = if (bits == 8) 1 else if (bits == 24) 3 else 2
    val data = ByteBuffer.allocate(samples.size * bps)
      .order(ByteOrder.LITTLE_ENDIAN)
    samples.foreach { s =>
      bps match {
        case 1 => data.put((s + 128).toByte)
        case 2 => data.putShort(s.toShort)
        case 3 => data.put(s.toByte).put((s >> 8).toByte).put((s >> 16).toByte)
      }
    }
    val dataBytes = data.array().dropRight(truncateData)
    val body = ByteBuffer.allocate(1024).order(ByteOrder.LITTLE_ENDIAN)
    body.put("WAVE".getBytes)
    if (junk > 0) {
      body.put("JUNK".getBytes).putInt(junk).put(new Array[Byte](junk))
    }
    body.put("fmt ".getBytes).putInt(16)
      .putShort(tag.toShort).putShort(channels.toShort)
      .putInt(rate).putInt(rate * channels * bits / 8)
      .putShort((channels * bits / 8).toShort).putShort(bits.toShort)
    body.put("data".getBytes).putInt(dataBytes.length).put(dataBytes)
    val n = body.position()
    val out = ByteBuffer.allocate(8 + n).order(ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(n).put(body.array(), 0, n)
    out.array()
  }

  private def stats(b: Array[Byte]): Option[(Int, Int, Long, Int)] =
    Option(AudioPcmStats.stats(b)).map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3)))

  test("exact stats on a known waveform, junk chunk walked") {
    // 0 never counts as a crossing; -32768 peaks at 32768
    val s = Seq(100, -200, 0, 300, -32768, 5)
    val expectSq = s.map(x => x.toLong * x).sum
    // crossings: 100→-200 (1), -200→0 (no), 0→300 (no), 300→-32768 (2),
    // -32768→5 (3)
    assert(stats(wav(s)) == Some((6, 32768, expectSq, 3)))
    assert(stats(wav(s, junk = 6)) == Some((6, 32768, expectSq, 3)))
  }

  test("null, never garbage: stereo, odd width, non-PCM, truncated, odd data") {
    val s = Seq(1, -1, 2, -2)
    assert(stats(wav(s, channels = 2)).isEmpty, "stereo must refuse")
    assert(stats(wav(s, bits = 12)).isEmpty, "12-bit must refuse")
    assert(stats(wav(s, bits = 32)).isEmpty, "32-bit must refuse")
    assert(stats(wav(s, tag = 3)).isEmpty, "IEEE-float tag must refuse")
    assert(stats(wav(s, truncateData = 1)).isEmpty, "odd data size must refuse")
    val whole = wav(s)
    assert(stats(whole.dropRight(3)).isEmpty, "truncated container must refuse")
    assert(stats("RIFFxxxxWAVE".getBytes).isEmpty, "no chunks must refuse")
    assert(stats(Array[Byte]()).isEmpty)
  }

  test("8-bit unsigned centering and 24-bit sign extension are exact") {
    // 8-bit: stored v+128, decoded back to v; full-scale −128 peaks 128
    val s8 = Seq(0, 127, -128, 5, -5)
    val sq8 = s8.map(x => x.toLong * x).sum
    assert(stats(wav(s8, bits = 8)) == Some((5, 128, sq8, 3)),
      "crossings: 127→−128, −128→5, 5→−5")
    // 24-bit: signed LE; full-scale negative peaks 8388608, and a value
    // with bit 23 set must come back negative, not as 8-million-positive
    val s24 = Seq(8388607, -8388608, 1000000, -1)
    val sq24 = s24.map(x => x.toLong * x).sum
    assert(stats(wav(s24, bits = 24)) == Some((4, 8388608, sq24, 3)))
  }

  test("codegen and interpreted paths agree on the fixture query shape") {
    import spark.implicits._
    val df = Seq((1L, wav(Seq(10, -10, 20))), (2L, wav(Seq(0, 0, 0))))
      .toDF("id", "blob")
      .selectExpr("id", "audio_pcm_stats(blob) AS st")
      .selectExpr("id", "st.n_samples", "st.peak", "st.sum_sq",
        "st.zero_crossings")
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4))).toSet
    assert(rows == Set((1L, 3, 20, 600L, 2), (2L, 3, 0, 0L, 0)))
  }

  /** Minimal FLAC builder: STREAMINFO + frames. Each frame is either
    * Left(constant, blockSize) or Right(samples) (verbatim); mono 16-bit
    * keeps every field byte-aligned. Blocksize code 0111 (explicit
    * 16-bit), sample-rate code 0 (from STREAMINFO).
    */
  private def flac(frames: Seq[Either[(Int, Int), Seq[Int]]],
                   channels: Int = 1, bits: Int = 16,
                   totalOverride: Long = -1L): Array[Byte] = {
    val total =
      if (totalOverride >= 0) totalOverride
      else frames.map { case Left((_, n)) => n; case Right(s) => s.size }
        .map(_.toLong).sum
    val bb = ByteBuffer.allocate(65536)
    bb.put("fLaC".getBytes)
    bb.put(0x80.toByte).put(0.toByte).put(0.toByte).put(34.toByte)
    bb.putShort(16).putShort(-1) // min/max blocksize
    bb.put(new Array[Byte](6))   // min/max framesize (24-bit each)
    val packed = (16000L << 44) | ((channels - 1).toLong << 41) |
      ((bits - 1).toLong << 36) | total
    bb.putLong(packed)
    bb.put(new Array[Byte](16)) // MD5
    frames.zipWithIndex.foreach { case (fr, i) =>
      val n = fr.fold(_._2, _.size)
      bb.put(0xff.toByte).put(0xf8.toByte).put(0x70.toByte).put(0x08.toByte)
      bb.put(i.toByte)            // UTF-8 frame number (< 128)
      bb.putShort((n - 1).toShort) // explicit blocksize
      bb.put(0.toByte)            // CRC-8 (unverified)
      fr match {
        case Left((v, _)) => bb.put(0x00.toByte).putShort(v.toShort)
        case Right(s) =>
          bb.put(0x02.toByte); s.foreach(v => bb.putShort(v.toShort))
      }
      bb.putShort(0) // CRC-16 (unverified)
    }
    val out = new Array[Byte](bb.position()); bb.flip(); bb.get(out); out
  }

  private def fstats(b: Array[Byte]): Option[(Int, Int, Long, Int)] =
    Option(AudioFlacStats.stats(b)).map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3)))

  test("flac: constant + verbatim frames decode to exact stats") {
    // constant run of 5×(−40), then verbatim 30, −10, 0, 7
    val b = flac(Seq(Left((-40, 5)), Right(Seq(30, -10, 0, 7))))
    val sq = 5L * 40 * 40 + 900 + 100 + 0 + 49
    // crossings: −40→30 (run boundary), 30→−10; −10→0→7 never flip
    assert(fstats(b) == Some((9, 40, sq, 2)))
    // constant-only stream: a run has no internal crossings
    assert(fstats(flac(Seq(Left((100, 7))))) == Some((7, 100, 7L * 10000, 0)))
    // two constant runs of opposite sign: exactly one boundary crossing
    assert(fstats(flac(Seq(Left((3, 4)), Left((-2, 3))))) ==
      Some((7, 3, 4L * 9 + 3L * 4, 1)))
  }

  test("flac: refusals — rice subframes, stereo, width, truncation, count") {
    val ok = flac(Seq(Right(Seq(1, -2, 3))))
    assert(fstats(ok).isDefined)
    // FIXED subframe (type 8): Rice-coded residuals — documented refusal
    val fixedSub = ok.clone()
    // subframe header byte is 9 before the end: [hdr][3×2 samples][crc16]
    fixedSub(fixedSub.length - 9) = 0x10 // type bits 001000 → FIXED order 0
    assert(fstats(fixedSub).isEmpty, "FIXED subframe must refuse")
    assert(fstats(flac(Seq(Right(Seq(1, 2))), channels = 2)).isEmpty,
      "stereo STREAMINFO must refuse")
    assert(fstats(flac(Seq(Right(Seq(1, 2))), bits = 24)).isEmpty,
      "24-bit STREAMINFO must refuse")
    assert(fstats(ok.dropRight(3)).isEmpty, "truncated stream must refuse")
    assert(fstats(flac(Seq(Right(Seq(1, 2))), totalOverride = 5)).isEmpty,
      "decoded count must match STREAMINFO total-samples")
    assert(fstats("fLaC".getBytes).isEmpty)
  }

  private def g711wav(bytes: Seq[Int], tag: Int): Array[Byte] = {
    val body = ByteBuffer.allocate(256).order(ByteOrder.LITTLE_ENDIAN)
    body.put("WAVE".getBytes)
    body.put("fmt ".getBytes).putInt(16)
      .putShort(tag.toShort).putShort(1.toShort)
      .putInt(8000).putInt(8000).putShort(1.toShort).putShort(8.toShort)
    body.put("data".getBytes).putInt(bytes.length)
    bytes.foreach(b => body.put(b.toByte))
    val n = body.position()
    val out = ByteBuffer.allocate(8 + n).order(ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(n).put(body.array(), 0, n)
    out.array()
  }

  test("g711: ITU endpoint values expand exactly (both laws)") {
    // μ-law: 0xFF and 0x7F are the two zeros; 0x00 is -32124 (the
    // table maximum magnitude 8031 × 4); A-law: 0x55/0xD5 are ∓8 (no
    // true zero), 0x2A is -32256 (4032 × 8)
    assert(AudioPcmStats.ulaw2linear(0xFF) == 0)
    assert(AudioPcmStats.ulaw2linear(0x7F) == 0)
    assert(AudioPcmStats.ulaw2linear(0x00) == -32124)
    assert(AudioPcmStats.ulaw2linear(0x80) == 32124)
    assert(AudioPcmStats.alaw2linear(0x55) == -8)
    assert(AudioPcmStats.alaw2linear(0xD5) == 8)
    assert(AudioPcmStats.alaw2linear(0x2A) == -32256)
    assert(AudioPcmStats.alaw2linear(0xAA) == 32256)
    // stats over a known μ-law run: [-32124, 0, +32124] → 2 crossings
    // is wrong (0 breaks the sign run): exactly 0 crossings with the
    // strict prev*s<0 contract, peak 32124
    val r = Option(AudioPcmStats.statsG711(
      g711wav(Seq(0x00, 0xFF, 0x80), tag = 7))).map(x =>
      (x.getInt(0), x.getInt(1), x.getLong(2), x.getInt(3)))
    assert(r.contains((3, 32124,
      2L * 32124L * 32124L, 0)))
    // direct sign flip does count
    val r2 = Option(AudioPcmStats.statsG711(
      g711wav(Seq(0x00, 0x80), tag = 7))).map(_.getInt(3))
    assert(r2.contains(1))
  }

  test("g711: refusals — linear tag here, companded tag in stats, stereo, width") {
    val ul = g711wav(Seq(0x00, 0x80), tag = 7)
    assert(AudioPcmStats.stats(ul) == null) // linear decoder refuses G.711
    assert(AudioPcmStats.statsG711(wav(Seq(1, -1))) == null) // and vice versa
    assert(AudioPcmStats.statsG711(g711wav(Seq(0x00), tag = 2)) == null)
    assert(AudioPcmStats.statsG711(ul.dropRight(1)) == null)
    assert(AudioPcmStats.statsG711(Array[Byte]()) == null)
    // A-law parity: the same byte stream under the other law differs
    val a = AudioPcmStats.statsG711(g711wav(Seq(0x12, 0x34), tag = 6))
    val u = AudioPcmStats.statsG711(g711wav(Seq(0x12, 0x34), tag = 7))
    assert(a != null && u != null && a.getLong(2) != u.getLong(2))
  }

  test("stereo downmix: truncating (L+R)/2, parity with pre-mixed mono") {
    def dm(b: Array[Byte]): Option[(Int, Int, Long, Int)] =
      Option(AudioPcmStats.statsDownmix(b)).map(r =>
        (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    // frames (L, R): (100, 201) -> 150 (truncates from 150.5);
    // (-100, -201) -> -150 (toward zero, NOT floor -151); (5, -4) -> 0;
    // (-7, 2) -> -2
    val stereo = wav(Seq(100, 201, -100, -201, 5, -4, -7, 2), channels = 2)
    val mixed = Seq(150, -150, 0, -2)
    assert(dm(stereo) == stats(wav(mixed)),
      "downmixed stereo must equal stats of the pre-mixed mono stream")
    assert(dm(stereo).get._1 == 4)
    // mono passes through the downmix path unchanged
    val mono = wav(Seq(10, -20, 30))
    assert(dm(mono) == stats(mono))
    // the mono-only expression still refuses the stereo bytes
    assert(stats(stereo).isEmpty, "audio_pcm_stats must refuse stereo")
    // and the downmix path refuses what it can't mono-ize
    assert(dm(wav(Seq(1, 2, 3), channels = 3)).isEmpty, "3-channel is null")
    assert(dm(wav(Seq(1, 2, 3), channels = 2)).isEmpty,
      "stereo data not divisible into frames is null")
  }

  test("resample: identity at same rate, exact 2:1 decimation, midpoints") {
    val src = Seq(0, 1000, -2000, 3000, -4000, 5000, -600, 700)
    // same rate: every sample lands on fn == 0 → byte-identical data
    val same = AudioResample.resample(wav(src), 16000)
    assert(stats(same) == stats(wav(src)))
    // 2:1 decimation: every 2nd sample, nOut = (n−1)/2 + 1
    val half = AudioResample.resample(wav(src), 8000)
    assert(stats(half).get._1 == 4)
    assert(stats(half) == stats(wav(Seq(0, -2000, -4000, -600))))
    // 2x upsample: odd outputs are exact midpoints with truncating
    // division ((−2000+1000)/2 = −500 toward zero)
    val dbl = AudioResample.resample(wav(Seq(1000, -2000)), 32000)
    assert(stats(dbl) == stats(wav(Seq(1000, -500, -2000))))
  }

  test("resample refusals: stereo, 8-bit, bad rate, output cap") {
    assert(AudioResample.resample(wav(Seq(1, 2), channels = 2), 8000) == null)
    assert(AudioResample.resample(wav(Seq(1, 2), bits = 8), 8000) == null)
    assert(AudioResample.resample(wav(Seq(1, 2)), 0) == null)
    assert(AudioResample.resample(wav(Seq(1, 2)), -1) == null)
    // (n−1)·dst/src past MaxOutSamples must refuse, not allocate
    // (199 · 2·10⁹ / 16000 ≈ 24.9M > the 16.7M cap)
    assert(AudioResample.resample(wav(Seq.fill(200)(1)), 2000000000) == null)
    // junk chunk still walks; resample then stats round-trips
    val j = AudioResample.resample(wav(Seq(5, -5, 5), junk = 4), 16000)
    assert(stats(j).get._1 == 3)
    // Int-wrap regression: srcRate=1 (attacker-controlled fmt chunk) with
    // (n−1)·dst = 2³²+100 — the true count (2³²+101) must refuse on the
    // Long, not wrap to 101 and emit a short garbage WAV
    assert(AudioResample.resample(wav(Seq(1, 2, 3, 4, 5), rate = 1),
      1073741849) == null)
  }

  private def melOf(b: Array[Byte]): Option[Seq[Long]] =
    Option(AudioMel.mel(b)).map(a =>
      (0 until a.numElements()).map(a.getLong))

  test("mel: pure tones land in the right bands, DC lands nowhere") {
    def tone(binF: Int, amp: Int = 1000): Seq[Int] =
      (0 until 64).map(k => StrictMath.rint(amp *
        StrictMath.cos(2.0 * StrictMath.PI * binF * k / 64)).toInt)
    // 250 Hz (bin 1) → band 0; 2 kHz (bin 8) → band 4; 5 kHz (bin 20)
    // → band 6 — the HTK triangle layout for 16 kHz / 8 bands
    for ((binF, band) <- Seq(1 -> 0, 8 -> 4, 20 -> 6)) {
      val e = melOf(wav(tone(binF))).get
      assert(e.indexOf(e.max) == band,
        s"tone at bin $binF: energies $e, expected argmax $band")
      assert(e.max > 0L)
    }
    // DC: all spectral mass sits in bin 0, where every triangle is 0
    assert(melOf(wav(Seq.fill(64)(1500))).get.forall(_ == 0L))
  }

  test("mel: zero-pad below the window, truncate above, refusal matrix") {
    // < 64 samples zero-pad: a short tone still wins its band
    val short = (0 until 32).map(k => StrictMath.rint(1000 *
      StrictMath.cos(2.0 * StrictMath.PI * 8 * k / 64)).toInt)
    val es = melOf(wav(short)).get
    assert(es.indexOf(es.max) == 4)
    // > 64 samples: only the first window contributes — identical to
    // the truncated signal
    val long = short ++ short ++ Seq.fill(40)(777)
    assert(melOf(wav(long)) == melOf(wav(long.take(64))))
    // refusals: stereo, 8-bit, wrong rate, empty data
    assert(melOf(wav(Seq(1, 2), channels = 2)).isEmpty)
    assert(melOf(wav(Seq(1, 2), bits = 8)).isEmpty)
    assert(melOf(wav(Seq(1, 2), rate = 8000)).isEmpty)
    assert(melOf(wav(Seq.empty)).isEmpty)
    // junk chunk walks; resample-to-16k then mel composes
    assert(melOf(wav(Seq.fill(64)(9), junk = 4)).nonEmpty)
    val up = AudioResample.resample(wav(short, rate = 8000), 16000)
    assert(melOf(up).nonEmpty)
  }

  test("mel spectrogram: hop framing, frame 0 == mel, tail zero-pad") {
    def framesOf(b: Array[Byte]): Option[Seq[Seq[Long]]] =
      Option(AudioMel.melFrames(b)).map(a =>
        (0 until a.numElements()).map { f =>
          val r = a.getArray(f)
          (0 until r.numElements()).map(r.getLong)
        })
    val sig = (0 until 100).map(k => (k * 37 % 4001) - 2000)
    val fs = framesOf(wav(sig)).get
    assert(fs.length == 4, s"ceil(100/32) frames, got ${fs.length}")
    assert(fs.head == melOf(wav(sig)).get, "frame 0 is exactly audio_mel")
    // the last frame covers samples 96..99 + zero pad: identical to a
    // standalone window of just that tail
    assert(fs(3) == melOf(wav(sig.drop(96))).get)
    // refusals inherit the parse contract
    assert(framesOf(wav(Seq(1, 2), channels = 2)).isEmpty)
    assert(framesOf(wav(Seq(1, 2), rate = 8000)).isEmpty)
  }

  test("frame energies: exact sums on the mel framing grid, refusals shared") {
    def fe(b: Array[Byte]): Option[Seq[Long]] =
      Option(AudioMel.frameEnergies(b)).map(a =>
        (0 until a.numElements()).map(a.getLong))
    // 40 samples → 2 frames: frame 0 = Σ all 40 (window 64 zero-padded),
    // frame 1 = Σ samples 32..39
    val sig = (0 until 40).map(k => k - 20)
    val want0 = sig.map(v => v.toLong * v).sum
    val want1 = sig.drop(32).map(v => v.toLong * v).sum
    assert(fe(wav(sig)) == Some(Seq(want0, want1)))
    // silence is exactly zero; refusal contract is the mel parser's
    assert(fe(wav(Seq.fill(32)(0))) == Some(Seq(0L)))
    assert(fe(wav(Seq(1, 2), channels = 2)).isEmpty)
    assert(fe(wav(Seq(1, 2), rate = 8000)).isEmpty)
  }

  test("audio fingerprints: re-encoded loudness collides, other tones don't") {
    // amplitude-modulated tone (tremolo) over broadband content keyed to
    // the tone: every band carries real energy (a bare tone leaves 7
    // bands at spectral-leakage level, where deltas flip under
    // rescaling), and energy rises across frames so the temporal-delta
    // bits carry structure a stationary tone lacks
    def modTone(binF: Int, scaleNum: Int, scaleDen: Int): Seq[Int] =
      (0 until 256).map { k =>
        val amp = 400 + 150 * ((k / 32) % 4)
        val tone = StrictMath.rint(amp *
          StrictMath.cos(2.0 * StrictMath.PI * binF * k / 64)).toInt
        val noise = (k * 48271 * (binF + 1)) % 65537 % 801 - 400
        (tone + noise) * scaleNum / scaleDen
      }
    import spark.implicits._
    val df = Seq(
      (0L, wav(modTone(8, 1, 1))),
      (1L, wav(modTone(8, 3, 4))), // same tone at 3/4 loudness
      (2L, wav(modTone(20, 1, 1)))) // a different tone
      .toDF("id", "blob")
      .withColumn("sg", expr("audio_mel_frames(blob)"))
    val fp = graft.ops.MultimodalOps.audioFingerprints(df, "id", "sg")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (id, rs) =>
        id -> rs.sortBy(_._2).map(_._3).toSeq
      }
    assert(fp(0L).nonEmpty && fp(0L).exists(_ != 0L),
      "modulated tone must produce nonzero delta bits")
    // the match contract is the query's: hamming ≤ 6 (sample truncation
    // under rescaling may flip a near-tie delta bit; exact equality is
    // not the fingerprint promise)
    def ham(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    assert(ham(fp(0L), fp(1L)) <= 6,
      s"re-encoded loudness must collide, ham ${ham(fp(0L), fp(1L))}")
    assert(ham(fp(0L), fp(2L)) > 6,
      s"a different tone must not collide, ham ${ham(fp(0L), fp(2L))}")
  }
}
