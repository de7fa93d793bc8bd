package graft.functions

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** MS ADPCM decode vs the independent python encoder's EXACT sidecars
  * (the codec has no rounding freedom), plus the stats composition and
  * the refusal matrix.
  */
class MsAdpcmSpec extends SparkSuite {

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(
      getClass.getResource(s"/msadpcm_fixtures/$name").toURI))

  private def expectedPcm(name: String): Array[Int] = {
    val lines = new String(fixture(name + ".pcm"), "UTF-8").trim.split("\n")
    val vals = lines(1).trim.split(" ").map(_.toInt)
    assert(vals.length == lines(0).trim.toInt)
    vals
  }

  private def decoded(blob: Array[Byte]): Option[Array[Int]] = {
    val out = MsAdpcm.decode(blob)
    if (out == null) None
    else {
      val n = (out.length - 44) / 2
      Some((0 until n).map(i =>
        ((out(44 + 2 * i + 1) << 8) | (out(44 + 2 * i) & 0xff)).toShort.toInt)
        .toArray)
    }
  }

  test("fixtures decode bit-exactly to the independent encoder's sidecars") {
    for (name <- Seq("ramp_1blk", "edges_3blk", "pad_tail", "smooth_2blk")) {
      val got = decoded(fixture(name + ".wav"))
      assert(got.isDefined, s"$name refused")
      assert(got.get.toSeq == expectedPcm(name + ".wav").toSeq, name)
    }
  }

  test("stats composition: msadpcm_to_pcm feeds audio_pcm_stats exactly") {
    import spark.implicits._
    val exp = expectedPcm("edges_3blk.wav")
    val row = Seq(Tuple1(fixture("edges_3blk.wav"))).toDF("blob")
      .selectExpr("audio_pcm_stats(msadpcm_to_pcm(blob)) AS st")
      .selectExpr("st.n_samples", "st.peak", "st.sum_sq", "st.zero_crossings")
      .collect()(0)
    assert(row.getInt(0) == exp.length)
    assert(row.getInt(1) == exp.map(v => math.abs(v)).max)
    assert(row.getLong(2) == exp.map(v => v.toLong * v).sum)
    assert(row.getInt(3) == exp.sliding(2).count(p => p(0).toLong * p(1) < 0))
  }

  test("coefficients come from the file, not a baked table") {
    // zero out the coefficient pair block 0 actually selected and
    // verify the output CHANGES (the decoder honored the file's
    // table) rather than refusing; pad_tail's block 0 picks the
    // (512,-256) extrapolator, so the pair is provably nonzero
    val good = fixture("pad_tail.wav")
    val predIdx = good(90) & 0xff
    val coefAt = 42 + 4 * predIdx
    assert(good(coefAt) != 0 || good(coefAt + 1) != 0 ||
      good(coefAt + 2) != 0 || good(coefAt + 3) != 0)
    val b = good.clone()
    b(coefAt) = 0; b(coefAt + 1) = 0; b(coefAt + 2) = 0; b(coefAt + 3) = 0
    val orig = decoded(good)
    val patched = decoded(b)
    assert(orig.isDefined && patched.isDefined)
    assert(orig.get.toSeq != patched.get.toSeq,
      "zeroing the file-carried coefficient pair must change the decode")
    // header samples are predictor-independent
    assert(patched.get.take(2).toSeq == orig.get.take(2).toSeq)
  }

  test("refusal matrix: null, never garbage") {
    val good = fixture("ramp_1blk.wav")
    def patched(at: Int, v: Int): Array[Byte] = {
      val b = good.clone(); b(at) = v.toByte; b
    }
    // layout: fmt payload@20 (tag@20 ch@22 bits@34 cb@36 spb@38
    // nCoef@40 coefs@42..69), fact value@78, data size@86, block@90
    // (bPred@90, iDelta@91)
    assert(MsAdpcm.decode(patched(20, 1)) == null, "PCM tag must refuse")
    assert(MsAdpcm.decode(patched(22, 2)) == null, "stereo must refuse")
    assert(MsAdpcm.decode(patched(34, 8)) == null, "8-bit must refuse")
    assert(MsAdpcm.decode(patched(38, 32)) == null,
      "samples_per_block disagreeing with block geometry must refuse")
    assert(MsAdpcm.decode(patched(40, 20)) == null,
      "coefficient count beyond the fmt extension must refuse")
    assert(MsAdpcm.decode(patched(78, 0x23)) == null,
      "fact disagreeing with decoded count must refuse")
    assert(MsAdpcm.decode(patched(90, 7)) == null,
      "predictor index >= wNumCoef must refuse")
    val negDelta = good.clone()
    negDelta(91) = 0; negDelta(92) = 0x80.toByte // iDelta = -32768
    assert(MsAdpcm.decode(negDelta) == null, "non-positive delta must refuse")
    assert(MsAdpcm.decode(patched(86, 19)) == null,
      "ragged final block must refuse")
    assert(MsAdpcm.decode(good.take(good.length - 3)) == null, "truncation")
    assert(MsAdpcm.decode(Array[Byte](1, 2, 3)) == null)
    assert(MsAdpcm.decode(Array.empty[Byte]) == null)
  }
}
