package graft.functions

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** IMA ADPCM decode vs the independent python encoder's EXACT sidecars
  * (the codec has no rounding freedom), plus the stats composition and
  * the refusal matrix.
  */
class ImaAdpcmSpec extends SparkSuite {

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(
      getClass.getResource(s"/adpcm_fixtures/$name").toURI))

  private def expectedPcm(name: String): Array[Int] = {
    val lines = new String(fixture(name + ".pcm"), "UTF-8").trim.split("\n")
    val vals = lines(1).trim.split(" ").map(_.toInt)
    assert(vals.length == lines(0).trim.toInt)
    vals
  }

  private def decoded(blob: Array[Byte]): Option[Array[Int]] = {
    val out = ImaAdpcm.decode(blob)
    if (out == null) None
    else {
      val n = (out.length - 44) / 2
      Some((0 until n).map(i =>
        ((out(44 + 2 * i + 1) << 8) | (out(44 + 2 * i) & 0xff)).toShort.toInt)
        .toArray)
    }
  }

  test("fixtures decode bit-exactly to the independent encoder's sidecars") {
    for (name <- Seq("ramp_1blk", "edges_3blk", "pad_tail")) {
      val got = decoded(fixture(name + ".wav"))
      assert(got.isDefined, s"$name refused")
      assert(got.get.toSeq == expectedPcm(name + ".wav").toSeq, name)
    }
  }

  test("stats composition: adpcm_to_pcm feeds audio_pcm_stats exactly") {
    import spark.implicits._
    val exp = expectedPcm("edges_3blk.wav")
    val row = Seq(Tuple1(fixture("edges_3blk.wav"))).toDF("blob")
      .selectExpr("audio_pcm_stats(adpcm_to_pcm(blob)) AS st")
      .selectExpr("st.n_samples", "st.peak", "st.sum_sq", "st.zero_crossings")
      .collect()(0)
    assert(row.getInt(0) == exp.length)
    assert(row.getInt(1) == exp.map(v => math.abs(v)).max)
    assert(row.getLong(2) == exp.map(v => v.toLong * v).sum)
    assert(row.getInt(3) == exp.sliding(2)
      .count(p => p(0).toLong * p(1) < 0))
  }

  test("refusal matrix: null, never garbage") {
    val good = fixture("ramp_1blk.wav")
    def patched(at: Int, v: Int): Array[Byte] = {
      val b = good.clone(); b(at) = v.toByte; b
    }
    // fmt offsets: tag@20 ch@22 bits@34 spb@38; fact value@48;
    // data size@56; first block header idx byte@62
    assert(ImaAdpcm.decode(patched(20, 1)) == null, "PCM tag must refuse")
    assert(ImaAdpcm.decode(patched(22, 2)) == null, "stereo must refuse")
    assert(ImaAdpcm.decode(patched(34, 8)) == null, "8-bit must refuse")
    assert(ImaAdpcm.decode(patched(38, 32)) == null,
      "samples_per_block disagreeing with block geometry must refuse")
    assert(ImaAdpcm.decode(patched(48, 0x22)) == null,
      "fact disagreeing with decoded count must refuse")
    assert(ImaAdpcm.decode(patched(62, 89)) == null,
      "step index > 88 must refuse")
    assert(ImaAdpcm.decode(patched(56, 19)) == null,
      "ragged final block must refuse")
    assert(ImaAdpcm.decode(good.take(good.length - 3)) == null, "truncation")
    assert(ImaAdpcm.decode(Array[Byte](1, 2, 3)) == null)
    assert(ImaAdpcm.decode(Array.empty[Byte]) == null)
  }
}
