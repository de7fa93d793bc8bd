package graft.functions

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** Rice-coded FIXED/LPC FLAC decode (AudioFlacStats) against committed
  * fixtures from an INDEPENDENT encoder (tools/gen_flac_fixtures.py,
  * written from the public FLAC spec with no shared code): every decoded
  * sample must reproduce the generator's formula exactly, across all
  * fixed orders 0–4, LPC orders 2/4/8, both Rice parameter widths,
  * partition orders 0–2, and escape partitions.
  */
class FlacRiceSpec extends SparkSuite {

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(
      Paths.get(getClass.getResource(s"/flac_fixtures/$name.flac").toURI))

  /** The generator's sample formula — replicated here, not imported. */
  private def samples(seed: Long, n: Int): Seq[Int] =
    (0 until n).map(k => ((seed * 37 + k * 451) % 4001).toInt - 2000)

  private def expected(seed: Long, n: Int): (Int, Int, Long, Int) = {
    val s = samples(seed, n)
    val zc = s.sliding(2).count(p => p.head.toLong * p(1) < 0)
    (n, s.map(math.abs).max, s.map(v => v.toLong * v).sum, zc)
  }

  private val cases = Seq(
    ("fixed0", 101L, 64), ("fixed1", 102L, 64), ("fixed2", 103L, 64),
    ("fixed34", 104L, 64), ("lpc2", 105L, 64), ("lpc4r2", 106L, 64),
    ("esc", 107L, 64), ("lpc8", 108L, 64))

  test("all Rice-coded fixtures decode to the exact generator samples") {
    cases.foreach { case (name, seed, n) =>
      val row = AudioFlacStats.stats(fixture(name))
      assert(row != null, s"$name refused to decode")
      val got = (row.getInt(0), row.getInt(1), row.getLong(2), row.getInt(3))
      assert(got == expected(seed, n), s"$name: got $got")
    }
  }

  test("decode works through the registered expression on a DataFrame") {
    import spark.implicits._
    val df = cases.map { case (name, seed, n) =>
      (name, seed, n, fixture(name)) }.toDF("name", "seed", "n", "blob")
      .selectExpr("name", "seed", "n", "audio_flac_stats(blob) AS st")
    val rows = df.collect()
    assert(rows.length == cases.length)
    rows.foreach { r =>
      val st = r.getStruct(3)
      assert(st != null, s"${r.getString(0)} refused")
      val (en, ep, esq, ezc) = expected(r.getLong(1), r.getInt(2))
      assert((st.getInt(0), st.getInt(1), st.getLong(2), st.getInt(3)) ==
        (en, ep, esq, ezc), s"${r.getString(0)} mismatch")
    }
  }

  /** Stereo generator formulas, replicated — not imported. */
  private def samplesLR(seed: Long, n: Int): (Seq[Int], Seq[Int]) = (
    (0 until n).map(k => ((seed * 37 + k * 451) % 4001).toInt - 2000),
    (0 until n).map(k => ((seed * 53 + k * 211) % 3001).toInt - 1500))

  private def expectedStereo(seed: Long, n: Int): (Int, Int, Long, Int) = {
    val (l, r) = samplesLR(seed, n)
    val mono = l.zip(r).map { case (a, b) => (a + b) / 2 } // truncating
    val zc = mono.sliding(2).count(p => p.head.toLong * p(1) < 0)
    (n, mono.map(math.abs).max, mono.map(v => v.toLong * v).sum, zc)
  }

  private val stereoCases = Seq(
    ("st_ind", 201L, 64), ("st_ls", 202L, 64),
    ("st_rs", 203L, 64), ("st_ms", 204L, 64))

  test("stereo frames decode through all four channel assignments to exact downmix stats") {
    stereoCases.foreach { case (name, seed, n) =>
      val row = AudioFlacStats.stats(fixture(name))
      assert(row != null, s"$name refused to decode")
      val got = (row.getInt(0), row.getInt(1), row.getLong(2), row.getInt(3))
      assert(got == expectedStereo(seed, n), s"$name: got $got")
    }
  }

  test("truncated Rice stream refuses to null, never a prefix answer") {
    val full = fixture("fixed2")
    // cut mid-residual: frame payload starts well past the 42-byte header
    assert(AudioFlacStats.stats(full.take(full.length - 20)) == null)
  }

  test("wasted-bits subframes refuse (documented boundary)") {
    val full = fixture("fixed0")
    // subframe header is the byte right after the 8-byte frame header at
    // offset 42+... locate it: flip its wasted-bits flag (bit 0)
    val hdrEnd = 42 + 8 // magic(4)+STREAMINFO(38) = 42; frame header 8 bytes
    val mod = full.clone()
    mod(hdrEnd) = (mod(hdrEnd) | 1).toByte
    assert(AudioFlacStats.stats(mod) == null)
  }
}
