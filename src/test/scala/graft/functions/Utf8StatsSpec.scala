package graft.functions

import graft.SparkSuite

/** Strict UTF-8 validity statistics: every RFC 3629 boundary — overlong
  * prefixes, surrogate encodings, planes past U+10FFFF, truncation,
  * stray continuations — plus the replacement-scar counter.
  */
class Utf8StatsSpec extends SparkSuite {

  private def st(bytes: Int*): (Int, Int, Int, Int, Int, Int, Int, Int) = {
    val r = Utf8Stats.stats(bytes.map(_.toByte).toArray)
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
      r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7))
  }

  test("clean sequences count by encoded length") {
    // "Aé€😀" = 41 | C3 A9 | E2 82 AC | F0 9F 98 80
    assert(st(0x41, 0xC3, 0xA9, 0xE2, 0x82, 0xAC, 0xF0, 0x9F, 0x98, 0x80) ==
      ((10, 4, 1, 1, 1, 1, 0, 0)))
  }

  test("replacement characters decode valid but are counted as scars") {
    // "a" + U+FFFD twice
    assert(st(0x61, 0xEF, 0xBF, 0xBD, 0xEF, 0xBF, 0xBD) ==
      ((7, 3, 1, 0, 2, 0, 0, 2)))
  }

  test("overlong, surrogate, and out-of-range leads are invalid per lead byte") {
    assert(st(0xC0, 0xAF)._7 == 2) // overlong 2-byte: lead + stray continuation
    assert(st(0xC1, 0x80)._7 == 2)
    assert(st(0xE0, 0x80, 0x80)._7 == 3) // overlong 3-byte
    assert(st(0xED, 0xA0, 0x80)._7 == 3) // UTF-16 surrogate D800
    assert(st(0xF0, 0x80, 0x80, 0x80)._7 == 4) // overlong 4-byte
    assert(st(0xF4, 0x90, 0x80, 0x80)._7 == 4) // > U+10FFFF
    assert(st(0xF5, 0x80)._7 == 2) // F5-FF can start nothing
    // the legal boundary cases stay VALID
    assert(st(0xE0, 0xA0, 0x80) == ((3, 1, 0, 0, 1, 0, 0, 0))) // U+0800
    assert(st(0xED, 0x9F, 0xBF) == ((3, 1, 0, 0, 1, 0, 0, 0))) // U+D7FF
    assert(st(0xF0, 0x90, 0x80, 0x80) == ((4, 1, 0, 0, 0, 1, 0, 0))) // U+10000
    assert(st(0xF4, 0x8F, 0xBF, 0xBF) == ((4, 1, 0, 0, 0, 1, 0, 0))) // U+10FFFF
  }

  test("truncated sequences at the buffer edge resync, never read past") {
    assert(st(0x61, 0xC3) == ((2, 1, 1, 0, 0, 0, 1, 0)))
    assert(st(0x61, 0xE2, 0x82) == ((3, 1, 1, 0, 0, 0, 2, 0)))
    assert(st(0xF0, 0x9F, 0x98) == ((3, 0, 0, 0, 0, 0, 3, 0)))
    assert(st() == ((0, 0, 0, 0, 0, 0, 0, 0)))
  }

  test("round-trips what the JDK decodes, flags what it replaces") {
    // cross-check against the JDK's own strict decoder on mixed content
    val samples = Seq(
      "plain ascii text",
      "naïve café über straße",
      "文字化けテスト ελληνικά русский",
      "emoji 😀🎉 mixed")
    samples.foreach { s =>
      val b = s.getBytes("UTF-8")
      val r = Utf8Stats.stats(b)
      assert(r.getInt(0) == b.length)
      assert(r.getInt(1) == s.codePointCount(0, s.length), s"cp mismatch: $s")
      assert(r.getInt(6) == 0, s"valid text flagged invalid: $s")
    }
  }

  test("registered expression works through SQL") {
    import spark.implicits._
    val r = Seq(Tuple1(Array[Byte](0x61, 0xFF.toByte, 0x62)))
      .toDF("b").selectExpr("utf8_stats(b) AS st")
      .select("st.n_cp", "st.n_invalid").collect()(0)
    assert((r.getInt(0), r.getInt(1)) == ((2, 1)))
  }
}
