package graft.functions

import graft.SparkSuite

/** RFC 3492 decode against the RFC's own §7.1 sample strings (the
  * public reference vectors) plus python-punycode-generated pairs, the
  * host-level xn-- walk, and the whole-or-refuse matrix.
  */
class PunycodeSpec extends SparkSuite {

  test("RFC 3492 sample strings decode exactly") {
    // (I) Russian: "why don't they speak Russian"
    assert(Punycode.decodeLabel("b1abfaaepdrnnbgefbadotcwatmq2g4l") ==
      "почемужеони" +
        "неговорятпо" +
        "русски")
    // (A) Arabic (Egyptian)
    assert(Punycode.decodeLabel("egbpdaj6bu4bxfgehfvwxn") ==
      "ليهمابتكلمو" +
        "شعربي؟")
    // mixed basic + extended with delimiter
    assert(Punycode.decodeLabel("caf-dma") == "café")
    assert(Punycode.decodeLabel("mnchen-3ya") == "münchen")
    // pure-extended CJK (no delimiter)
    assert(Punycode.decodeLabel("1lq90i") == "北京")
    // uppercase digits are case-insensitive per the RFC
    assert(Punycode.decodeLabel("CAF-DMA") == "CAFé")
  }

  test("decodeHost: xn-- labels decode, ASCII passes, refusal nulls all") {
    assert(Punycode.decodeHost("www.xn--mnchen-3ya.example") ==
      "www.münchen.example")
    assert(Punycode.decodeHost("plain.example.com") == "plain.example.com")
    assert(Punycode.decodeHost("XN--CAF-DMA.Example") == "café.example")
    // the famous all-Cyrillic apple (palochka l)
    assert(Punycode.decodeHost("xn--80ak6aa92e.com") ==
      "аррӏе.com")
    // one bad label poisons the whole host — no half-decoded spoofs
    assert(Punycode.decodeHost("ok.xn--!!!.example") == null)
    assert(Punycode.decodeHost("xn--.example") == null) // empty payload
  }

  test("refusal matrix: bad digit, truncation, overflow, non-ASCII basic") {
    assert(Punycode.decodeLabel("caf-d!a") == null)   // '!' not a digit
    // pure-basic form with trailing delimiter is VALID ("caf-" == caf)
    assert(Punycode.decodeLabel("caf-") == "caf")
    // cutting mnchen-3ya mid-VLI leaves an unterminated digit sequence
    assert(Punycode.decodeLabel("mnchen-3y") == null)
    // digit 35 can never satisfy d < t (tmax = 26): the variable-length
    // integer never terminates and the reader runs off the end
    assert(Punycode.decodeLabel("999999999") == null)
    assert(Punycode.decodeLabel("café-dma") == null) // basic must be ASCII
    // RFC 3492 §6.2 n-overflow: with no basic code points (np=1) a digit
    // sequence can drive i near Int.MaxValue; n += i/np must refuse, not
    // wrap negative and crash appendCodePoint
    assert(Punycode.decodeLabel("b116146o") == null)
    assert(Punycode.decodeHost("xn--b116146o.com") == null)
  }

  test("expression: codegen path + null propagation") {
    import spark.implicits._
    val r = Seq(("xn--bcher-kva.example", "x.example"))
      .toDF("a", "b")
      .selectExpr("idn_decode(a) AS da", "idn_decode(b) AS db",
        "idn_decode(CAST(NULL AS STRING)) AS dn",
        "idn_decode('xn--!!!.example') AS bad")
      .collect()(0)
    assert(r.getString(0) == "bücher.example")
    assert(r.getString(1) == "x.example")
    assert(r.isNullAt(2) && r.isNullAt(3))
  }
}
