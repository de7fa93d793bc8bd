package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The WHATWG charset chain: detection precedence (BOM > header > meta
  * prescan > UTF-8 sniff > cp1252 default), the alias table's latin-1
  * trap, the windows-1252 index rows that differ from ISO-8859-1, BOM
  * stripping, the U+FFFD error mode for broken UTF-8, and the refusal
  * matrix (unknown names, unmappable encode input).
  */
class CharsetSpec extends SparkSuite {

  private def detect(bytes: Array[Byte], ct: String): String = {
    import spark.implicits._
    Seq((bytes, ct)).toDF("b", "ct")
      .select(call_function("charset_detect", col("b"), col("ct")))
      .head.getString(0)
  }

  private def decode(bytes: Array[Byte], name: String): String = {
    import spark.implicits._
    val r = Seq((bytes, name)).toDF("b", "n")
      .select(call_function("charset_decode", col("b"), col("n"))).head
    if (r.isNullAt(0)) null else r.getString(0)
  }

  private def encode(text: String, name: String): Array[Byte] = {
    import spark.implicits._
    val r = Seq((text, name)).toDF("t", "n")
      .select(call_function("charset_encode", col("t"), col("n"))).head
    if (r.isNullAt(0)) null else r.getAs[Array[Byte]](0)
  }

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  test("BOM beats a contradicting header (precedence rung 1)") {
    val b = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ utf8("hi")
    assert(detect(b, "text/html; charset=iso-8859-1") === "utf-8")
    val le = Array[Byte](0xFF.toByte, 0xFE.toByte, 'h', 0, 'i', 0)
    assert(detect(le, "text/html; charset=utf-8") === "utf-16le")
    val be = Array[Byte](0xFE.toByte, 0xFF.toByte, 0, 'h', 0, 'i')
    assert(detect(be, null) === "utf-16be")
  }

  test("header charset= parses: quotes, case, trailing params, aliases") {
    val b = utf8("plain ascii")
    assert(detect(b, "text/html; charset=UTF-8") === "utf-8")
    assert(detect(b, "text/html; charset=\"utf-8\"; boundary=x") === "utf-8")
    assert(detect(b, "text/html; charset=Latin1") === "windows-1252")
    assert(detect(b, "text/html; charset=ISO-8859-1") === "windows-1252")
    assert(detect(b, "text/html; charset=us-ascii") === "windows-1252")
    assert(detect(b, "text/html; charset=UTF-16") === "utf-16le")
  }

  test("meta prescan fires when the header is silent, capped at 1 KiB") {
    val m = utf8("<html><head><meta charset='koi8-r'x") // unknown name → fall through
    val good = utf8("<html><head><meta charset=\"utf-8\"><body>é")
    assert(detect(good, "text/html") === "utf-8")
    val equiv = utf8(
      "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=iso-8859-1\">")
    assert(detect(equiv, null) === "windows-1252")
    // past the 1 KiB prescan window the meta is invisible → sniff path
    val far = utf8(" " * 1100 + "<meta charset=\"utf-16be\">")
    assert(detect(far, null) === "windows-1252")
    // unknown meta name falls through to the sniff (ascii → cp1252 default)
    assert(detect(m, null) === "windows-1252")
  }

  test("content sniff: valid multi-byte UTF-8 detects; broken bytes default") {
    assert(detect(utf8("café €"), null) === "utf-8")
    // cp1252 é (0xE9) alone is not valid UTF-8
    assert(detect(Array[Byte]('c', 'a', 'f', 0xE9.toByte), null) === "windows-1252")
    // overlong encoding must NOT count as utf-8
    assert(detect(Array[Byte](0xC0.toByte, 0xAF.toByte), null) === "windows-1252")
    // CESU-style surrogate half refuses
    assert(detect(Array[Byte](0xED.toByte, 0xA0.toByte, 0x80.toByte), null)
      === "windows-1252")
  }

  test("windows-1252 decode: the 0x80-0x9F index rows differ from latin-1") {
    val b = Array[Byte](0x80.toByte, 0x93.toByte, 0x94.toByte, 0x99.toByte,
      0xE9.toByte, 0x81.toByte)
    assert(decode(b, "windows-1252") === "€“”™é")
    // the iso-8859-1 alias resolves to the SAME cp1252 decode (WHATWG)
    assert(decode(b, "iso-8859-1") === "€“”™é")
  }

  test("utf-16 decode strips exactly one BOM; utf-8 errors become U+FFFD") {
    val le = Array[Byte](0xFF.toByte, 0xFE.toByte, 0x41, 0x00, 0xAC.toByte, 0x20)
    assert(decode(le, "utf-16le") === "A€")
    val be = Array[Byte](0xFE.toByte, 0xFF.toByte, 0x00, 0x41)
    assert(decode(be, "utf-16be") === "A")
    val bad = Array[Byte]('a', 0xE9.toByte, 'b')
    assert(decode(bad, "utf-8") === "a�b")
    val bomOnly = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ utf8("x")
    assert(decode(bomOnly, "utf-8") === "x")
  }

  test("refusal matrix: unknown charset and unmappable encode → null") {
    assert(decode(utf8("x"), "koi8-r") === null)
    assert(decode(utf8("x"), "shift_jis") === null)
    assert(encode("中文", "windows-1252") === null) // CJK outside cp1252
    assert(encode("x", "ebcdic") === null)
  }

  test("encode∘decode round-trips the full cp1252 repertoire") {
    val all = (0x20 to 0xFF).filterNot(c => c >= 0x7F && c <= 0x9F)
      .map(_.toChar).mkString +
      "€‚ƒ„…†‡ˆ‰Š‹" +
      "ŒŽ‘’“”•–—˜™" +
      "š›œžŸ"
    val enc = encode(all, "windows-1252")
    assert(enc != null)
    assert(decode(enc, "windows-1252") === all)
    // utf-16 both endiannesses round-trip non-BMP too
    val s = "a€😀z"
    assert(decode(encode(s, "utf-16le"), "utf-16le") === s)
    assert(decode(encode(s, "utf-16be"), "utf-16be") === s)
  }
}
