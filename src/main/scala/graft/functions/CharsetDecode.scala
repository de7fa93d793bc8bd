package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Legacy-charset detection and transcoding — the crawl first mile for
  * the web that is NOT UTF-8.
  *
  * A WARC `response` body is bytes; which characters those bytes mean is
  * decided by a precedence chain the WHATWG Encoding / HTML standards
  * pin down (and every browser implements). `charset_detect` replays
  * that chain over `(body, Content-Type header value)`:
  *
  *   1. byte-order mark — `EF BB BF` → utf-8, `FF FE` → utf-16le,
  *      `FE FF` → utf-16be (BOM beats everything, HTML §13.2.3.2);
  *   2. the transport header's `charset=` parameter (case-insensitive,
  *      optional quotes), normalized through the WHATWG alias table
  *      (`latin1`, `iso-8859-1`, `us-ascii`, `cp1252` … → windows-1252 —
  *      browsers decode "iso-8859-1" as cp1252, and a curation pipeline
  *      that doesn't loses € ™ " " from exactly the documents that
  *      declare latin-1);
  *   3. a bounded meta PRESCAN of the first 1024 bytes (ASCII-compatible
  *      scan for `<meta charset=…>` / `http-equiv=content-type`, the
  *      §13.2.3.2 algorithm's practical core) — legacy pages declare
  *      in-band far more often than in the header;
  *   4. content sniff: bytes that validate as UTF-8 (and actually use a
  *      multi-byte sequence) → utf-8;
  *   5. the WHATWG legacy default: windows-1252.
  *
  * `charset_decode(body, name)` then transcodes to the engine's native
  * UTF-8 string: windows-1252 via the WHATWG index (0x80–0x9F mapped to
  * the Win-1252 repertoire, the five unassigned slots passed through as
  * C1 controls, per the spec's index), utf-16le/be with BOM stripped,
  * utf-8 with invalid sequences replaced by U+FFFD (the WHATWG decoder's
  * error mode — a crawl page with one stray byte must yield a page with
  * one replacement char, not a null page; the strict whole-or-refuse
  * posture stays with the CONTAINER codecs where corruption means the
  * framing lied). Unknown charset name → null (loud refusal: the caller
  * counts them, mirroring the codec quarantine).
  *
  * `charset_encode(text, name)` is the inverse (sink-side / fixture
  * construction); characters outside the target repertoire refuse the
  * row to null rather than emit '?' mojibake.
  *
  * Scale shape: all three are scan-side row expressions (no shuffle, no
  * driver state); the meta prescan is capped at 1 KiB so a pathological
  * page cannot turn detection into a full-body parse.
  */
object CharsetDecode {

  /** WHATWG index for windows-1252, rows 0x80–0x9F (the rest is
    * ISO-8859-1 = Unicode identity). Five unassigned slots (0x81, 0x8D,
    * 0x8F, 0x90, 0x9D) pass through as the C1 controls, per the spec.
    */
  private val win1252Hi: Array[Char] = Array(
    '\u20AC', '\u0081', '\u201A', '\u0192', '\u201E', '\u2026', '\u2020', '\u2021',
    '\u02C6', '\u2030', '\u0160', '\u2039', '\u0152', '\u008D', '\u017D', '\u008F',
    '\u0090', '\u2018', '\u2019', '\u201C', '\u201D', '\u2022', '\u2013', '\u2014',
    '\u02DC', '\u2122', '\u0161', '\u203A', '\u0153', '\u009D', '\u017E', '\u0178')

  private val win1252Rev: java.util.HashMap[Character, Integer] = {
    val m = new java.util.HashMap[Character, Integer]()
    var i = 0
    while (i < 32) { m.put(win1252Hi(i), 0x80 + i); i += 1 }
    m
  }

  /** WHATWG alias table (the subset that shows up in real crawls),
    * normalized → canonical engine name. */
  private def canonical(raw: String): String = {
    val n = raw.trim.toLowerCase(java.util.Locale.ROOT)
      .stripPrefix("\"").stripSuffix("\"").stripPrefix("'").stripSuffix("'").trim
    n match {
      case "utf-8" | "utf8" | "unicode-1-1-utf-8" => "utf-8"
      case "utf-16" | "utf-16le" | "utf16" => "utf-16le"
      case "utf-16be" => "utf-16be"
      case "windows-1252" | "cp1252" | "x-cp1252" | "iso-8859-1" | "iso8859-1" |
           "latin1" | "latin-1" | "l1" | "ascii" | "us-ascii" | "iso-ir-100" |
           "csisolatin1" | "ibm819" => "windows-1252"
      case _ => null
    }
  }

  /** charset= parameter out of a Content-Type header value, or null. */
  def headerCharset(contentType: String): String = {
    if (contentType == null) return null
    val lower = contentType.toLowerCase(java.util.Locale.ROOT)
    val i = lower.indexOf("charset=")
    if (i < 0) return null
    var j = i + 8
    val sb = new java.lang.StringBuilder
    while (j < contentType.length && contentType.charAt(j) != ';' &&
           contentType.charAt(j) != ' ' && contentType.charAt(j) != '\t') {
      sb.append(contentType.charAt(j)); j += 1
    }
    canonical(sb.toString)
  }

  /** §13.2.3.2-style bounded prescan of the first 1 KiB for a meta
    * declaration. ASCII-compatible byte scan — correct for every
    * charset this module decodes. */
  private def metaPrescan(b: Array[Byte]): String = {
    val n = math.min(b.length, 1024)
    val s = new String(b, 0, n, java.nio.charset.StandardCharsets.ISO_8859_1)
      .toLowerCase(java.util.Locale.ROOT)
    // <meta charset="..."> form
    val m1 = "<meta\\s[^>]*charset\\s*=\\s*[\"']?([a-z0-9_:\\-]+)".r
    m1.findFirstMatchIn(s) match {
      case Some(m) =>
        // exclude the http-equiv content="...charset=..." capture below
        // matching here is fine: both forms name the same parameter.
        canonical(m.group(1))
      case None => null
    }
  }

  private def validUtf8(b: Array[Byte]): (Boolean, Boolean) = {
    var i = 0; var sawMulti = false
    while (i < b.length) {
      val c = b(i) & 0xFF
      if (c < 0x80) i += 1
      else {
        val len =
          if (c >= 0xC2 && c <= 0xDF) 2
          else if (c >= 0xE0 && c <= 0xEF) 3
          else if (c >= 0xF0 && c <= 0xF4) 4
          else return (false, sawMulti)
        if (i + len > b.length) return (false, sawMulti)
        var k = 1
        while (k < len) {
          val cc = b(i + k) & 0xFF
          if (cc < 0x80 || cc > 0xBF) return (false, sawMulti)
          k += 1
        }
        // reject overlongs / surrogates the cheap way: decode and check
        if (len == 3) {
          val cp = ((c & 0x0F) << 12) | ((b(i + 1) & 0x3F) << 6) | (b(i + 2) & 0x3F)
          if (cp < 0x800 || (cp >= 0xD800 && cp <= 0xDFFF)) return (false, sawMulti)
        } else if (len == 4) {
          val cp = ((c & 0x07) << 18) | ((b(i + 1) & 0x3F) << 12) |
            ((b(i + 2) & 0x3F) << 6) | (b(i + 3) & 0x3F)
          if (cp < 0x10000 || cp > 0x10FFFF) return (false, sawMulti)
        }
        sawMulti = true
        i += len
      }
    }
    (true, sawMulti)
  }

  def detect(body: Array[Byte], contentType: UTF8String): UTF8String = {
    val name = detectName(body,
      if (contentType == null) null else contentType.toString)
    if (name == null) null else UTF8String.fromString(name)
  }

  private def detectName(b: Array[Byte], contentType: String): String = {
    if (b.length >= 3 && (b(0) & 0xFF) == 0xEF && (b(1) & 0xFF) == 0xBB &&
        (b(2) & 0xFF) == 0xBF) return "utf-8"
    if (b.length >= 2 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xFE)
      return "utf-16le"
    if (b.length >= 2 && (b(0) & 0xFF) == 0xFE && (b(1) & 0xFF) == 0xFF)
      return "utf-16be"
    val fromHeader = headerCharset(contentType)
    if (fromHeader != null) return fromHeader
    val fromMeta = metaPrescan(b)
    if (fromMeta != null) return fromMeta
    val (ok, multi) = validUtf8(b)
    if (ok && multi) "utf-8" else "windows-1252"
  }

  /** `charset_decode(body binary, charset string)` → UTF-8 text (null on
    * unknown charset name — the loud-refusal path). */
  def decode(body: Array[Byte], name: UTF8String): UTF8String = {
    if (name == null) return null
    val s = decodeString(body, name.toString)
    if (s == null) null else UTF8String.fromString(s)
  }

  private def decodeString(b: Array[Byte], name: String): String =
    canonical(name) match {
      case "utf-8" =>
        val off = if (b.length >= 3 && (b(0) & 0xFF) == 0xEF &&
          (b(1) & 0xFF) == 0xBB && (b(2) & 0xFF) == 0xBF) 3 else 0
        // CharsetDecoder with REPLACE = WHATWG utf-8 decode error mode
        val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
        dec.decode(java.nio.ByteBuffer.wrap(b, off, b.length - off)).toString
      case "utf-16le" | "utf-16be" =>
        val le = canonical(name) == "utf-16le"
        val off =
          if (le && b.length >= 2 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xFE) 2
          else if (!le && b.length >= 2 && (b(0) & 0xFF) == 0xFE && (b(1) & 0xFF) == 0xFF) 2
          else 0
        val cs = if (le) java.nio.charset.StandardCharsets.UTF_16LE
                 else java.nio.charset.StandardCharsets.UTF_16BE
        val dec = cs.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
        dec.decode(java.nio.ByteBuffer.wrap(b, off, b.length - off)).toString
      case "windows-1252" =>
        val out = new Array[Char](b.length)
        var i = 0
        while (i < b.length) {
          val c = b(i) & 0xFF
          out(i) = if (c >= 0x80 && c <= 0x9F) win1252Hi(c - 0x80) else c.toChar
          i += 1
        }
        new String(out)
      case _ => null
    }

  /** `charset_encode(text string, charset string)` → bytes (null when a
    * character falls outside the target repertoire — refuse, don't '?'). */
  def encode(text: UTF8String, name: UTF8String): Array[Byte] = {
    if (text == null || name == null) return null
    canonical(name.toString) match {
      case "utf-8" => text.getBytes
      case "utf-16le" =>
        text.toString.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      case "utf-16be" =>
        text.toString.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
      case "windows-1252" =>
        val s = text.toString
        val out = new java.io.ByteArrayOutputStream(s.length)
        var i = 0
        while (i < s.length) {
          val ch = s.charAt(i)
          if (ch < 0x80) out.write(ch)
          else if (ch >= 0xA0 && ch <= 0xFF) out.write(ch)
          else {
            val hi = win1252Rev.get(ch)
            if (hi == null) return null // outside the repertoire: refuse
            out.write(hi.intValue)
          }
          i += 1
        }
        out.toByteArray
      case _ => null
    }
  }
}

/** `charset_detect(body binary, content_type string-nullable)` → charset
  * name (never null: the WHATWG chain always lands on a default). The
  * content-type side is nullable by design — a record with no HTTP
  * header still detects via BOM/meta/sniff — so this expression handles
  * its own null routing instead of nullSafeEval. */
case class CharsetDetect(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "charset_detect"
  override def checkInputDataTypes() =
    if (left.dataType == BinaryType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (binary, string), got (${left.dataType}, ${right.dataType})")
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val b = left.eval(input)
    if (b == null) return null
    val ct = right.eval(input)
    CharsetDecode.detect(b.asInstanceOf[Array[Byte]],
      ct.asInstanceOf[UTF8String])
  }
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CharsetDetect =
    copy(left = newLeft, right = newRight)
}
