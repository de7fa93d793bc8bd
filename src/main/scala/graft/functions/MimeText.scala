package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Email / MIME text extraction (RFC 5322 framing + RFC 2045/2046
  * bodies + RFC 2047 encoded-word headers) — the enterprise/corpus-drop
  * document family next to PDF/DOCX/EPUB: multipart boundary walk,
  * quoted-printable and base64 transfer decodings, per-part `charset=`
  * through [[CharsetDecode]], text/plain preferred over text/html
  * (which routes through [[HtmlToText]]), `message/rfc822` recursion,
  * and mbox `From ` framing for the multi-message archive layout.
  *
  * `eml_text(binary)` → `struct<subject, from_addr, date, text,
  * n_parts>`; `mbox_messages(binary)` → `array<binary>` (one message
  * per element, the `From ` separator lines dropped).
  *
  * Whole-or-refuse per message: a multipart without its closing
  * `--boundary--`, an unknown Content-Transfer-Encoding, base64 that
  * doesn't decode, or nesting past the depth cap nulls the row — a
  * message either extracts or is quarantined, never half-read.
  * Header lines accept CRLF and bare LF (mbox archives are LF in
  * practice).
  *
  * Scale shape: codegen'd static calls, one linear pass per message;
  * messages reduce to text scan-side before anything shuffles.
  */
object MimeText {

  val MaxDepth = 8
  val MaxParts = 256

  val schema: StructType = StructType(Seq(
    StructField("subject", StringType, nullable = true),
    StructField("from_addr", StringType, nullable = true),
    StructField("date", StringType, nullable = true),
    StructField("text", StringType, nullable = false),
    StructField("n_parts", IntegerType, nullable = false)))

  import Bytes.{Corrupt, fail}

  // ---- header block ----

  /** (headers in order, body start offset); accepts CRLF and LF. */
  private def splitHeaders(b: Array[Byte], from: Int, to: Int)
      : (Seq[(String, String)], Int) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var p = from
    var name: String = null
    val value = new java.lang.StringBuilder
    def flush(): Unit = if (name != null) {
      out += name.toLowerCase(java.util.Locale.ROOT) -> value.toString.trim
      name = null; value.setLength(0)
    }
    while (p < to) {
      var e = p
      while (e < to && b(e) != '\n') e += 1
      val lineEnd = if (e > p && b(e - 1) == '\r') e - 1 else e
      if (lineEnd == p) { // empty line terminates the header block
        flush()
        return (out.toSeq, math.min(e + 1, to))
      }
      val line = new String(b, p, lineEnd - p,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      if (line.charAt(0) == ' ' || line.charAt(0) == '\t') {
        if (name == null) fail() // continuation before any header
        value.append(' ').append(line.trim)
      } else {
        flush()
        val colon = line.indexOf(':')
        if (colon <= 0) fail()
        name = line.substring(0, colon).trim
        value.append(line.substring(colon + 1).trim)
      }
      p = e + 1
    }
    flush()
    (out.toSeq, to) // headers-only message: empty body
  }

  private def hdr(hs: Seq[(String, String)], n: String): String =
    hs.collectFirst { case (k, v) if k == n => v }.orNull

  /** RFC 2047 encoded-words (=?charset?B|Q?payload?=) anywhere in a
    * header value; unknown charsets/forms left verbatim.
    */
  def decodeWords(v: String): String = {
    if (v == null) return null
    val re = "=\\?([^?]+)\\?([bBqQ])\\?([^?]*)\\?=".r
    re.replaceAllIn(v, m => {
      val cs = m.group(1); val form = m.group(2); val pay = m.group(3)
      val bytes: Array[Byte] =
        if (form.equalsIgnoreCase("B"))
          try java.util.Base64.getDecoder.decode(pay)
          catch { case _: IllegalArgumentException => null }
        else {
          val out = new java.io.ByteArrayOutputStream
          var i = 0
          var ok = true
          while (i < pay.length && ok) {
            pay.charAt(i) match {
              case '_' => out.write(' '); i += 1
              case '=' if i + 2 < pay.length =>
                try { out.write(Integer.parseInt(pay.substring(i + 1, i + 3), 16)); i += 3 }
                catch { case _: NumberFormatException => ok = false }
              case c => out.write(c.toInt & 0xff); i += 1
            }
          }
          if (ok) out.toByteArray else null
        }
      val dec = if (bytes == null) null
        else CharsetDecode.decode(bytes, UTF8String.fromString(cs))
      val res = if (dec == null) m.matched else dec.toString
      java.util.regex.Matcher.quoteReplacement(res)
    })
  }

  // ---- Content-Type / params ----

  private def ctOf(hs: Seq[(String, String)]): (String, Map[String, String]) = {
    val raw = hdr(hs, "content-type")
    if (raw == null) return ("text/plain", Map.empty)
    val segs = raw.split(";")
    val mt = segs(0).trim.toLowerCase(java.util.Locale.ROOT)
    val params = segs.drop(1).flatMap { s =>
      val eq = s.indexOf('=')
      if (eq <= 0) None
      else {
        val k = s.substring(0, eq).trim.toLowerCase(java.util.Locale.ROOT)
        var v = s.substring(eq + 1).trim
        if (v.length >= 2 && v.startsWith("\"") && v.endsWith("\""))
          v = v.substring(1, v.length - 1)
        Some(k -> v)
      }
    }.toMap
    (if (mt.isEmpty) "text/plain" else mt, params)
  }

  // ---- transfer decodings ----

  private def decodeQp(b: Array[Byte], from: Int, to: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(to - from)
    var i = from
    while (i < to) {
      val c = b(i) & 0xff
      if (c == '=') {
        // soft break (=CRLF or =LF) or =XX
        if (i + 1 < to && b(i + 1) == '\n') i += 2
        else if (i + 2 < to && b(i + 1) == '\r' && b(i + 2) == '\n') i += 3
        else if (i + 2 < to) {
          val hi = Character.digit(b(i + 1), 16)
          val lo = Character.digit(b(i + 2), 16)
          if (hi < 0 || lo < 0) fail()
          out.write((hi << 4) | lo); i += 3
        } else fail()
      } else { out.write(c); i += 1 }
    }
    out.toByteArray
  }

  private def decodeB64(b: Array[Byte], from: Int, to: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder(to - from)
    var i = from
    while (i < to) {
      val c = (b(i) & 0xff).toChar
      if (c != '\r' && c != '\n' && c != ' ' && c != '\t') sb.append(c)
      i += 1
    }
    try java.util.Base64.getDecoder.decode(sb.toString)
    catch { case _: IllegalArgumentException => fail() }
  }

  private def decodeBody(b: Array[Byte], from: Int, to: Int,
      cte: String): Array[Byte] =
    (if (cte == null) "7bit" else cte.trim.toLowerCase(java.util.Locale.ROOT)) match {
      case "7bit" | "8bit" | "binary" | "" =>
        java.util.Arrays.copyOfRange(b, from, to)
      case "quoted-printable" => decodeQp(b, from, to)
      case "base64" => decodeB64(b, from, to)
      case _ => fail() // unknown CTE: refuse, don't emit raw bytes as text
    }

  // ---- part text ----

  private def textOf(bytes: Array[Byte], mt: String,
      params: Map[String, String], counter: Array[Int], depth: Int): String = {
    counter(0) += 1
    if (counter(0) > MaxParts) fail()
    val cs = params.getOrElse("charset", "us-ascii")
    def decoded: String = {
      val s = CharsetDecode.decode(bytes, UTF8String.fromString(cs))
      // unknown charset labels fall back to the WHATWG default rather
      // than refusing the whole message: the bytes still decode
      if (s == null)
        CharsetDecode.decode(bytes,
          UTF8String.fromString("windows-1252")).toString
      else s.toString
    }
    mt match {
      case "text/plain" => decoded.trim
      case "text/html" =>
        val t = HtmlToText.extract(UTF8String.fromString(decoded))
        if (t == null) "" else t.toString.trim
      case _ => "" // attachments and unknown leaves carry no corpus text
    }
  }

  /** Extract the message rooted at [from, to); returns
    * (headers, text, counted parts via `counter`).
    */
  private def walk(b: Array[Byte], from: Int, to: Int,
      counter: Array[Int], depth: Int): (Seq[(String, String)], String) = {
    if (depth > MaxDepth) fail()
    val (hs, bodyAt) = splitHeaders(b, from, to)
    val (mt, params) = ctOf(hs)
    val cte = hdr(hs, "content-transfer-encoding")
    if (mt.startsWith("multipart/")) {
      // multipart bodies must be 7bit/8bit/binary per RFC 2045 §6.4
      if (cte != null && !Seq("7bit", "8bit", "binary")
          .contains(cte.trim.toLowerCase(java.util.Locale.ROOT))) fail()
      val boundary = params.getOrElse("boundary", fail())
      if (boundary.isEmpty) fail()
      val parts = splitParts(b, bodyAt, to, boundary)
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      var plainBest: String = null
      var htmlBest: String = null
      for ((ps, pe) <- parts) {
        val (phs, pBodyAt) = splitHeaders(b, ps, pe)
        val (pmt, pparams) = ctOf(phs)
        if (pmt.startsWith("multipart/") || pmt == "message/rfc822") {
          val inner =
            if (pmt == "message/rfc822") {
              counter(0) += 1
              walk(b, pBodyAt, pe, counter, depth + 1)._2
            } else walk(b, ps, pe, counter, depth + 1)._2
          texts += inner
          if (htmlBest == null) htmlBest = inner
        } else {
          val pcte = hdr(phs, "content-transfer-encoding")
          val bytes = decodeBody(b, pBodyAt, pe, pcte)
          val t = textOf(bytes, pmt, pparams, counter, depth)
          texts += t
          if (pmt == "text/plain" && plainBest == null) plainBest = t
          if (pmt == "text/html" && htmlBest == null) htmlBest = t
        }
      }
      val text =
        if (mt == "multipart/alternative") {
          // the plain rendition wins; html is the fallback rendition
          if (plainBest != null) plainBest
          else if (htmlBest != null) htmlBest
          else ""
        } else texts.filter(_.nonEmpty).mkString("\n\n")
      (hs, text)
    } else if (mt == "message/rfc822") {
      counter(0) += 1
      (hs, walk(b, bodyAt, to, counter, depth + 1)._2)
    } else {
      val bytes = decodeBody(b, bodyAt, to, cte)
      (hs, textOf(bytes, mt, params, counter, depth))
    }
  }

  /** Body spans of each part between `--boundary` delimiters;
    * refuses when the closing `--boundary--` is absent.
    */
  private def splitParts(b: Array[Byte], from: Int, to: Int,
      boundary: String): Seq[(Int, Int)] = {
    val open = ("--" + boundary).getBytes(
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var partStart = -1
    var closed = false
    var p = from
    while (p < to && !closed) {
      var e = p
      while (e < to && b(e) != '\n') e += 1
      val lineEnd = if (e > p && b(e - 1) == '\r') e - 1 else e
      val len = lineEnd - p
      val isDelim = len >= open.length && {
        var i = 0
        var eq = true
        while (eq && i < open.length) { eq = b(p + i) == open(i); i += 1 }
        eq
      }
      if (isDelim) {
        val rest = new String(b, p + open.length, len - open.length,
          java.nio.charset.StandardCharsets.ISO_8859_1).trim
        val isClose = rest == "--"
        if (rest.isEmpty || isClose) {
          if (partStart >= 0) {
            // the CRLF before the delimiter belongs to the delimiter
            var pe = p
            if (pe > partStart && b(pe - 1) == '\n') pe -= 1
            if (pe > partStart && b(pe - 1) == '\r') pe -= 1
            out += ((partStart, pe))
          }
          if (isClose) closed = true else partStart = e + 1
        }
      }
      p = e + 1
    }
    if (!closed) fail()
    out.toSeq
  }

  // ---- public entry points ----

  /** `eml_text(binary)` → struct<subject, from_addr, date, text,
    * n_parts>, null on refusal.
    */
  def message(b: Array[Byte]): InternalRow =
    try {
      val counter = Array(0)
      val (hs, text) = walk(b, 0, b.length, counter, 0)
      def u(s: String): UTF8String =
        if (s == null) null else UTF8String.fromString(s)
      InternalRow(
        u(decodeWords(hdr(hs, "subject"))),
        u(decodeWords(hdr(hs, "from"))),
        u(hdr(hs, "date")),
        UTF8String.fromString(text),
        math.max(counter(0), 1))
    } catch { case Corrupt => null }

  /** `mbox_messages(binary)` → array<binary>, null when not mbox.
    *
    * mbox framing: a message per `From ` separator line (mboxo; body
    * lines a writer stuffed to `>From ` are NOT unstuffed — that is
    * the mboxo round trip). Null when the buffer doesn't start with a
    * `From ` line.
    */
  def mboxMessages(b: Array[Byte]): GenericArrayData = {
    if (b.length < 5 || b(0) != 'F' || b(1) != 'r' || b(2) != 'o' ||
      b(3) != 'm' || b(4) != ' ') return null
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var msgStart = -1
    var p = 0
    def closeAt(e: Int): Unit = if (msgStart >= 0) {
      var me = e
      if (me > msgStart && b(me - 1) == '\n') me -= 1
      if (me > msgStart && b(me - 1) == '\r') me -= 1
      out += java.util.Arrays.copyOfRange(b, msgStart, me)
    }
    while (p < b.length) {
      var e = p
      while (e < b.length && b(e) != '\n') e += 1
      val isFrom = e - p >= 5 && b(p) == 'F' && b(p + 1) == 'r' &&
        b(p + 2) == 'o' && b(p + 3) == 'm' && b(p + 4) == ' '
      if (isFrom) { closeAt(p); msgStart = math.min(e + 1, b.length) }
      p = e + 1
    }
    closeAt(b.length)
    new GenericArrayData(out.toArray)
  }
}
