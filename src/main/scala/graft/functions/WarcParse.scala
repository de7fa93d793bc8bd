package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WARC record parsing as a scan-side expression — the container format
  * of real web crawls (ISO 28500 / WARC-1.1, the Common Crawl layout).
  * `warc_records(binary)` parses a buffer holding one or more
  * concatenated WARC records (the payload of [[Gzip.inflateAll]] over a
  * record-at-time-compressed crawl file) into
  * `array<struct<warc_type, record_id, target_uri, warc_date,
  * content_type, content_length, payload>>`.
  *
  * Grammar per record: a `WARC/1.x` version line, CRLF-terminated
  * `Name: value` header lines (LWS continuation lines folded per the
  * spec), an empty line, then EXACTLY `Content-Length` bytes of content
  * block, then the two record-separator CRLFs. `Content-Length` is the
  * only framing authority — content bytes are opaque and may contain
  * anything, including things that look like WARC headers.
  *
  * STRICT whole-buffer semantics: any malformation — missing version
  * line, unparsable or absent Content-Length, content running past the
  * buffer, missing record separator, trailing junk — nulls the whole
  * row (a crawl segment either parses or is quarantined for re-fetch;
  * silently dropping records would corrupt dedup statistics downstream).
  *
  * Scale shape: codegen'd static call; one linear pass per buffer, no
  * copies except the per-record payload slice; records reduce to rows
  * before anything shuffles. Pair with per-file parallelism (crawl
  * files are written ~1 GiB exactly so file-granular splits saturate a
  * cluster without byte-range splitting the gzip stream).
  */
object WarcParse {

  val recordSchema: StructType = StructType(Seq(
    StructField("warc_type", StringType, nullable = true),
    StructField("record_id", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  val schema: DataType = ArrayType(recordSchema, containsNull = false)

  /** `http_header(binary, name)` → one header's value or null.
    *
    * One HTTP header's value from a response payload: the header block
    * (up to CRLFCRLF, bytes decoded Latin-1 — header bytes are ASCII
    * in practice and Latin-1 never fails), status line skipped, names
    * case-insensitive, FIRST match wins, value trimmed. Null when the
    * payload isn't HTTP or the header is absent — the dispatch seam
    * for content-type routing (html/pdf/docx extractors).
    */
  def header(payload: Array[Byte], name: UTF8String): UTF8String = {
    var limit = -1
    var i = 0
    while (limit < 0 && i + 3 < payload.length) {
      if (payload(i) == '\r' && payload(i + 1) == '\n' &&
        payload(i + 2) == '\r' && payload(i + 3) == '\n') limit = i
      i += 1
    }
    if (limit < 0) return null
    val head = new String(payload, 0, limit,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    if (!head.startsWith("HTTP/")) return null
    val want = name.toString
    val lines = head.split("\r\n")
    var k = 1
    while (k < lines.length) {
      val line = lines(k)
      val colon = line.indexOf(':')
      if (colon > 0 && line.substring(0, colon).trim.equalsIgnoreCase(want))
        return UTF8String.fromString(line.substring(colon + 1).trim)
      k += 1
    }
    null
  }

  /** `warc_records(binary)` → array of parsed records, null on malformation. */
  def parse(buf: Array[Byte]): GenericArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[GenericInternalRow]
    var pos = 0
    while (pos < buf.length) {
      pos = parseRecord(buf, pos, out)
      if (pos < 0) return null
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** One record at `pos`; appends its row, returns the offset past the
    * record separator (buffer end counts — the last record's separator
    * may be absent in lenient writers, but mid-buffer it is required).
    */
  private def parseRecord(buf: Array[Byte], pos: Int,
      out: scala.collection.mutable.ArrayBuffer[GenericInternalRow]): Int = {
    var p = lineEnd(buf, pos)
    if (p < 0) return -1
    val version = ascii(buf, pos, p)
    if (!version.startsWith("WARC/1.") && version != "WARC/0.18") return -1
    p += 2
    var warcType: String = null; var recordId: String = null
    var targetUri: String = null; var warcDate: String = null
    var contentType: String = null; var contentLength = -1L
    var done = false
    while (!done) {
      val e = lineEnd(buf, p)
      if (e < 0) return -1
      if (e == p) { p += 2; done = true } // empty line ends the header block
      else {
        var vEnd = e
        // LWS folding: subsequent lines starting with SP/HT continue this value
        var probe = e + 2
        while (probe < buf.length && (buf(probe) == ' ' || buf(probe) == '\t')) {
          val ne = lineEnd(buf, probe)
          if (ne < 0) return -1
          vEnd = ne; probe = ne + 2
        }
        val line = ascii(buf, p, vEnd).replaceAll("\r\n[ \t]+", " ")
        val colon = line.indexOf(':')
        if (colon <= 0) return -1
        val name = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(colon + 1).trim
        name match {
          case "warc-type" => warcType = value
          case "warc-record-id" => recordId = value
          case "warc-target-uri" => targetUri = value
          case "warc-date" => warcDate = value
          case "content-type" => contentType = value
          case "content-length" =>
            contentLength = try value.toLong catch { case _: NumberFormatException => return -1 }
          case _ => () // unknown headers are legal and ignored
        }
        p = probe
      }
    }
    if (contentLength < 0 || p + contentLength > buf.length) return -1
    val payload = java.util.Arrays.copyOfRange(buf, p, p + contentLength.toInt)
    p += contentLength.toInt
    // record separator: CRLF CRLF (tolerated absent only at buffer end)
    if (p < buf.length) {
      if (p + 4 > buf.length || buf(p) != '\r' || buf(p + 1) != '\n' ||
          buf(p + 2) != '\r' || buf(p + 3) != '\n') return -1
      p += 4
    }
    def s(x: String): UTF8String = if (x == null) null else UTF8String.fromString(x)
    out += new GenericInternalRow(Array[Any](
      s(warcType), s(recordId), s(targetUri), s(warcDate), s(contentType),
      contentLength, payload))
    p
  }

  private def lineEnd(buf: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < buf.length) {
      if (buf(i) == '\r' && buf(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  private def ascii(buf: Array[Byte], from: Int, to: Int): String =
    new String(buf, from, to - from, java.nio.charset.StandardCharsets.US_ASCII)

  /** `http_body(binary)` → bytes past the HTTP header block, null if none.
    *
    * Body of an HTTP message: everything past the first CRLFCRLF, or
    * null when no header/body split exists (the caller is looking at a
    * non-HTTP payload — metadata records, DNS records).
    */
  def body(payload: Array[Byte]): Array[Byte] = {
    val split = headerEnd(payload)
    if (split < 0) null
    else java.util.Arrays.copyOfRange(payload, split, payload.length)
  }

  /** [[status]], null where it is -1. */
  def statusOrNull(payload: Array[Byte]): Integer = {
    val c = status(payload)
    if (c < 0) null else c
  }

  /** `http_status(binary)` → response status code, null for non-HTTP.
    *
    * HTTP status code from the status line, or -1 (→ null) when the
    * payload is not an HTTP response message.
    */
  def status(payload: Array[Byte]): Int = {
    val e = lineEnd(payload, 0)
    if (e < 0) return -1
    val line = ascii(payload, 0, e)
    if (!line.startsWith("HTTP/")) return -1
    val parts = line.split(" ")
    if (parts.length < 2) return -1
    try {
      val c = parts(1).toInt
      if (c >= 100 && c <= 599) c else -1
    } catch { case _: NumberFormatException => -1 }
  }

  private def headerEnd(buf: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < buf.length) {
      if (buf(i) == '\r' && buf(i + 1) == '\n' && buf(i + 2) == '\r' && buf(i + 3) == '\n')
        return i + 4
      i += 1
    }
    -1
  }

  // ----------------------------------------------------------------
  // ENTITY decoding: Transfer-Encoding de-framing + Content-Encoding
  // ----------------------------------------------------------------

  /** `http_entity(binary)` → transfer- and content-decoded entity body
    * (chunked de-framed, gzip/deflate/zstd undone), null on refusal.
    *
    * Fully decoded entity body of an HTTP response — what [[body]]
    * pretends the raw bytes already are. Real crawl captures are
    * frequently `Transfer-Encoding: chunked` (hex-size-line framing,
    * RFC 9112 §7.1) and/or `Content-Encoding: gzip|deflate|zstd`
    * (RFC 9110 §8.4); feeding those raw to `html_to_text` leaks chunk
    * framing or compressed bytes into corpus text. Order per spec:
    * de-chunk first, then undo content codings right-to-left.
    *
    * Whole-or-refuse: any malformation (bad chunk size line, missing
    * terminator, Content-Length past the capture, a coding that fails
    * to decode, or a coding this engine has no decoder for — brotli)
    * returns null; [[entityVerdict]] names the refusal class so a
    * crawl ingest can COUNT what it quarantined instead of silently
    * processing the subset it could read.
    */
  def entity(payload: Array[Byte]): Array[Byte] = decodeEntity(payload)._2

  /** `http_entity_verdict(binary)` → `'ok'` or the refusal class of
    * [[entity]] — the countable quarantine signal.
    *
    * Refusal-class verdict for [[entity]]: `ok`, `not_http`,
    * `chunked_malformed`, `length_overrun`,
    * `unsupported_transfer_encoding:<te>`,
    * `unsupported_content_encoding:<ce>`, `content_decode_failed:<ce>`.
    */
  def entityVerdict(payload: Array[Byte]): UTF8String =
    UTF8String.fromString(decodeEntity(payload)._1)

  private def decodeEntity(payload: Array[Byte]): (String, Array[Byte]) = {
    val split = headerEnd(payload)
    if (split < 0) return ("not_http", null)
    val head = new String(payload, 0, split - 4,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    if (!head.startsWith("HTTP/")) return ("not_http", null)
    def hdr(name: String): String = {
      val lines = head.split("\r\n")
      var k = 1
      while (k < lines.length) {
        val colon = lines(k).indexOf(':')
        if (colon > 0 &&
          lines(k).substring(0, colon).trim.equalsIgnoreCase(name))
          return lines(k).substring(colon + 1).trim
        k += 1
      }
      null
    }
    val te = hdr("Transfer-Encoding")
    var body: Array[Byte] = null
    if (te != null && te.nonEmpty) {
      // only the terminal 'chunked' coding is in real crawls; a TE
      // compression stack (gzip, chunked) is refused by name
      if (!te.trim.equalsIgnoreCase("chunked"))
        return (s"unsupported_transfer_encoding:" +
          te.trim.toLowerCase(java.util.Locale.ROOT), null)
      body = dechunk(payload, split)
      if (body == null) return ("chunked_malformed", null)
    } else {
      val clRaw = hdr("Content-Length")
      val cl = if (clRaw == null) -1L
        else try clRaw.toLong catch { case _: NumberFormatException => -2L }
      // a PRESENT but negative/unparseable Content-Length is a malformed
      // frame, refused — only an ABSENT header means read-to-end
      if (cl == -2L || (clRaw != null && cl < 0) ||
        cl > payload.length - split)
        return ("length_overrun", null)
      val end = if (cl >= 0) split + cl.toInt else payload.length
      body = java.util.Arrays.copyOfRange(payload, split, end)
    }
    // content codings are listed in application order — undo reversed
    val ce = hdr("Content-Encoding")
    if (ce != null && ce.nonEmpty) {
      val codings = ce.split(",").map(
        _.trim.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
      var i = codings.length - 1
      while (i >= 0) {
        codings(i) match {
          case "identity" => ()
          case "gzip" | "x-gzip" =>
            body = Gzip.inflateAll(body)
            if (body == null) return ("content_decode_failed:gzip", null)
          case "deflate" =>
            body = inflateDeflate(body)
            if (body == null) return ("content_decode_failed:deflate", null)
          case "zstd" =>
            body = Zstd.decompressAll(body)
            if (body == null) return ("content_decode_failed:zstd", null)
          case other =>
            return (s"unsupported_content_encoding:$other", null)
        }
        i -= 1
      }
    }
    ("ok", body)
  }

  /** RFC 9112 §7.1 chunk de-framing from `from`: hex size line (chunk
    * extensions after `;` ignored), size bytes + CRLF per chunk, a
    * last-chunk of size 0, then optional trailer fields up to the
    * final CRLF. Null on any malformation, including trailing bytes
    * past the terminator (the WARC capture holds exactly one message).
    */
  private def dechunk(buf: Array[Byte], from: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      math.min(buf.length - from, 1 << 16))
    var p = from
    while (true) {
      val e = lineEnd(buf, p)
      if (e < 0) return null
      var line = ascii(buf, p, e)
      val semi = line.indexOf(';')
      if (semi >= 0) line = line.substring(0, semi)
      line = line.trim
      if (line.isEmpty || line.length > 8 ||
        !line.forall(c => (c >= '0' && c <= '9') ||
          (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F'))) return null
      val size = java.lang.Long.parseLong(line, 16)
      p = e + 2
      if (size > 0) {
        if (size > Gzip.MaxInflatedBytes ||
          p + size + 2 > buf.length) return null
        out.write(buf, p, size.toInt)
        p += size.toInt
        if (buf(p) != '\r' || buf(p + 1) != '\n') return null
        p += 2
      } else {
        // trailer section: zero or more field lines, then CRLF
        var done = false
        while (!done) {
          val t = lineEnd(buf, p)
          if (t < 0) return null
          if (t == p) { p += 2; done = true }
          else {
            if (ascii(buf, p, t).indexOf(':') <= 0) return null
            p = t + 2
          }
        }
        if (p != buf.length) return null
        return out.toByteArray
      }
    }
    null
  }

  /** `http_chunk_frame(binary, int)` → the chunked transfer coding of the
    * bytes — the construction-side inverse of [[entity]]'s de-framing.
    *
    * Chunk-frame `body` with `size`-byte chunks (RFC 9112 §7.1) — the
    * construction-side inverse of [[dechunk]], used to build chunked
    * response fixtures scan-side so the decode path is certified as a
    * round trip against bytes an independent HTTP stack would emit.
    */
  def chunkFrame(body: Array[Byte], size: Int): Array[Byte] = {
    if (size <= 0) return null
    val out = new java.io.ByteArrayOutputStream(body.length + 64)
    val crlf = Array[Byte]('\r', '\n')
    var p = 0
    while (p < body.length) {
      val n = math.min(size, body.length - p)
      out.write(java.lang.Integer.toHexString(n)
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.write(crlf)
      out.write(body, p, n)
      out.write(crlf)
      p += n
    }
    out.write('0'); out.write(crlf); out.write(crlf)
    out.toByteArray
  }

  /** `Content-Encoding: deflate` — a zlib stream per RFC 9110, but
    * many servers historically sent raw DEFLATE; accept the zlib
    * wrapper when the 2-byte header checks out (RFC 1950: CM=8,
    * FCHECK), else try raw. Null on failure or bomb.
    */
  private def inflateDeflate(b: Array[Byte]): Array[Byte] = {
    val zlib = b.length >= 2 && (b(0) & 0x0f) == 8 &&
      Bytes.be16(b, 0) % 31 == 0
    val inf = new java.util.zip.Inflater(!zlib)
    inf.setInput(b)
    val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 20))
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return null // truncated / dict demand
        out.write(buf, 0, n)
        if (out.size() > Gzip.MaxInflatedBytes) return null
      }
      if (inf.getRemaining != 0) return null // trailing junk
      out.toByteArray
    } catch {
      case _: java.util.zip.DataFormatException => null
    } finally inf.end()
  }
}
