package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSuite
import graft.functions.{Gzip, HtmlToText, WarcParse}

/** Web-crawl ingestion edges: gzip member framing, WARC record grammar,
  * HTTP splitting, HTML text extraction, registered domains, line-level
  * dedup, DSIR weights. The happy path is oracle-gated end-to-end
  * (web_warc_extract / web_crawl_e2e); this spec pins the refusal paths
  * and the cross-codec independence the oracle can't see.
  */
class WebOpsSpec extends SparkSuite {

  private def s(x: String): Array[Byte] = x.getBytes(UTF_8)

  // ---- gzip ----

  test("gzip: our member inflates under the INDEPENDENT JDK decoder, and vice versa") {
    val raw = ("crawl payload " * 100).getBytes(UTF_8)
    // ours -> JDK
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(Gzip.compress(raw)))
    assert(in.readAllBytes().sameElements(raw))
    // JDK -> ours
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    assert(Gzip.inflateAll(bos.toByteArray).sameElements(raw))
  }

  test("gzip: concatenated members inflate in order; per-member isolation") {
    val a = s("alpha "); val b = s("beta"); val c = s("")
    val blob = Gzip.compress(a) ++ Gzip.compress(b) ++ Gzip.compress(c)
    assert(new String(Gzip.inflateAll(blob), UTF_8) == "alpha beta")
  }

  test("gzip: optional header fields (FNAME, FEXTRA, FCOMMENT) are skipped") {
    val raw = s("payload with header extras")
    val base = Gzip.compress(raw)
    // rebuild the member with FLG=FNAME|FEXTRA|FCOMMENT and the extra fields
    val deflate = java.util.Arrays.copyOfRange(base, 10, base.length)
    val header = Array[Byte](0x1f, 0x8b.toByte, 8, (4 | 8 | 16).toByte,
      0, 0, 0, 0, 0, 0xff.toByte) ++
      Array[Byte](3, 0) ++ s("xtr") ++ // FEXTRA: XLEN=3 LE, then 3 bytes
      (s("name.warc") :+ 0.toByte) ++ // FNAME, NUL-terminated
      (s("a comment") :+ 0.toByte) // FCOMMENT, NUL-terminated
    assert(Gzip.inflateAll(header ++ deflate).sameElements(raw))
  }

  test("gzip: refusals — bad magic, flipped CRC, truncation, trailing junk") {
    val raw = s("x" * 50)
    val ok = Gzip.compress(raw)
    assert(Gzip.inflateAll(ok).sameElements(raw))
    val badMagic = ok.clone(); badMagic(0) = 0x1e
    assert(Gzip.inflateAll(badMagic) == null)
    val badCrc = ok.clone(); badCrc(ok.length - 5) = (badCrc(ok.length - 5) ^ 1).toByte
    assert(Gzip.inflateAll(badCrc) == null)
    assert(Gzip.inflateAll(ok.dropRight(3)) == null)
    assert(Gzip.inflateAll(ok ++ s("junk")) == null)
  }

  test("gzip: decompression-bomb ceiling refuses, never allocates the bomb") {
    // ~80 MiB of zeros deflates to ~80 KiB; inflating must stop at the cap
    val bomb = new Array[Byte](80 << 20)
    assert(Gzip.inflateAll(Gzip.compress(bomb)) == null)
  }

  // ---- WARC ----

  private def record(id: Int, payload: String,
                     extraHeader: String = ""): String =
    s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:graft:$id>\r\n" +
      s"WARC-Target-URI: https://ex.com/$id\r\n$extraHeader" +
      s"Content-Length: ${payload.getBytes(UTF_8).length}\r\n\r\n$payload\r\n\r\n"

  test("warc: multi-record buffer parses every field; unknown headers ignored") {
    val buf = s(record(1, "first body", "X-Custom-Header: whatever\r\n") +
      record(2, "second"))
    val recs = WarcParse.parse(buf)
    assert(recs.numElements() == 2)
    val r0 = recs.getStruct(0, 7)
    assert(r0.getUTF8String(0).toString == "response")
    assert(r0.getUTF8String(1).toString == "<urn:graft:1>")
    assert(r0.getUTF8String(2).toString == "https://ex.com/1")
    assert(r0.getLong(5) == 10L)
    assert(new String(r0.getBinary(6), UTF_8) == "first body")
    assert(new String(recs.getStruct(1, 7).getBinary(6), UTF_8) == "second")
  }

  test("warc: Content-Length is the framing authority — payloads may contain header-lookalikes") {
    val tricky = "WARC/1.0\r\nContent-Length: 999\r\n\r\nnot a real record"
    val buf = s(record(7, tricky))
    val recs = WarcParse.parse(buf)
    assert(recs.numElements() == 1)
    assert(new String(recs.getStruct(0, 7).getBinary(6), UTF_8) == tricky)
  }

  test("warc: LWS-folded header values unfold") {
    val payload = "x"
    val folded = s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://ex.com/\r\n very/long/path\r\n" +
      s"Content-Length: 1\r\n\r\n$payload\r\n\r\n"
    val recs = WarcParse.parse(s(folded))
    assert(recs.numElements() == 1)
    assert(recs.getStruct(0, 7).getUTF8String(2).toString ==
      "https://ex.com/ very/long/path")
  }

  test("warc: final record separator is optional at buffer end only") {
    assert(WarcParse.parse(s(record(1, "a").stripSuffix("\r\n\r\n"))).numElements() == 1)
    val midMissing = record(1, "a").stripSuffix("\r\n\r\n") + record(2, "b")
    assert(WarcParse.parse(s(midMissing)) == null)
  }

  test("warc: refusals — bad version, no Content-Length, overrun, junk") {
    assert(WarcParse.parse(s("HTTP/1.1 200 OK\r\n\r\n")) == null)
    assert(WarcParse.parse(s("WARC/1.0\r\nWARC-Type: response\r\n\r\nbody")) == null)
    assert(WarcParse.parse(s("WARC/1.0\r\nContent-Length: 100\r\n\r\nshort")) == null)
    assert(WarcParse.parse(s(record(1, "a") + "garbage")) == null)
    assert(WarcParse.parse(Array.empty[Byte]).numElements() == 0)
  }

  test("http: body/status split; non-HTTP payloads refuse") {
    val payload = s("HTTP/1.1 404 Not Found\r\nServer: x\r\n\r\nthe body")
    assert(WarcParse.status(payload) == 404)
    assert(new String(WarcParse.body(payload), UTF_8) == "the body")
    assert(WarcParse.status(s("not http")) == -1)
    assert(WarcParse.body(s("no header split")) == null)
    assert(WarcParse.status(s("HTTP/1.1 99x\r\n\r\n")) == -1)
  }

  test("wet conversion records round-trip multi-byte text (byte-length framing)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = Seq((1L, "café 中文 text"), (2L, "plain ascii")).toDF("doc_id", "text")
    val recs = docs.select(col("doc_id"),
      WebOps.buildWetRecord(col("doc_id"),
        concat(lit("https://h/x/"), col("doc_id").cast("string")),
        col("text")).as("rec"))
    val files = WebOps.buildCrawlFiles(recs, col("doc_id"), col("rec"), perFile = 2)
    val got = WebOps.extractWetText(files, col("blob"))
      .select(col("target_uri"), col("text")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("https://h/x/1" -> "café 中文 text", "https://h/x/2" -> "plain ascii"))
    // and the non-HTTP payload yields null http fields on the generic path
    val rec = WebOps.extractRecords(files, col("blob"))
      .filter(col("warc_type") === "conversion").select(col("http_status")).collect()
    assert(rec.forall(_.isNullAt(0)))
  }

  // ---- HTML ----

  private def html(in: String): String =
    HtmlToText.extract(UTF8String.fromString(in)).toString

  test("html: tags separate words, whitespace collapses, case-insensitive containers drop") {
    assert(html("<p>a</p><p>b</p>") == "a b")
    assert(html("a<b>bold</b>c") == "a bold c")
    assert(html("  lots\n\tof   space  ") == "lots of space")
    assert(html("<SCRIPT>var x=1;</SCRIPT>visible<STYLE>p{}</STYLE>") == "visible")
    assert(html("<script src=\"x.js\">var s=\"</fake>\";</script>after") == "after")
    assert(html("<title>Page Chrome</title>body text") == "body text")
  }

  test("html: unclosed raw-text containers and comments drop to end-of-input") {
    assert(html("before<script>var x = 'runs off") == "before")
    assert(html("before<!-- never closed") == "before")
    assert(html("before<!DOCTYPE html>after") == "before after")
    assert(html("a<?php echo ?>b") == "a b")
  }

  test("html: character references — named, decimal, hex, and HTML5 leniency") {
    assert(html("&amp;&lt;&gt;&quot;&apos;") == "&<>\"'")
    assert(html("A&#66;&#x43;") == "ABC")
    assert(html("caf&#xE9;") == "café")
    assert(html("a&nbsp;b") == "a b")
    assert(html("AT&T and R&D") == "AT&T and R&D") // bare & stays literal
    assert(html("&bogus; &#xZZ; &#99999999999;") == "&bogus; &#xZZ; &#99999999999;")
    assert(html("&#128512;") == new String(Character.toChars(128512))) // astral plane
  }

  // ---- registered domain ----

  test("registered domain: PSL semantics over plain and multi-part suffixes") {
    import spark.implicits._
    val hosts = Seq("news.bbc.co.uk", "bbc.co.uk", "a.b.example.com",
      "example.com", "localhost", "cdn.shop.com.au", "x.co.kr")
    val got = hosts.toDF("h")
      .select(UrlOps.registeredDomain(col("h")).as("d")).as[String].collect()
    assert(got.toSeq == Seq("bbc.co.uk", "bbc.co.uk", "example.com",
      "example.com", "localhost", "shop.com.au", "x.co.kr"))
  }

  // ---- line-level dedup ----

  test("lineDedup: corpus-wide keep-first, reassembly order, empty survivors") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq("cookie banner", "unique one", "cookie banner")),
      (2L, Seq("cookie banner", "unique two")),
      (3L, Seq("cookie banner"))).toDF("doc_id", "lines")
    val got = DedupOps.lineDedup(docs, "doc_id", col("lines"))
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, 2L, "cookie banner unique one"), // first occurrence wins; in-doc repeat drops too
      (2L, 2L, 1L, "unique two"),
      (3L, 1L, 0L, ""))) // all lines were someone else's
  }

  // ---- DSIR ----

  test("dsir: weights rank target-like docs above raw-like docs; select filters") {
    import spark.implicits._
    // corpora large enough that the +1/(n+B) smoothing doesn't swamp the
    // count signal (the operator is built for corpus-sized n)
    val docs = Seq(
      (1L, "en", "quality prose " * 25),
      (2L, "en", "quality prose insight " * 10),
      (3L, "xx", "spam junk " * 25),
      (4L, "xx", "quality spam " * 10)).toDF("doc_id", "lang", "text")
    val w = ImportanceOps.dsirLogRatio(docs, "doc_id", "text",
        col("lang") === "en", numBuckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // target tokens score positive, off-target negative, mixed in between
    assert(w(1L) > 0 && w(2L) > 0)
    assert(w(3L) < 0)
    assert(w(3L) < w(4L) && w(4L) < w(1L))
    assert(w.filter(_._2 >= 0.0).keySet == Set(1L, 2L))
  }

  test("dsir: model tables stay bucket-bounded (no corpus-sized broadcast)") {
    import spark.implicits._
    val docs = Seq((1L, "en", "a b c"), (2L, "xx", "d e f")).toDF("doc_id", "lang", "text")
    val plan = ImportanceOps.dsirLogRatio(docs, "doc_id", "text",
      col("lang") === "en", numBuckets = 8).queryExecution.executedPlan.toString
    // the totals cross join must be the broadcast of ONE row, never a cartesian
    assert(!plan.contains("CartesianProduct"))
  }

  test("malformed zstd and unknown blobs quarantine loudly; VALID zstd decodes") {
    import spark.implicits._
    val goodGz = graft.functions.Gzip.compress("payload".getBytes("UTF-8"))
    val corruptGz = goodGz.clone()
    corruptGz(corruptGz.length - 5) = (corruptGz(corruptGz.length - 5) ^ 0x7f).toByte
    val warcRec = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:graft:9>\r\n" +
      "WARC-Target-URI: https://x.example/a\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" +
      "Content-Type: application/http; msgtype=response\r\nContent-Length: 40\r\n\r\n" +
      "HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n").getBytes("UTF-8")
    val blobs = Seq(
      (1L, goodGz),
      (2L, corruptGz),                                       // gzip magic, bad CRC
      (3L, Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte, 1, 2, 3)), // truncated frame
      (4L, Array[Byte](0x5a, 0x2a, 0x4d, 0x18, 9, 9)),       // truncated skippable
      (5L, "plain bytes".getBytes("UTF-8")),                 // unknown
      (6L, Array.empty[Byte]),                               // empty
      (7L, graft.functions.Zstd.compressRaw(warcRec)))       // VALID zstd'd WARC
      .toDF("id", "blob")
    val got = WebOps.segmentAudit(blobs, col("id"), col("blob"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2), r.getLong(3))))
      .toMap
    assert(got(1L) == (("gzip", false, 0L))) // inflates but holds no WARC records
    assert(got(2L) == (("gzip", true, 0L)), "bad CRC must quarantine, not pass")
    assert(got(3L) == (("zstd", true, 0L)), "truncated zstd must quarantine")
    assert(got(4L) == (("zstd", true, 0L)))
    assert(got(5L) == (("unknown", true, 0L)))
    assert(got(6L) == (("empty", true, 0L)))
    assert(got(7L) == (("zstd", false, 1L)), "valid zstd segment must COUNT")
    // the extraction path: a malformed zstd segment yields zero pages
    // (refusal, never garbage), a valid one yields its record
    assert(WebOps.extractPages(blobs.filter(col("id") === 3L), col("blob")).count() == 0)
    assert(WebOps.extractPages(blobs.filter(col("id") === 7L), col("blob")).count() == 1)
  }

  // ---- HTTP entity decode: chunked framing + content codings ----

  private def resp(headers: String, body: Array[Byte]): Array[Byte] =
    s("HTTP/1.1 200 OK\r\n" + headers + "\r\n") ++ body

  test("entity: chunked de-framing — extensions, trailers, hex case") {
    val framed = s("5;ext=1\r\nhello\r\nA\r\n 01234567 \r\n0\r\n" +
      "X-Trailer: v\r\n\r\n")
    val p = resp("Transfer-Encoding: chunked\r\n", framed)
    assert(new String(WarcParse.entity(p), UTF_8) == "hello 01234567 ")
    assert(WarcParse.entityVerdict(p).toString == "ok")
    // uppercase hex size
    val up = resp("Transfer-Encoding: CHUNKED\r\n", s("B\r\nhello world\r\n0\r\n\r\n"))
    assert(new String(WarcParse.entity(up), UTF_8) == "hello world")
  }

  test("entity: chunked refusals — bad size, overrun, missing terminator, trailing junk") {
    def chk(framed: String): String = WarcParse.entityVerdict(
      resp("Transfer-Encoding: chunked\r\n", s(framed))).toString
    assert(chk("zz\r\nhi\r\n0\r\n\r\n") == "chunked_malformed")
    assert(chk("FF\r\nshort\r\n0\r\n\r\n") == "chunked_malformed")
    assert(chk("5\r\nhello\r\n") == "chunked_malformed") // no last chunk
    assert(chk("5\r\nhello\r\n0\r\n\r\njunk") == "chunked_malformed")
    assert(chk("5\r\nhelloXX0\r\n\r\n") == "chunked_malformed") // no CRLF after data
    // unsupported TE stack refuses by name
    assert(WarcParse.entityVerdict(resp("Transfer-Encoding: gzip, chunked\r\n",
      s("x"))).toString == "unsupported_transfer_encoding:gzip, chunked")
  }

  test("entity: content codings — gzip, deflate (zlib and raw), multi-coding, refusals") {
    val raw = ("payload " * 40).getBytes(UTF_8)
    def ce(coding: String, body: Array[Byte]): Array[Byte] =
      WarcParse.entity(resp(
        s"Content-Encoding: $coding\r\nContent-Length: ${body.length}\r\n", body))
    assert(ce("gzip", Gzip.compress(raw)).sameElements(raw))
    assert(ce("x-gzip", Gzip.compress(raw)).sameElements(raw))
    assert(ce("identity, gzip", Gzip.compress(raw)).sameElements(raw))
    // zlib-wrapped deflate (JDK default) and raw deflate both decode
    val zlib = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val b = new Array[Byte](8192)
      while (!d.finished()) out.write(b, 0, d.deflate(b))
      d.end(); out.toByteArray
    }
    val rawDeflate = {
      val d = new java.util.zip.Deflater(-1, true)
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val b = new Array[Byte](8192)
      while (!d.finished()) out.write(b, 0, d.deflate(b))
      d.end(); out.toByteArray
    }
    assert(ce("deflate", zlib).sameElements(raw))
    assert(ce("deflate", rawDeflate).sameElements(raw))
    // refusal classes are countable by name
    assert(WarcParse.entityVerdict(resp(
      "Content-Encoding: br\r\nContent-Length: 3\r\n", s("abc")))
      .toString == "unsupported_content_encoding:br")
    assert(WarcParse.entityVerdict(resp(
      "Content-Encoding: gzip\r\nContent-Length: 3\r\n", s("abc")))
      .toString == "content_decode_failed:gzip")
  }

  test("entity: Content-Length slicing and overrun refusal") {
    // CL slices; WARC slack after the message would be a capture bug
    val p = resp("Content-Length: 5\r\n", s("hellotrailing"))
    assert(new String(WarcParse.entity(p), UTF_8) == "hello")
    assert(WarcParse.entityVerdict(resp("Content-Length: 99\r\n", s("short")))
      .toString == "length_overrun")
    assert(WarcParse.entityVerdict(s("not http at all"))
      .toString == "not_http")
    // chunked wins over CL when both present (RFC 9112 §6.3)
    val both = resp("Content-Length: 3\r\nTransfer-Encoding: chunked\r\n",
      s("5\r\nhello\r\n0\r\n\r\n"))
    assert(new String(WarcParse.entity(both), UTF_8) == "hello")
  }

  test("entity: chunked + gzip composes in spec order (de-chunk, then decode)") {
    val raw = ("composed body " * 30).getBytes(UTF_8)
    val framed = WarcParse.chunkFrame(Gzip.compress(raw), 17)
    val p = resp("Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n",
      framed)
    assert(WarcParse.entity(p).sameElements(raw))
    // round trip through the builder expression too
    assert(WarcParse.chunkFrame(Array.empty[Byte], 8)
      .sameElements(s("0\r\n\r\n")))
  }

  test("webdataset stem splits at the first dot AFTER the last slash") {
    import spark.implicits._
    // a dotted directory must stay in the stem: shard.v1/000.jpg and
    // shard.v1/000.txt are ONE sample keyed 'shard.v1/000'
    val tar = graft.functions.TarWalk.packAll(Seq(
      "shard.v1/000.jpg" -> s("JJ"),
      "shard.v1/000.txt" -> s("hello"),
      "shard.v1/001.seg.png" -> s("PP"),
      "plain.txt" -> s("x")))
    val out = WebOps.webdatasetSamples(
        Seq(("t0", tar)).toDF("sid", "blob"),
        col("sid"), col("blob"), Seq("jpg", "txt"))
      .orderBy("sample_key")
      .collect()
      .map(r => (r.getString(1), r.getSeq[String](2).toList,
        r.getBoolean(5)))
    assert(out.toSeq == Seq(
      ("plain", List("txt"), false),
      ("shard.v1/000", List("jpg", "txt"), true),
      ("shard.v1/001", List("seg.png"), false)))
  }
}
