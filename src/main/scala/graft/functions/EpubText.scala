package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** EPUB → text as one scan-side expression — the e-book corpus source
  * (public-domain book archives ship EPUB; books are the long-document
  * backbone of LLM training mixes). EPUB (the public IDPF/W3C spec) is
  * a PKZIP container with a fixed discovery chain, so the extractor
  * stands on the same from-scratch zip walk as `docx_text` and the
  * same HTML scan as `html_to_text`:
  *
  * `epub_text(binary)`:
  *  1. `mimetype` member must read `application/epub+zip` (OCF 3.0
  *     §3.3; trailing whitespace tolerated) — else refuse;
  *  2. `META-INF/container.xml` names the package document via the
  *     first `rootfile` `full-path` attribute — missing either refuses;
  *  3. the OPF package document's `<manifest>` maps item ids to hrefs
  *     (attribute order free, single or double quotes); its `<spine>`
  *     lists the reading order by `idref`;
  *  4. every spine item whose manifest `media-type` is
  *     `application/xhtml+xml` resolves relative to the OPF directory
  *     (no URL-decoding; a `..` segment refuses — archive paths never
  *     escape their root), extracts through [[HtmlToText.extract]]
  *     (scripts/styles/title drop, entities decode, whitespace
  *     collapses), and chapters join with '\n';
  *  5. non-xhtml spine entries (images, css) skip; a spine idref with
  *     no manifest item, a missing/corrupt chapter member, or an empty
  *     spine refuses — whole-or-refuse, never partial text.
  *
  * `epub_doc(binary)` is the deterministic writer for round trips:
  * one chapter per input line (stored members, fixed timestamps,
  * `mimetype` first per OCF), each line XML-escaped inside one `<p>`.
  * Because `html_to_text` trims and collapses whitespace, the engine
  * round-trip contract is over per-line collapsed text:
  * `epub_text(epub_doc(clean)) == clean` when each line of `clean` is
  * already trimmed with single internal spaces.
  *
  * Scale: scan-side expression over one blob, embarrassingly parallel,
  * no shuffle; markup and container overhead are discarded before
  * anything leaves the scan.
  */
object EpubText {

  import Bytes.fail

  /** First value of `name="..."` / `name='...'` inside `tag`, or null. */
  private def attr(tag: String, name: String): String = {
    val needle = name + "="
    var i = tag.indexOf(needle)
    while (i >= 0) {
      // must start an attribute: preceded by whitespace
      if (i > 0 && Character.isWhitespace(tag.charAt(i - 1))) {
        val qp = i + needle.length
        if (qp < tag.length) {
          val q = tag.charAt(qp)
          if (q == '"' || q == '\'') {
            val e = tag.indexOf(q, qp + 1)
            if (e < 0) fail()
            return tag.substring(qp + 1, e)
          }
        }
      }
      i = tag.indexOf(needle, i + 1)
    }
    null
  }

  /** All `<elem ...>` tag bodies (start tags only) in document order. */
  private def tags(xml: String, elem: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val open = "<" + elem
    var i = xml.indexOf(open)
    while (i >= 0) {
      val after = i + open.length
      if (after < xml.length &&
        (Character.isWhitespace(xml.charAt(after)) ||
          xml.charAt(after) == '>' || xml.charAt(after) == '/')) {
        val e = xml.indexOf('>', after)
        if (e < 0) fail()
        out += xml.substring(i, e + 1)
        i = xml.indexOf(open, e + 1)
      } else i = xml.indexOf(open, after)
    }
    out.toSeq
  }

  /** Resolve `href` against the directory of `opfPath`; refuse escapes. */
  private def resolve(opfPath: String, href: String): String = {
    if (href.contains("..")) fail()
    val dir = opfPath.lastIndexOf('/') match {
      case -1 => ""
      case k  => opfPath.substring(0, k + 1)
    }
    val h = if (href.startsWith("./")) href.substring(2) else href
    dir + h
  }

  /** `epub_text(binary)` → reading-order text, or null (refused). */
  def epubText(buf: Array[Byte]): UTF8String =
    try {
      val members = ZipDocx.parseArchive(buf)
      def member(name: String): Array[Byte] = {
        var i = 0
        while (i < members.length) {
          if (members(i).name == name) {
            if (members(i).data == null) fail() // corrupt payload
            return members(i).data
          }
          i += 1
        }
        fail()
      }
      val mime = new String(member("mimetype"),
        java.nio.charset.StandardCharsets.US_ASCII).trim
      if (mime != "application/epub+zip") fail()

      val container = new String(member("META-INF/container.xml"),
        java.nio.charset.StandardCharsets.UTF_8)
      val roots = tags(container, "rootfile")
      if (roots.isEmpty) fail()
      val opfPath = attr(roots.head, "full-path")
      if (opfPath == null) fail()

      val opf = new String(member(opfPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val items = tags(opf, "item").flatMap { t =>
        val id = attr(t, "id"); val href = attr(t, "href")
        val mt = attr(t, "media-type")
        if (id == null || href == null) None else Some(id -> (href, mt))
      }.toMap
      val spine = tags(opf, "itemref").flatMap(t => Option(attr(t, "idref")))
      if (spine.isEmpty) fail()

      val sb = new java.lang.StringBuilder
      var emitted = 0
      spine.foreach { idref =>
        val (href, mt) = items.getOrElse(idref, fail())
        if (mt == "application/xhtml+xml") {
          val xhtml = new String(member(resolve(opfPath, href)),
            java.nio.charset.StandardCharsets.UTF_8)
          if (emitted > 0) sb.append('\n')
          sb.append(HtmlToText.extract(UTF8String.fromString(xhtml)).toString)
          emitted += 1
        }
      }
      if (emitted == 0) fail()
      UTF8String.fromString(sb.toString)
    } catch { case _: RuntimeException => null }

  private def xmlEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private val ContainerXml =
    ("""<?xml version="1.0" encoding="UTF-8"?>""" +
      """<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">""" +
      """<rootfiles><rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/>""" +
      """</rootfiles></container>""").getBytes("UTF-8")

  /** `epub_doc(binary)` → one deterministic EPUB around the text. */
  def epubDoc(text: Array[Byte]): Array[Byte] = {
    val s = new String(text, java.nio.charset.StandardCharsets.UTF_8)
    val lines = s.split("\n", -1)
    val chapters = lines.zipWithIndex.map { case (line, i) =>
      val name = f"OEBPS/ch${i + 1}%04d.xhtml"
      val body =
        ("""<?xml version="1.0" encoding="UTF-8"?>""" +
          """<html xmlns="http://www.w3.org/1999/xhtml"><head>""" +
          s"""<title>ch${i + 1}</title></head><body><p>${xmlEscape(line)}</p>""" +
          """</body></html>""").getBytes("UTF-8")
      (name, body)
    }
    val manifest = chapters.zipWithIndex.map { case ((name, _), i) =>
      val href = name.substring("OEBPS/".length)
      s"""<item id="c${i + 1}" href="$href" media-type="application/xhtml+xml"/>"""
    }.mkString
    val spine = chapters.indices.map(i =>
      s"""<itemref idref="c${i + 1}"/>""").mkString
    val opf =
      ("""<?xml version="1.0" encoding="UTF-8"?>""" +
        """<package xmlns="http://www.idpf.org/2007/opf" version="3.0" unique-identifier="uid">""" +
        """<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">""" +
        """<dc:identifier id="uid">urn:graft:epub</dc:identifier>""" +
        """<dc:title>graft</dc:title><dc:language>en</dc:language>""" +
        """</metadata>""" +
        s"""<manifest>$manifest</manifest><spine>$spine</spine></package>""").getBytes("UTF-8")
    ZipDocx.writeZipStored(
      Seq(("mimetype", "application/epub+zip".getBytes("US-ASCII")),
        ("META-INF/container.xml", ContainerXml),
        ("OEBPS/content.opf", opf)) ++ chapters)
  }
}
