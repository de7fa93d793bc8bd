package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `html_links(string)` → the href values of `<a>` elements, in document
  * order — the crawl-frontier side of HTML processing ([[HtmlToText]] is
  * the corpus side): outlink extraction feeds frontier construction,
  * link-graph analytics (PageRank-family quality signals), and
  * per-domain link statistics.
  *
  * One linear scan, same tag discipline as [[HtmlToText]]: `<a>` tags
  * inside script/style/template/noscript containers or comments are NOT
  * links (a JS string `"<a href=x>"` must not enter the frontier);
  * attribute values may be double-quoted, single-quoted, or unquoted;
  * hrefs are entity-decoded (`&amp;` is how `&` legally appears in a
  * URL attribute). Empty hrefs and bare `#fragment` self-references are
  * dropped; everything else is returned verbatim (resolution against
  * the base URL is the caller's step — [[graft.ops.UrlOps.resolveUrl]]).
  */
object HtmlLinks {

  val anchorsType: DataType = ArrayType(StructType(Seq(
    StructField("href", StringType, nullable = false),
    StructField("anchor", StringType, nullable = false))),
    containsNull = false)

  private val Containers = Array("script", "style", "noscript", "template")

  def extract(in: UTF8String): GenericArrayData = {
    val s = in.toString
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var i = 0
    while (i < n) {
      if (s.charAt(i) == '<') {
        if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i + 4); i = if (e < 0) n else e + 3
        } else {
          val container = Containers.find { name =>
            s.regionMatches(true, i + 1, name, 0, name.length) && {
              val a = i + 1 + name.length
              a < n && (s.charAt(a) == '>' || s.charAt(a) == ' ' ||
                s.charAt(a) == '\t' || s.charAt(a) == '\n' || s.charAt(a) == '/')
            }
          }
          container match {
            case Some(name) =>
              val close = "</" + name
              var k = i + 1; var found = -1
              while (found < 0 && k <= n - close.length) {
                if (s.regionMatches(true, k, close, 0, close.length)) found = k
                k += 1
              }
              i = if (found < 0) n else {
                val gt = s.indexOf('>', found); if (gt < 0) n else gt + 1
              }
            case None =>
              if (s.regionMatches(true, i + 1, "a", 0, 1) && i + 2 < n &&
                  (s.charAt(i + 2) == ' ' || s.charAt(i + 2) == '\t' ||
                    s.charAt(i + 2) == '\n')) {
                val gt = s.indexOf('>', i + 1)
                val end = if (gt < 0) n else gt
                val href = findHref(s, i + 2, end)
                if (href != null && href.nonEmpty && !href.startsWith("#"))
                  out += UTF8String.fromString(decodeEntities(href))
                i = if (gt < 0) n else gt + 1
              } else {
                val e = s.indexOf('>', i + 1); i = if (e < 0) n else e + 1
              }
          }
        }
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** href attribute value within the tag body s[from, to). */
  private def findHref(s: String, from: Int, to: Int): String = {
    var i = from
    while (i < to - 4) {
      if (s.regionMatches(true, i, "href", 0, 4) &&
          (i == from || !Character.isLetterOrDigit(s.charAt(i - 1)))) {
        var j = i + 4
        while (j < to && Character.isWhitespace(s.charAt(j))) j += 1
        if (j < to && s.charAt(j) == '=') {
          j += 1
          while (j < to && Character.isWhitespace(s.charAt(j))) j += 1
          if (j >= to) return null
          s.charAt(j) match {
            case q @ ('"' | '\'') =>
              val e = s.indexOf(q, j + 1)
              return if (e < 0 || e > to) null else s.substring(j + 1, e)
            case _ =>
              var e = j
              while (e < to && !Character.isWhitespace(s.charAt(e))) e += 1
              return s.substring(j, e)
          }
        }
      }
      i += 1
    }
    null
  }

  /** The reference-decode subset that matters in URL attributes. */
  private def decodeEntities(u: String): String =
    u.replace("&amp;", "&").replace("&#38;", "&").replace("&#x26;", "&")

  /** `html_anchors(string)` → `array<struct<href, anchor>>` — outlinks
    * WITH their anchor text, the IR signal [[HtmlLinks]] drops: anchor
    * text is a human-written description of the TARGET page (the classic
    * ranking/labeling side-channel), so per-target anchor aggregation is
    * a standard corpus-enrichment join.
    *
    * `html_anchors` eval: (href, anchor-text) pairs. Same tag/container
    * discipline as [[extract]]; the anchor text is the visible text to
    * the first `</a>`, inline markup stripped, entities decoded,
    * whitespace collapsed ([[HtmlToText]] rules). href-less `<a>` (pure
    * page anchors) contribute nothing.
    */
  def anchors(in: UTF8String): GenericArrayData = {
    import org.apache.spark.sql.catalyst.InternalRow
    val s = in.toString
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var i = 0
    while (i < n) {
      if (s.charAt(i) == '<') {
        if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i + 4); i = if (e < 0) n else e + 3
        } else {
          val container = HtmlToText.matchContainer(s, i)
          if (container != null && container != "title") {
            val e = HtmlToText.indexOfIgnoreCase(s, "</" + container, i)
            i = if (e < 0) n else {
              val gt = s.indexOf('>', e); if (gt < 0) n else gt + 1
            }
          } else if (s.regionMatches(true, i + 1, "a", 0, 1) && i + 2 < n &&
              (s.charAt(i + 2) == ' ' || s.charAt(i + 2) == '\t' ||
                s.charAt(i + 2) == '\n' || s.charAt(i + 2) == '>')) {
            val gt = s.indexOf('>', i + 1)
            val tagEnd = if (gt < 0) n else gt
            val href = findHref(s, i + 2, tagEnd)
            val close = HtmlToText.indexOfIgnoreCase(s, "</a", tagEnd)
            val bodyEnd = if (close < 0) n else close
            if (href != null && href.nonEmpty && !href.startsWith("#")) {
              val text = innerText(s, math.min(tagEnd + 1, n), bodyEnd)
              out += InternalRow(
                UTF8String.fromString(decodeEntities(href)),
                UTF8String.fromString(text))
            }
            i = if (close < 0) n else {
              val g2 = s.indexOf('>', close); if (g2 < 0) n else g2 + 1
            }
          } else {
            val e = s.indexOf('>', i + 1); i = if (e < 0) n else e + 1
          }
        }
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Visible text of s[from, to): tags stripped, entities decoded,
    * whitespace collapsed, trimmed — [[HtmlToText]] emit rules. */
  private def innerText(s: String, from: Int, to: Int): String = {
    val out = new java.lang.StringBuilder(to - from)
    var pendingSpace = false
    var i = from
    def emit(cp: Int): Unit = {
      if (cp == ' ' || Character.isWhitespace(cp) || cp == 0xa0) pendingSpace = true
      else {
        if (pendingSpace && out.length() > 0) out.append(' ')
        pendingSpace = false
        out.appendCodePoint(cp)
      }
    }
    while (i < to) {
      val c = s.charAt(i)
      if (c == '<') {
        val e = s.indexOf('>', i + 1)
        i = if (e < 0 || e >= to) to else e + 1
        pendingSpace = true
      } else if (c == '&') {
        val (cp, next) = HtmlToText.reference(s, i)
        if (cp >= 0) { emit(cp); i = next }
        else { emit('&'); i += 1 }
      } else {
        if (Character.isHighSurrogate(c) && i + 1 < to) {
          emit(s.codePointAt(i)); i += 2
        } else { emit(c); i += 1 }
      }
    }
    out.toString
  }
}
