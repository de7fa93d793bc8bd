package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `feed_items(xml)` → `array<struct<kind, title, link, published>>` —
  * RSS 2.0 / Atom syndication parsing, the crawl discovery channel that
  * sits beside sitemaps (a site's feed is its freshest URL list, and
  * news-corpus pipelines poll feeds precisely because sitemap lag loses
  * the first crawl of every article).
  *
  * Dialect detection is structural: a `<feed` root → Atom (`<entry>`
  * items, `<link href="…"/>` attributes, `<updated>` dates), a `<rss`/
  * `<channel` root → RSS (`<item>` items, text-content `<link>`,
  * `<pubDate>`). Titles decode the five XML predefined entities and
  * numeric references, and honor `<![CDATA[…]]>` sections verbatim —
  * the two escaping styles real feeds actually mix. Missing children
  * yield null fields, not dropped items; a blob with neither root
  * yields null (refuse, don't guess).
  *
  * Scan-side expression: one walk per feed document, no shuffle.
  */
object FeedParse {

  val schema: DataType = ArrayType(StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("title", StringType, nullable = true),
    StructField("link", StringType, nullable = true),
    StructField("published", StringType, nullable = true))),
    containsNull = false)

  def items(in: UTF8String): GenericArrayData = {
    val s = in.toString
    val atom = tagIndex(s, "feed", 0) >= 0
    val rss = tagIndex(s, "rss", 0) >= 0 || tagIndex(s, "channel", 0) >= 0
    if (!atom && !rss) return null
    val kind = if (atom) "atom" else "rss"
    val itemTag = if (atom) "entry" else "item"
    val dateTag = if (atom) "updated" else "pubDate"
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
    var from = 0
    var open = tagIndex(s, itemTag, from)
    while (open >= 0) {
      val bodyStart = s.indexOf('>', open)
      val close = HtmlToText.indexOfIgnoreCase(s, "</" + itemTag, open)
      if (bodyStart < 0 || close < 0) { open = -1 }
      else {
        val body = s.substring(bodyStart + 1, close)
        val title = childText(body, "title")
        val link =
          if (atom) attrOf(body, "link", "href")
          else childText(body, "link")
        val date = childText(body, dateTag)
        out += InternalRow(UTF8String.fromString(kind),
          if (title == null) null else UTF8String.fromString(title),
          if (link == null) null else UTF8String.fromString(link),
          if (date == null) null else UTF8String.fromString(date))
        from = close + 1
        open = tagIndex(s, itemTag, from)
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** Index of `<name` followed by a delimiter (whitespace, '>', '/') —
    * so `<item` does not match `<itemref`. Case-insensitive.
    */
  private def tagIndex(s: String, name: String, from: Int): Int = {
    var i = HtmlToText.indexOfIgnoreCase(s, "<" + name, from)
    while (i >= 0) {
      val after = i + 1 + name.length
      if (after >= s.length) return -1
      val c = s.charAt(after)
      if (c == '>' || c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '/')
        return i
      i = HtmlToText.indexOfIgnoreCase(s, "<" + name, i + 1)
    }
    -1
  }

  /** Text content of the first `<tag>…</tag>` child: CDATA verbatim,
    * otherwise entity-decoded (predefined + numeric references).
    */
  private def childText(body: String, tag: String): String = {
    val open = tagIndex(body, tag, 0)
    if (open < 0) return null
    val gt = body.indexOf('>', open)
    if (gt < 0) return null
    if (body.charAt(gt - 1) == '/') return null // self-closing: no text
    val close = HtmlToText.indexOfIgnoreCase(body, "</" + tag, gt)
    if (close < 0) return null
    val raw = body.substring(gt + 1, close).trim
    if (raw.startsWith("<![CDATA[")) {
      val e = raw.indexOf("]]>")
      if (e < 0) raw.substring(9) else raw.substring(9, e)
    } else decodeEntities(raw)
  }

  /** An attribute's value from the first `<tag …>` in `body`. */
  private def attrOf(body: String, tag: String, attr: String): String = {
    val open = tagIndex(body, tag, 0)
    if (open < 0) return null
    val gt = body.indexOf('>', open)
    val tagStr = body.substring(open, if (gt < 0) body.length else gt)
    val k = HtmlToText.indexOfIgnoreCase(tagStr, attr + "=", 0)
    if (k < 0) return null
    var v = k + attr.length + 1
    if (v >= tagStr.length) return null
    val q = tagStr.charAt(v)
    if (q == '"' || q == '\'') {
      val e = tagStr.indexOf(q, v + 1)
      if (e < 0) null else decodeEntities(tagStr.substring(v + 1, e))
    } else {
      var e = v
      while (e < tagStr.length && !Character.isWhitespace(tagStr.charAt(e)) &&
        tagStr.charAt(e) != '/') e += 1
      decodeEntities(tagStr.substring(v, e))
    }
  }

  private def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val (cp, next) = HtmlToText.reference(s, i)
        if (cp >= 0) { out.appendCodePoint(cp); i = next }
        else { out.append('&'); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }
}
