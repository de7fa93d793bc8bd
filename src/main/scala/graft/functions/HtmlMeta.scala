package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `html_meta(string)` → `struct<title, meta_description, canonical,
  * lang>` — the page-metadata complement of [[HtmlToText]] (which
  * deliberately DROPS `<title>` from corpus text: title, description,
  * declared language, and the canonical link are metadata columns a
  * curation pipeline stores next to the text — the declared lang feeds
  * language-ID priors, the canonical link feeds URL dedup, and
  * title/description feed retrieval).
  *
  * One linear scan with the same tag discipline as the text extractor
  * (tags inside comments don't count); each field is the FIRST
  * occurrence (browser behavior for title/canonical), entity-decoded
  * via the [[HtmlToText]] reference rules, whitespace-collapsed.
  * Missing fields are null, never empty strings — downstream `coalesce`
  * against fetched-language guesses must be able to tell "absent" from
  * "declared empty".
  */
object HtmlMeta {

  val schema: StructType = StructType(Seq(
    StructField("title", StringType, nullable = true),
    StructField("meta_description", StringType, nullable = true),
    StructField("canonical", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("meta_robots", StringType, nullable = true)))

  /** `html_og` output: OpenGraph / twitter-card properties in document
    * order, first occurrence per key.
    */
  val ogSchema: DataType = ArrayType(StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false))),
    containsNull = false)

  /** `html_og(string)` → OpenGraph/twitter-card (key, value) rows in
    * document order, first occurrence per key, or null only for a null
    * page (no properties → empty array, not null).
    *
    * OpenGraph (`property="og:*"`), twitter-card (`name="twitter:*"`),
    * and article (`property="article:*"` — the OG structured-property
    * namespace publishers attach author/section/published_time under)
    * meta extraction — the social-metadata channel image-text pair
    * mining reads for high-precision alt text (og:image + og:title /
    * og:description describe THE page's canonical image, unlike
    * arbitrary inline <img> alt attributes). Same container discipline
    * as [[extract]]: one linear scan, commented-out tags don't count,
    * first occurrence per key wins (publisher tooling emits duplicates;
    * consumers read the first), keys lowercased, values entity-decoded
    * and whitespace-collapsed. Accepts `property=` OR `name=` for every
    * prefix — real pages mix them freely.
    */
  def extractOg(in: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = in.toString
    val n = s.length
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < n) {
      if (s.charAt(i) == '<') {
        if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i + 4); i = if (e < 0) n else e + 3
        } else if (tagAt(s, i, "meta")) {
          val end = tagEnd(s, i)
          val body = s.substring(i, end)
          val key = attr(body, "property").orElse(attr(body, "name"))
            .map(_.trim.toLowerCase(java.util.Locale.ROOT))
            .filter(k => k.startsWith("og:") || k.startsWith("twitter:") ||
              k.startsWith("article:"))
          key.foreach { k =>
            if (!seen.contains(k))
              attr(body, "content").foreach(v => seen(k) = clean(v))
          }
          i = end
        } else {
          val e = s.indexOf('>', i + 1); i = if (e < 0) n else e + 1
        }
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.iterator.map { case (k, v) =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(k), UTF8String.fromString(v)))
      }.toArray[Any])
  }

  def extract(in: UTF8String): GenericInternalRow = {
    val s = in.toString
    val n = s.length
    var title: String = null
    var desc: String = null
    var canonical: String = null
    var lang: String = null
    var robots: String = null
    var i = 0
    while (i < n && (title == null || desc == null || canonical == null ||
        lang == null || robots == null)) {
      if (s.charAt(i) == '<') {
        if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i + 4); i = if (e < 0) n else e + 3
        } else if (tagAt(s, i, "title") && title == null) {
          val open = s.indexOf('>', i + 1)
          val close = if (open < 0) -1 else indexOfIgnoreCase(s, "</title", open)
          if (open >= 0 && close >= 0)
            title = clean(s.substring(open + 1, close))
          i = if (close < 0) n else close + 1
        } else if (tagAt(s, i, "meta")) {
          val end = tagEnd(s, i)
          val body = s.substring(i, end)
          if (desc == null &&
              "(?i)name\\s*=\\s*[\"']?description".r.findFirstIn(body).isDefined)
            attr(body, "content").foreach(v => desc = clean(v))
          // robots directives are case-insensitive tokens (RFC 9309 /
          // Google's robots-meta spec); normalize here so downstream
          // gates match on plain substrings
          if (robots == null &&
              "(?i)name\\s*=\\s*[\"']?robots".r.findFirstIn(body).isDefined)
            attr(body, "content").foreach(v =>
              robots = v.trim.toLowerCase(java.util.Locale.ROOT))
          i = end
        } else if (tagAt(s, i, "link")) {
          val end = tagEnd(s, i)
          val body = s.substring(i, end)
          if (canonical == null &&
              "(?i)rel\\s*=\\s*[\"']?canonical".r.findFirstIn(body).isDefined)
            attr(body, "href").foreach(v => canonical = v.trim)
          i = end
        } else if (tagAt(s, i, "html")) {
          val end = tagEnd(s, i)
          if (lang == null)
            attr(s.substring(i, end), "lang").foreach(v => lang = v.trim)
          i = end
        } else {
          val e = s.indexOf('>', i + 1); i = if (e < 0) n else e + 1
        }
      } else i += 1
    }
    def u(x: String): UTF8String = if (x == null) null else UTF8String.fromString(x)
    new GenericInternalRow(Array[Any](u(title), u(desc), u(canonical), u(lang),
      u(robots)))
  }

  private def tagAt(s: String, i: Int, name: String): Boolean =
    s.regionMatches(true, i + 1, name, 0, name.length) && {
      val a = i + 1 + name.length
      a < s.length && (s.charAt(a) == '>' || Character.isWhitespace(s.charAt(a)) ||
        s.charAt(a) == '/')
    }

  private def tagEnd(s: String, i: Int): Int = {
    val e = s.indexOf('>', i + 1); if (e < 0) s.length else e + 1
  }

  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    var i = from
    val last = s.length - needle.length
    while (i <= last) {
      if (s.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  /** Attribute value (quoted or unquoted) within one tag's body. */
  private def attr(tag: String, name: String): Option[String] = {
    val m = s"(?is)\\b$name\\s*=\\s*(\"([^\"]*)\"|'([^']*)'|([^\\s>]+))".r
      .findFirstMatchIn(tag)
    m.map(g => Option(g.group(2)).orElse(Option(g.group(3))).getOrElse(g.group(4)))
  }

  /** Entity-decode + whitespace-collapse via the text extractor's rules. */
  private def clean(raw: String): String =
    HtmlToText.extract(UTF8String.fromString(raw)).toString
}

/** `html_jsonld(string)` → the raw payloads of every
  * `<script type="application/ld+json">` block in document order —
  * the schema.org STRUCTURED-DATA channel (articles, products,
  * recipes publish machine-readable metadata here; a curation
  * pipeline mines it for titles, authors, dates far more reliably
  * than visible-text heuristics). One linear scan: script blocks are
  * matched with attribute-order- and quote-style-insensitive type
  * detection, HTML comments are skipped (a commented-out script is
  * not data), payloads end at the first `</script>` (per the HTML
  * spec script text cannot contain that sequence), and whitespace is
  * trimmed. Downstream parsing stays in Spark's own JSON functions
  * (`get_json_object` / `from_json`) — this expression only lifts the
  * payloads out of markup.
  */
object HtmlJsonLd {

  def extract(html: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = html.toString
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    var i = 0
    while (i < s.length) {
      val cm = lower.indexOf("<!--", i)
      val sc = lower.indexOf("<script", i)
      if (sc < 0) { i = s.length }
      else if (cm >= 0 && cm < sc) {
        val e = lower.indexOf("-->", cm + 4)
        i = if (e < 0) s.length else e + 3
      } else {
        val gt = lower.indexOf('>', sc)
        if (gt < 0) { i = s.length }
        else {
          val attrs = lower.substring(sc + 7, gt)
          val isLd = attrs.replace("\"", "").replace("'", "")
            .replace(" ", "").contains("type=application/ld+json")
          val close = lower.indexOf("</script", gt + 1)
          if (close < 0) { i = s.length }
          else {
            if (isLd) {
              val payload = s.substring(gt + 1, close).trim
              if (payload.nonEmpty)
                out += org.apache.spark.unsafe.types.UTF8String
                  .fromString(payload)
            }
            i = lower.indexOf('>', close) match {
              case -1 => s.length
              case e => e + 1
            }
          }
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}
