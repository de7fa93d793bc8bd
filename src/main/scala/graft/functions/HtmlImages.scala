package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `html_images(string)` → `array<struct<src, alt, title, pos>>` — every
  * `<img>` element in document order, with its caption candidates: the
  * assembly scan of interleaved image-text corpora (the MMC4 / OBELICS /
  * LAION shape — a crawl page becomes (position, image url, alt text)
  * rows that join to the decoded-image table and to surrounding text).
  *
  * One linear scan, same container discipline as [[HtmlLinks]] /
  * [[HtmlToText]]: an `<img>` inside script/style/template/noscript or a
  * comment is NOT an image (a JS string `"<img src=x>"` must not enter
  * the pair table). `src` may be double-quoted, single-quoted, or
  * unquoted and is entity-decoded like hrefs (`&amp;` is how `&` legally
  * appears in a URL attribute); `alt` and `title` are entity-decoded
  * fully (they are human text) and default to `""` when absent. Images
  * without a `src` (or with an empty one) are dropped; `pos` is the
  * 0-based document-order index among KEPT images. Resolution against
  * the page URL is the caller's step ([[graft.ops.UrlOps.resolveUrl]]).
  */
object HtmlImages {

  val schema: DataType = ArrayType(StructType(Seq(
    StructField("src", StringType, nullable = false),
    StructField("alt", StringType, nullable = false),
    StructField("title", StringType, nullable = false),
    StructField("pos", IntegerType, nullable = false))),
    containsNull = false)

  def extract(in: UTF8String): GenericArrayData = {
    val s = in.toString
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var pos = 0
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
          } else if (s.regionMatches(true, i + 1, "img", 0, 3) && i + 4 <= n &&
              (i + 4 == n || s.charAt(i + 4) == '>' || s.charAt(i + 4) == '/' ||
                Character.isWhitespace(s.charAt(i + 4)))) {
            val gt = s.indexOf('>', i + 1)
            val end = if (gt < 0) n else gt
            val src = attr(s, i + 4, end, "src")
            if (src != null && src.nonEmpty) {
              val alt = attr(s, i + 4, end, "alt")
              val title = attr(s, i + 4, end, "title")
              out += InternalRow(
                UTF8String.fromString(decodeUrlEntities(src)),
                UTF8String.fromString(decodeText(if (alt == null) "" else alt)),
                UTF8String.fromString(
                  decodeText(if (title == null) "" else title)),
                pos)
              pos += 1
            }
            i = if (gt < 0) n else gt + 1
          } else {
            val e = s.indexOf('>', i + 1); i = if (e < 0) n else e + 1
          }
        }
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** `name` attribute value within the tag body s[from, to), or null.
    * Same quoting rules as [[HtmlLinks]]: double, single, or unquoted.
    *
    * Tokenizes attributes left-to-right, skipping over quoted values, so
    * the name can never match INSIDE another attribute's value (e.g.
    * `<img alt="src=evil.png" src="/good.png">` must return /good.png —
    * a substring search would be hijacked by adversarial crawl HTML).
    */
  private[functions] def attr(s: String, from: Int, to: Int,
                              name: String): String = {
    val len = name.length
    var i = from
    while (i < to) {
      while (i < to && (Character.isWhitespace(s.charAt(i)) ||
        s.charAt(i) == '/')) i += 1
      if (i >= to) return null
      // attribute name token: everything up to whitespace, '=', '>', '/'
      val nameStart = i
      while (i < to && !Character.isWhitespace(s.charAt(i)) &&
        s.charAt(i) != '=' && s.charAt(i) != '>' && s.charAt(i) != '/')
        i += 1
      val matches = (i - nameStart) == len &&
        s.regionMatches(true, nameStart, name, 0, len)
      while (i < to && Character.isWhitespace(s.charAt(i))) i += 1
      if (i < to && s.charAt(i) == '=') {
        i += 1
        while (i < to && Character.isWhitespace(s.charAt(i))) i += 1
        if (i >= to) return null
        s.charAt(i) match {
          case q @ ('"' | '\'') =>
            val e = s.indexOf(q, i + 1)
            if (e < 0 || e > to) return null
            if (matches) return s.substring(i + 1, e)
            i = e + 1
          case _ =>
            val vStart = i
            while (i < to && !Character.isWhitespace(s.charAt(i)) &&
              s.charAt(i) != '>') i += 1
            if (matches) return s.substring(vStart, i)
        }
      } else if (i < to && nameStart == i) {
        i += 1 // stray '>' or other punctuation — don't loop forever
      }
      // boolean attribute (no '='): keep scanning, like the old behavior
    }
    null
  }

  /** URL attributes decode only the `&` forms (the [[HtmlLinks]] rule —
    * a literal `%26` etc. must survive verbatim). */
  private[functions] def decodeUrlEntities(u: String): String =
    u.replace("&amp;", "&").replace("&#38;", "&").replace("&#x26;", "&")

  /** Human-text attributes (alt/title) decode the full reference set and
    * collapse whitespace — the [[HtmlToText]] emit rules. */
  private[functions] def decodeText(t: String): String = {
    val out = new java.lang.StringBuilder(t.length)
    var pendingSpace = false
    var i = 0
    def emit(cp: Int): Unit = {
      if (Character.isWhitespace(cp) || cp == 0xa0) pendingSpace = true
      else {
        if (pendingSpace && out.length() > 0) out.append(' ')
        pendingSpace = false
        out.appendCodePoint(cp)
      }
    }
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == '&') {
        val (cp, next) = HtmlToText.reference(t, i)
        if (cp >= 0) { emit(cp); i = next }
        else { emit('&'); i += 1 }
      } else if (Character.isHighSurrogate(c) && i + 1 < t.length) {
        emit(t.codePointAt(i)); i += 2
      } else { emit(c); i += 1 }
    }
    out.toString
  }
}
