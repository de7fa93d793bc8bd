package graft.functions

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `svg_text(binary)` → the VISIBLE text of an SVG document — the
  * corpus-text complement of [[ImageHeader]]'s SVG dimension branch:
  * infographics, diagrams, and chart exports carry real language in
  * `<text>`/`<textPath>` elements (flattened across nested `<tspan>`
  * runs), and a curation pipeline wants that next to the image, not
  * lost with the blob.
  *
  * One linear scan with the HTML extractor's container discipline:
  * comments and CDATA don't count, `<defs>` subtrees are invisible
  * (they define reusable symbols, not rendered content), `<style>`
  * and `<script>` bodies are dropped whole, `<title>`/`<desc>` are
  * accessibility metadata — excluded from VISIBLE text by design.
  * Inner markup of a text element becomes separators; character
  * references decode and whitespace collapses via the
  * [[HtmlToText]] reference rules, so SVG text dedups identically to
  * HTML text.
  *
  * Whole-or-refuse: null for anything that is not an SVG document
  * (same byte-level gate as the header branch) or whose scan runs off
  * an unterminated comment/element — never a partial extraction.
  */
object SvgText {

  private def tagAt(s: String, i: Int, name: String): Boolean =
    s.regionMatches(true, i + 1, name, 0, name.length) && {
      val a = i + 1 + name.length
      a < s.length && (s.charAt(a) == '>' ||
        Character.isWhitespace(s.charAt(a)) || s.charAt(a) == '/')
    }

  private def closeAt(s: String, i: Int, name: String): Boolean =
    s.regionMatches(true, i + 2, name, 0, name.length)

  /** `svg_text(binary)` → visible SVG text or null for non-SVG bytes. */
  def extract(b: Array[Byte]): UTF8String = {
    // same cheap non-XML gate as the header's SVG branch
    var j = 0
    if (b.length >= 3 && (b(0) & 0xff) == 0xEF && (b(1) & 0xff) == 0xBB &&
      (b(2) & 0xff) == 0xBF) j = 3
    while (j < b.length && (b(j) == ' ' || b(j) == '\t' || b(j) == '\n' ||
      b(j) == '\r')) j += 1
    if (j >= b.length || b(j) != '<') return null
    val s = new String(b, "UTF-8")
    // root must be <svg (after decl/comments/DOCTYPE) — reuse the
    // header branch's judgment: no dims are needed here, only identity
    var probe = if (s.length > 0 && s.charAt(0) == '\ufeff') 1 else 0
    var moved = true
    while (moved) {
      moved = false
      while (probe < s.length && Character.isWhitespace(s.charAt(probe))) {
        probe += 1; moved = true
      }
      if (s.startsWith("<?", probe)) {
        val e = s.indexOf("?>", probe + 2)
        if (e < 0) return null
        probe = e + 2; moved = true
      } else if (s.startsWith("<!--", probe)) {
        val e = s.indexOf("-->", probe + 4)
        if (e < 0) return null
        probe = e + 3; moved = true
      } else if (s.startsWith("<!DOCTYPE", probe)) {
        val e = s.indexOf('>', probe + 9)
        if (e < 0) return null
        probe = e + 1; moved = true
      }
    }
    if (!s.startsWith("<svg", probe)) return null
    val blocks = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = probe
    var defsDepth = 0
    val n = s.length
    while (i < n) {
      if (s.charAt(i) == '<') {
        if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i + 4)
          if (e < 0) return null
          i = e + 3
        } else if (s.startsWith("<![CDATA[", i)) {
          val e = s.indexOf("]]>", i + 9)
          if (e < 0) return null
          i = e + 3
        } else if (tagAt(s, i, "defs")) {
          defsDepth += 1
          val e = s.indexOf('>', i); if (e < 0) return null; i = e + 1
          if (e > 0 && s.charAt(e - 1) == '/') defsDepth -= 1 // <defs/>
        } else if (s.startsWith("</", i) && closeAt(s, i, "defs")) {
          if (defsDepth > 0) defsDepth -= 1
          val e = s.indexOf('>', i); if (e < 0) return null; i = e + 1
        } else if (tagAt(s, i, "style") || tagAt(s, i, "script")) {
          val name = if (tagAt(s, i, "style")) "style" else "script"
          val open = s.indexOf('>', i)
          if (open < 0) return null
          if (s.charAt(open - 1) == '/') i = open + 1
          else {
            val close = indexOfIgnoreCase(s, "</" + name, open)
            if (close < 0) return null
            i = s.indexOf('>', close) match {
              case -1 => return null
              case e => e + 1
            }
          }
        } else if ((tagAt(s, i, "text") || tagAt(s, i, "textPath")) &&
          defsDepth == 0) {
          val name = if (tagAt(s, i, "textPath")) "textPath" else "text"
          val open = s.indexOf('>', i)
          if (open < 0) return null
          if (s.charAt(open - 1) == '/') i = open + 1 // empty element
          else {
            val close = indexOfIgnoreCase(s, "</" + name, open)
            if (close < 0) return null
            // title/desc INSIDE a text element are still metadata
            val inner = "(?is)<(title|desc)\\b.*?</\\1\\s*>".r
              .replaceAllIn(s.substring(open + 1, close), " ")
            val cleaned = HtmlToText.extract(
              UTF8String.fromString(inner)).toString
            if (cleaned.nonEmpty) blocks += cleaned
            i = s.indexOf('>', close) match {
              case -1 => return null
              case e => e + 1
            }
          }
        } else {
          val e = s.indexOf('>', i + 1); i = if (e < 0) n else e + 1
        }
      } else i += 1
    }
    UTF8String.fromString(blocks.mkString(" "))
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
}
