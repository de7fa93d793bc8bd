package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** HTML → visible text as one scan-side pass — the extraction step
  * between "fetched a crawl page" ([[WarcParse]]) and every text
  * operator in the corpus pipeline (quality, language-ID, dedup all
  * consume extracted text, never markup).
  *
  * `html_to_text(string)`:
  *  - `<script>`/`<style>`/`<noscript>`/`<template>` elements drop with
  *    their CONTENT (case-insensitive tag match; an unclosed container
  *    drops to end-of-input, the browser behavior);
  *  - `<!-- comments -->`, `<!DOCTYPE>`, and `<?processing?>` drop;
  *  - every other tag becomes a single space (block/inline distinction
  *    doesn't matter downstream: the final whitespace collapse treats
  *    any separator the same);
  *  - character references decode — the core named set
  *    (`&amp; &lt; &gt; &quot; &apos; &nbsp;`) plus numeric decimal
  *    `&#NN;` and hex `&#xHH;` forms to any code point; an `&` that
  *    doesn't parse as a reference stays literal (HTML5 leniency);
  *  - whitespace (including NBSP, which decodes to a plain space here —
  *    corpus text wants word separators, not layout codepoints)
  *    collapses to single spaces, trimmed.
  *
  * A single linear scan with one output builder — no regex backtracking,
  * no DOM allocation — so the expression stays cheap enough to run at
  * scan-side on every fetched page. Not a sanitizer: output is for
  * statistics and training text, never re-rendering.
  *
  * Scale shape: codegen'd static call inside the scan projection;
  * markup (typically 5-10× the visible text) is discarded before
  * anything shuffles.
  */
object HtmlToText {

  /** Elements whose content is invisible (or metadata, for `title`) and
    * must drop whole — corpus text is body prose, not page chrome.
    */
  private[functions] val RawTextContainers = Array("script", "style", "noscript", "template", "title")

  def extract(in: UTF8String): UTF8String = {
    val s = in.toString
    val n = s.length
    val out = new java.lang.StringBuilder(math.min(n, 1 << 16))
    var i = 0
    var pendingSpace = false
    def emit(cp: Int): Unit = {
      if (cp == ' ' || Character.isWhitespace(cp) || cp == 0xa0) pendingSpace = true
      else {
        if (pendingSpace && out.length() > 0) out.append(' ')
        pendingSpace = false
        out.appendCodePoint(cp)
      }
    }
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
          pendingSpace = true
        } else if (i + 1 < n && (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
          val e = s.indexOf('>', i + 1)
          i = if (e < 0) n else e + 1
          pendingSpace = true
        } else {
          val container = matchContainer(s, i)
          if (container != null) {
            // drop through the matching close tag (case-insensitive)
            val close = "</" + container
            val e = indexOfIgnoreCase(s, close, i)
            if (e < 0) i = n
            else {
              val gt = s.indexOf('>', e)
              i = if (gt < 0) n else gt + 1
            }
          } else {
            val e = s.indexOf('>', i + 1)
            i = if (e < 0) n else e + 1
          }
          pendingSpace = true
        }
      } else if (c == '&') {
        val (cp, next) = reference(s, i)
        if (cp >= 0) { emit(cp); i = next }
        else { emit('&'); i += 1 }
      } else {
        if (Character.isHighSurrogate(c) && i + 1 < n) {
          emit(s.codePointAt(i)); i += 2
        } else { emit(c); i += 1 }
      }
    }
    UTF8String.fromString(out.toString)
  }

  /** If the tag opening at `i` is a raw-text container, its lowercase
    * name; null otherwise.
    */
  private[functions] def matchContainer(s: String, i: Int): String = {
    var k = 0
    while (k < RawTextContainers.length) {
      val name = RawTextContainers(k)
      if (regionMatchesIgnoreCase(s, i + 1, name)) {
        val after = i + 1 + name.length
        if (after < s.length && (s.charAt(after) == '>' || s.charAt(after) == ' ' ||
            s.charAt(after) == '\t' || s.charAt(after) == '\n' || s.charAt(after) == '/'))
          return name
      }
      k += 1
    }
    null
  }

  private[functions] def regionMatchesIgnoreCase(s: String, at: Int, needle: String): Boolean =
    s.regionMatches(true, at, needle, 0, needle.length)

  private[functions] def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    var i = from
    val last = s.length - needle.length
    while (i <= last) {
      if (s.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  /** Parse a character reference at `i` (s(i)=='&'); returns (codepoint,
    * index-after) or (-1, _) when not a valid reference.
    */
  private[functions] def reference(s: String, i: Int): (Int, Int) = {
    val semi = s.indexOf(';', i + 1)
    if (semi < 0 || semi - i > 12) return (-1, i)
    val body = s.substring(i + 1, semi)
    val cp = body match {
      case "amp" => '&'.toInt
      case "lt" => '<'.toInt
      case "gt" => '>'.toInt
      case "quot" => '"'.toInt
      case "apos" => '\''.toInt
      case "nbsp" => ' '.toInt
      case _ if body.startsWith("#x") || body.startsWith("#X") =>
        try {
          val v = Integer.parseInt(body.substring(2), 16)
          if (Character.isValidCodePoint(v)) v else -1
        } catch { case _: NumberFormatException => -1 }
      case _ if body.startsWith("#") =>
        try {
          val v = Integer.parseInt(body.substring(1))
          if (Character.isValidCodePoint(v)) v else -1
        } catch { case _: NumberFormatException => -1 }
      case _ => -1
    }
    if (cp < 0) (-1, i) else (cp, semi + 1)
  }
}
