package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** RTF → visible text (`rtf_text(string)`) in the [[HtmlToText]]
  * one-pass discipline: a single control-word scan over the group
  * tree — no DOM, no library.
  *
  * Covered grammar (the Word-interchange subset that carries corpus
  * text): `{`/`}` groups; control words `\word` with optional signed
  * numeric parameter and one swallowed delimiter space; `\'hh` hex
  * escapes decoded through the windows-1252 index (the `\ansi`
  * default); `\uN` Unicode words (negative N + 65536) each followed
  * by `\ucN` fallback characters to SKIP (inherited per group, `\'hh`
  * counts as ONE fallback char); header/metadata destinations dropped
  * whole (`fonttbl`, `colortbl`, `stylesheet`, `info`, `pict`,
  * `header*`/`footer*`) plus every `{\*` unknown destination;
  * `\par`/`\line`/`\tab`/`\~`/`\emdash`/`\endash` and the `\{ \} \\`
  * literals. Raw CR/LF bytes in the source are ignored per spec.
  *
  * Output is whitespace-collapsed and trimmed — the same final
  * discipline as `html_to_text`, so corpus text from either extractor
  * dedups identically.
  *
  * Whole-or-refuse: null unless the input starts with `{\rtf`, or on
  * unbalanced groups — a torn document must quarantine, not emit a
  * prefix.
  */
object RtfText {

  private val DropDests = Set("fonttbl", "colortbl", "stylesheet", "info",
    "pict", "header", "headerl", "headerr", "headerf", "footer", "footerl",
    "footerr", "footerf", "ftnsep", "ftnsepc")

  /** `rtf_text(string)` → visible text or null (not RTF / torn). */
  def extract(in: UTF8String): UTF8String = {
    if (in == null) return null
    val s = in.toString
    if (!s.startsWith("{\\rtf")) return null
    val out = new java.lang.StringBuilder(s.length / 2)
    var depth = 0
    var skipAbove = Int.MaxValue // inside a dropped destination when depth >= this
    // \ucN is a group-scoped property: push on {, pop on }
    var ucStack = List(1)
    var pendingSkip = 0 // fallback chars to swallow after \uN
    var i = 0
    def emit(cp: Int): Unit =
      if (depth < skipAbove) {
        if (pendingSkip > 0) pendingSkip -= 1
        else out.appendCodePoint(cp)
      }
    while (i < s.length) {
      s.charAt(i) match {
        case '{' =>
          depth += 1; ucStack = ucStack.head :: ucStack; i += 1
          // {\* ...}: unknown destination — drop the whole group
          if (i + 1 < s.length && s.charAt(i) == '\\' &&
            s.charAt(i + 1) == '*' && depth < skipAbove) {
            skipAbove = depth
            i += 2
          }
        case '}' =>
          depth -= 1
          if (depth < 0) return null
          ucStack = ucStack.tail
          if (ucStack.isEmpty) ucStack = List(1)
          // left the group whose interior was being dropped
          if (depth < skipAbove) skipAbove = Int.MaxValue
          i += 1
        case '\\' if i + 1 < s.length =>
          val c = s.charAt(i + 1)
          if (c == '\'') {
            if (i + 3 >= s.length) return null
            val hi = Character.digit(s.charAt(i + 2), 16)
            val lo = Character.digit(s.charAt(i + 3), 16)
            if (hi < 0 || lo < 0) return null
            val dec = CharsetDecode.decode(
              Array(((hi << 4) | lo).toByte),
              UTF8String.fromString("windows-1252"))
            if (depth < skipAbove) {
              if (pendingSkip > 0) pendingSkip -= 1 // one fallback CHAR
              else out.append(dec.toString)
            }
            i += 4
          } else if (c == '{' || c == '}' || c == '\\') {
            emit(c); i += 2
          } else if (c == '~') { emit(' '); i += 2 }
          else if (c == '-' || c == '_') { emit('-'); i += 2 }
          else if (c == '*') { i += 2 } // handled at group start; stray ok
          else if (Character.isLetter(c)) {
            var j = i + 1
            while (j < s.length && Character.isLetter(s.charAt(j))) j += 1
            val word = s.substring(i + 1, j)
            var param = 0
            var hasParam = false
            var neg = false
            if (j < s.length && (s.charAt(j) == '-' ||
              Character.isDigit(s.charAt(j)))) {
              hasParam = true
              if (s.charAt(j) == '-') { neg = true; j += 1 }
              val p0 = j
              while (j < s.length && Character.isDigit(s.charAt(j))) j += 1
              if (p0 == j) return null
              param = try s.substring(p0, j).toInt
                catch { case _: NumberFormatException => return null }
              if (neg) param = -param
            }
            if (j < s.length && s.charAt(j) == ' ') j += 1 // delimiter
            word match {
              case "u" =>
                if (!hasParam) return null
                val cp = if (param < 0) param + 65536 else param
                if (depth < skipAbove) {
                  out.appendCodePoint(cp)
                  pendingSkip = ucStack.head
                }
              case "uc" =>
                ucStack = param :: ucStack.tail
              case "par" | "line" | "sect" | "page" | "row" | "cell" =>
                emit(' ')
              case "tab" => emit(' ')
              case "emdash" => emit('—')
              case "endash" => emit('–')
              case "lquote" => emit('‘')
              case "rquote" => emit('’')
              case "ldblquote" => emit('“')
              case "rdblquote" => emit('”')
              case "bin" =>
                // raw binary payload: skip exactly param bytes
                if (param < 0 || j + param > s.length) return null
                j += param
              case w if DropDests.contains(w) =>
                if (depth < skipAbove) skipAbove = depth
              case _ => () // formatting words carry no text
            }
            i = j
          } else return null // \ followed by something unknown
        case '\r' | '\n' => i += 1 // raw newlines are ignored per spec
        case ch =>
          emit(ch); i += 1
      }
    }
    if (depth != 0) return null
    // collapse whitespace, trim — the html_to_text discipline
    val raw = out.toString
    val sb = new java.lang.StringBuilder(raw.length)
    var k = 0
    var pendingSpace = false
    while (k < raw.length) {
      val ch = raw.charAt(k)
      if (Character.isWhitespace(ch)) pendingSpace = true
      else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.append(ch)
      }
      k += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
