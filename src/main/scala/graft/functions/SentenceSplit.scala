package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** `sentence_split(string)` → `array<string>` — deterministic rule-based
  * sentence segmentation, the grain under bitext mining, PII windows,
  * extractive QA spans, and per-sentence dedup (line splitting is the
  * crawl proxy; real corpora need the punctuation-aware cut).
  *
  * The rules (the classical Punkt-style heuristics, fixed rather than
  * learned so distributed output is reproducible):
  *  - a boundary is a run of `.!?` (plus trailing closing quotes or
  *    brackets) followed by whitespace and then an UPPERCASE letter or
  *    digit;
  *  - no boundary when the token before a `.` is a known abbreviation
  *    (mr dr prof etc …) or a single letter (initials: `J. Smith`);
  *  - decimals (`3.14`) never split — the digit-dot-digit run has no
  *    whitespace after the dot, so the boundary shape never matches;
  *  - each sentence keeps its terminal punctuation; whitespace collapses
  *    to single spaces; empty segments drop; a final unterminated
  *    segment is still a sentence.
  *
  * Scale shape: scan-side codegen'd expression, one pass per document.
  */
object SentenceSplit {

  /** Tokens whose trailing period is part of the token, not a boundary.
    * Deliberately small and fixed — a learned list would make output
    * engine-version-dependent. */
  private val Abbrevs: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("mr", "mrs", "ms", "dr", "prof", "sr", "jr", "st", "vs", "etc",
      "eg", "ie", "fig", "no", "inc", "ltd", "co", "corp", "dept",
      "approx", "jan", "feb", "mar", "apr", "jun", "jul", "aug", "sep",
      "sept", "oct", "nov", "dec").foreach(s.add)
    s
  }

  def split(in: UTF8String): GenericArrayData = {
    val s = in.toString
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    val buf = new java.lang.StringBuilder(128)
    var pendingSpace = false

    def emitChar(c: Char): Unit = {
      if (Character.isWhitespace(c)) pendingSpace = true
      else {
        if (pendingSpace && buf.length() > 0) buf.append(' ')
        pendingSpace = false
        buf.append(c)
      }
    }
    def flush(): Unit = {
      if (buf.length() > 0) {
        out += UTF8String.fromString(buf.toString)
        buf.setLength(0)
      }
      pendingSpace = false
    }
    /** Alphanumeric token ending at `end` (exclusive), lowercased. */
    def tokenBefore(end: Int): String = {
      var b = end
      while (b > 0 && Character.isLetterOrDigit(s.charAt(b - 1))) b -= 1
      s.substring(b, end).toLowerCase(java.util.Locale.ROOT)
    }

    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '.' || c == '!' || c == '?') {
        val tokEnd = i
        // the terminal run: punctuation then closing quotes/brackets
        var j = i
        while (j < n && (s.charAt(j) == '.' || s.charAt(j) == '!' ||
          s.charAt(j) == '?')) j += 1
        val punctEnd = j
        while (j < n && (s.charAt(j) == '"' || s.charAt(j) == '\'' ||
          s.charAt(j) == ')' || s.charAt(j) == ']')) j += 1
        val runEnd = j
        // whitespace, then the next sentence's first character
        var k = j
        while (k < n && Character.isWhitespace(s.charAt(k))) k += 1
        val startsNew = k > j && k < n &&
          (Character.isUpperCase(s.charAt(k)) || Character.isDigit(s.charAt(k)))
        val tok = tokenBefore(tokEnd)
        val abbrevBlock = s.charAt(i) == '.' && punctEnd == i + 1 &&
          (Abbrevs.contains(tok) ||
            (tok.length == 1 && Character.isLetter(tok.charAt(0))))
        var p = i
        while (p < runEnd) { emitChar(s.charAt(p)); p += 1 }
        if (startsNew && !abbrevBlock) flush()
        i = runEnd
      } else {
        emitChar(c)
        i += 1
      }
    }
    flush()
    new GenericArrayData(out.toArray)
  }
}
