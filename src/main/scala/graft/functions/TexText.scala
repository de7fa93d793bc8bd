package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** LaTeX/TeX source → visible text as one scan-side pass — the arXiv
  * slice of a pretraining mix ([[HtmlToText]]'s discipline applied to
  * `.tex`: single linear scan, one output builder, no regex, no AST).
  *
  * `tex_text(string)` semantics (bounded, documented, deterministic):
  *  - `%` comments drop to end-of-line INCLUDING the newline and the
  *    next line's leading whitespace (the TeX line-splice rule:
  *    `foo%\n  bar` → `foobar`); `\%` is a literal percent; `%` inside
  *    `\verb`/verbatim environments/`\url` is content.
  *  - Math becomes one ` [MATH] ` placeholder: `$…$`, `$$…$$`,
  *    `\(…\)`, `\[…\]`, and the display environments (equation, align,
  *    alignat, flalign, gather, multline, eqnarray, displaymath, math,
  *    and their `*` forms). `%` comments are honored while scanning
  *    for the math terminator; an unclosed math run extends to
  *    end-of-input.
  *  - Float environments (figure, table, wrapfigure, wraptable,
  *    sidewaysfigure, sidewaystable, and `*` forms) drop WHOLE,
  *    captions included — a float is layout, not running prose.
  *  - Verbatim environments (verbatim, lstlisting, alltt, Verbatim)
  *    and `\verb⟨delim⟩…⟨delim⟩` / `\url{…}` emit content literally
  *    (no comment/command processing; whitespace still collapses).
  *  - `\begin{env}`/`\end{env}` markers for all other environments
  *    drop; their content processes normally. `\end{document}` stops
  *    the scan (TeX ignores everything after it).
  *  - Braces `{` `}` are group markers and vanish, so argument-
  *    carrying text commands (`\emph{x}`, `\textbf{x}`,
  *    `\section{x}`, `\caption{x}`, `\footnote{x}` …) unwrap to their
  *    argument for free. A bounded DROP table consumes arguments that
  *    are NOT prose: `\label \ref \eqref \pageref \autoref \cite
  *    \citep \citet \citealp \bibitem \usepackage \documentclass
  *    \input \include \includegraphics \bibliography
  *    \bibliographystyle \graphicspath \pagestyle \thispagestyle
  *    \hspace \vspace \rule \setlength \addtolength \newcommand
  *    \renewcommand \providecommand \newenvironment` (with their
  *    `[…]` optional arguments). `\href{url}{text}` drops the url
  *    and keeps the text.
  *  - A bounded text-macro table expands (`\LaTeX` → LaTeX, `\ldots` →
  *    `...`, `\textemdash` → —, `\ss` → ß, `\item`/`\par`/`\quad`/… →
  *    separator), and TeX accent forms decode: `\'e` `\'{e}` `\"o`
  *    `\~n` `\c{c}` `\v{s}` `\'\i` … via a combined-character table
  *    (unmapped accents emit the bare letter).
  *  - Any other `\command` drops its NAME only; ONE immediately
  *    adjacent `[…]` optional argument drops with it (`\item[a)]`,
  *    `\section[short]{T}`). Whitespace after a control word stays a
  *    separator — a deliberate divergence from TeX tokenization
  *    (`\LaTeX is` → "LaTeX is", never "LaTeXis"): corpus text wants
  *    word boundaries, not layout fidelity.
  *  - `~` is a tie → space; `\\` is a line break → space (an adjacent
  *    `[2mm]` spacing argument drops); control symbols `\,` `\;` `\:`
  *    `\!` `\ ` → space; `\{ \} \$ \& \# \_ \%` → the literal char.
  *  - Whitespace collapses to single spaces, trimmed — downstream
  *    text operators want word separators, not layout.
  *
  * Not a TeX engine: no macro recursion, no catcode changes, no
  * `\def` expansion — the bounded whitelist covers the overwhelming
  * share of arXiv-style prose, and anything outside it degrades to
  * dropped-command-name, never to garbage or non-termination.
  *
  * Scale shape: codegen'd static call inside the scan projection;
  * markup and math are discarded before anything shuffles.
  *
  * Reference anchor: extraction front (reference ingests processed
  * text only — see Data-pipeline-and-ML-analyzer preprocessing,
  * training_preprocessing.py:1-40); this operator feeds the same
  * text-cleaning surface from raw crawled TeX.
  */
object TexText {

  private val Floats = Set(
    "figure", "figure*", "table", "table*", "wrapfigure", "wraptable",
    "sidewaysfigure", "sidewaystable")

  private val MathEnvs = Set(
    "equation", "equation*", "align", "align*", "alignat", "alignat*",
    "flalign", "flalign*", "gather", "gather*", "multline", "multline*",
    "eqnarray", "eqnarray*", "displaymath", "math")

  private val VerbatimEnvs = Set("verbatim", "verbatim*", "lstlisting",
    "alltt", "Verbatim")

  /** Commands whose brace arguments are NOT prose → name + N groups
    * (and interleaved optional `[…]` args) drop together.
    */
  private val DropArgs: Map[String, Int] = Map(
    "label" -> 1, "ref" -> 1, "eqref" -> 1, "pageref" -> 1,
    "autoref" -> 1, "cref" -> 1, "Cref" -> 1,
    "cite" -> 1, "citep" -> 1, "citet" -> 1, "citealp" -> 1,
    "citeauthor" -> 1, "citeyear" -> 1, "bibitem" -> 1,
    "usepackage" -> 1, "documentclass" -> 1,
    "input" -> 1, "include" -> 1, "includegraphics" -> 1,
    "bibliography" -> 1, "bibliographystyle" -> 1, "graphicspath" -> 1,
    "pagestyle" -> 1, "thispagestyle" -> 1,
    "hspace" -> 1, "vspace" -> 1, "rule" -> 2,
    "setlength" -> 2, "addtolength" -> 2,
    "newcommand" -> 2, "renewcommand" -> 2, "providecommand" -> 2,
    "newenvironment" -> 3)

  /** Zero-argument text macros → literal replacement ("" = separator). */
  private val TextMacros: Map[String, String] = Map(
    "LaTeX" -> "LaTeX", "TeX" -> "TeX",
    "ldots" -> "...", "dots" -> "...", "textellipsis" -> "...",
    "textemdash" -> "—", "textendash" -> "–",
    "textquotedblleft" -> "\"", "textquotedblright" -> "\"",
    "textquoteleft" -> "'", "textquoteright" -> "'",
    "textbackslash" -> "\\", "textasciitilde" -> "~",
    "textunderscore" -> "_", "textasciicircum" -> "^",
    "ss" -> "ß", "o" -> "ø", "O" -> "Ø",
    "ae" -> "æ", "AE" -> "Æ", "aa" -> "å", "AA" -> "Å",
    "l" -> "ł", "L" -> "Ł", "oe" -> "œ", "OE" -> "Œ",
    "copyright" -> "©", "S" -> "§", "P" -> "¶",
    "dag" -> "†", "ddag" -> "‡", "pounds" -> "£",
    "item" -> "", "par" -> "", "and" -> "", "noindent" -> "",
    "indent" -> "", "smallskip" -> "", "medskip" -> "", "bigskip" -> "",
    "newpage" -> "", "clearpage" -> "", "pagebreak" -> "",
    "linebreak" -> "", "newline" -> "", "maketitle" -> "",
    "tableofcontents" -> "", "listoffigures" -> "", "listoftables" -> "",
    "printbibliography" -> "", "centering" -> "", "raggedright" -> "",
    "raggedleft" -> "", "hfill" -> "", "vfill" -> "",
    "quad" -> "", "qquad" -> "", "enspace" -> "", "thinspace" -> "")

  /** (accent command, base letter) → combined character. */
  private val Accents: Map[(Char, Char), Char] = {
    def row(cmd: Char, pairs: (Char, Char)*) =
      pairs.flatMap { case (lo, acc) =>
        Seq((cmd, lo) -> acc,
          (cmd, lo.toUpper) -> Character.toUpperCase(acc))
      }
    (row('\'', 'a' -> 'á', 'e' -> 'é', 'i' -> 'í',
        'o' -> 'ó', 'u' -> 'ú', 'y' -> 'ý',
        'c' -> 'ć', 'n' -> 'ń', 's' -> 'ś', 'z' -> 'ź') ++
      row('`', 'a' -> 'à', 'e' -> 'è', 'i' -> 'ì',
        'o' -> 'ò', 'u' -> 'ù') ++
      row('^', 'a' -> 'â', 'e' -> 'ê', 'i' -> 'î',
        'o' -> 'ô', 'u' -> 'û') ++
      row('"', 'a' -> 'ä', 'e' -> 'ë', 'i' -> 'ï',
        'o' -> 'ö', 'u' -> 'ü') ++
      row('~', 'a' -> 'ã', 'n' -> 'ñ', 'o' -> 'õ') ++
      row('=', 'a' -> 'ā', 'e' -> 'ē', 'i' -> 'ī',
        'o' -> 'ō', 'u' -> 'ū') ++
      row('.', 'z' -> 'ż', 'e' -> 'ė') ++
      row('c', 'c' -> 'ç', 's' -> 'ş', 't' -> 'ţ') ++
      row('v', 'c' -> 'č', 's' -> 'š', 'z' -> 'ž',
        'r' -> 'ř', 'e' -> 'ě') ++
      row('u', 'g' -> 'ğ', 'a' -> 'ă') ++
      row('k', 'a' -> 'ą', 'e' -> 'ę') ++
      row('r', 'a' -> 'å') ++
      row('H', 'o' -> 'ő', 'u' -> 'ű')).toMap
  }

  private val AccentLetterCmds = Set('c', 'v', 'u', 'k', 'r', 'H', 'b', 'd', 't')

  /** Heading/caption commands: the argument unwraps, but as a BLOCK —
    * a separator lands on both sides (`\section{Intro}Next` must not
    * extract as "IntroNext").
    */
  private val Sectioning = Set("part", "chapter", "section", "subsection",
    "subsubsection", "paragraph", "subparagraph", "title", "author",
    "date", "caption", "footnote", "footnotetext", "thanks", "marginpar")

  def extract(in: UTF8String): UTF8String = {
    val s = in.toString
    val n = s.length
    val out = new java.lang.StringBuilder(math.min(n, 1 << 16))
    var pendingSpace = false
    var i = 0
    // close-brace indices that end a sectioning block → separator there
    val sepBraces = new java.util.HashSet[Integer]()

    def emit(cp: Int): Unit = {
      if (Character.isWhitespace(cp) || cp == 0xa0) pendingSpace = true
      else {
        if (pendingSpace && out.length() > 0) out.append(' ')
        pendingSpace = false
        out.appendCodePoint(cp)
      }
    }
    def emitStr(t: String): Unit = {
      var k = 0
      while (k < t.length) { emit(t.charAt(k)); k += 1 }
    }
    // `%` line splice: drop to EOL inclusive + next line's leading blanks
    def skipComment(from: Int): Int = {
      var j = s.indexOf('\n', from)
      if (j < 0) return n
      j += 1
      while (j < n && (s.charAt(j) == ' ' || s.charAt(j) == '\t')) j += 1
      j
    }
    // balanced {…} group starting at s(j)=='{'; honors \X escapes and
    // % comments; returns index PAST the closing brace (n if unclosed)
    def skipGroup(j0: Int): Int = {
      var j = j0 + 1
      var depth = 1
      while (j < n && depth > 0) {
        s.charAt(j) match {
          case '\\' => j += 2
          case '%' => j = skipComment(j + 1)
          case '{' => depth += 1; j += 1
          case '}' => depth -= 1; j += 1
          case _ => j += 1
        }
      }
      j
    }
    def skipWs(j0: Int): Int = {
      var j = j0
      while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
      j
    }
    // raw balanced group: braces only, NO comment/escape awareness —
    // for \url/\href whose argument is a URL where `%` is content
    def skipGroupRaw(j0: Int): Int = {
      var j = j0 + 1
      var depth = 1
      while (j < n && depth > 0) {
        s.charAt(j) match {
          case '{' => depth += 1
          case '}' => depth -= 1
          case _ =>
        }
        j += 1
      }
      j
    }
    // math run: scan for terminator (honoring \X escapes and % comments),
    // emit the placeholder, return index past the terminator
    def mathRun(from: Int, term: String): Int = {
      var j = from
      var end = n
      var found = false
      while (j < n && !found) {
        // terminator check FIRST: `\)`/`\]` terms must not be skipped
        // as escape pairs; `\$` still skips because it doesn't match "$"
        if (s.startsWith(term, j)) { end = j + term.length; found = true }
        else s.charAt(j) match {
          case '\\' => j += 2
          case '%' => j = skipComment(j + 1)
          case _ => j += 1
        }
      }
      pendingSpace = true
      emitStr("[MATH]")
      pendingSpace = true
      end
    }
    // accent application: at s(j) sits the accent target (letter, {…},
    // or \i/\j); emits and returns the index past the target
    def applyAccent(cmd: Char, j0: Int): Int = {
      var j = skipWs(j0)
      if (j >= n) return n
      var target = 0.toChar
      var rest: String = ""
      var next = j
      s.charAt(j) match {
        case '{' =>
          val e = skipGroup(j)
          var inner = s.substring(j + 1, math.max(j + 1, e - 1))
          // dotless forms inside the group: \"{\i} → ï
          if (inner == "\\i" || inner == "\\j") inner = inner.substring(1)
          if (inner.nonEmpty) { target = inner.charAt(0); rest = inner.substring(1) }
          next = e
        case '\\' if j + 1 < n && (s.charAt(j + 1) == 'i' || s.charAt(j + 1) == 'j')
            && (j + 2 >= n || !Character.isLetter(s.charAt(j + 2))) =>
          target = s.charAt(j + 1); next = j + 2
        case c if Character.isLetter(c) => target = c; next = j + 1
        case _ => return j // not an accentable target — leave it for the main loop
      }
      if (target != 0)
        emit(Accents.getOrElse((cmd, target), target).toInt)
      emitStr(rest)
      next
    }

    while (i < n) {
      val c = s.charAt(i)
      if (c == '%') {
        i = skipComment(i + 1)
      } else if (c == '~') {
        pendingSpace = true; i += 1
      } else if (c == '{' || c == '}') {
        if (c == '}' && sepBraces.remove(Integer.valueOf(i)))
          pendingSpace = true
        i += 1
      } else if (c == '$') {
        val display = i + 1 < n && s.charAt(i + 1) == '$'
        i = mathRun(i + (if (display) 2 else 1), if (display) "$$" else "$")
      } else if (c == '\\') {
        if (i + 1 >= n) i = n
        else {
          val d = s.charAt(i + 1)
          if (Character.isLetter(d)) {
            var j = i + 2
            while (j < n && Character.isLetter(s.charAt(j))) j += 1
            var name = s.substring(i + 1, j)
            if (j < n && s.charAt(j) == '*') { name += "*"; j += 1 }
            i = handleCommand(name, j)
          } else {
            d match {
              case '(' => i = mathRun(i + 2, "\\)")
              case '[' => i = mathRun(i + 2, "\\]")
              case '%' | '&' | '$' | '#' | '_' | '{' | '}' =>
                emit(d); i += 2
              case '\\' =>
                pendingSpace = true
                i += 2
                if (i < n && s.charAt(i) == '[') { // \\[2mm] spacing arg
                  val e = s.indexOf(']', i + 1)
                  i = if (e < 0) n else e + 1
                }
              case '\'' | '`' | '^' | '"' | '~' | '=' | '.' =>
                i = applyAccent(d, i + 2)
              case ' ' | '\t' | '\n' | '\r' | ',' | ';' | ':' | '!' =>
                pendingSpace = true; i += 2
              case _ => i += 2 // \- \/ \@ and friends: drop
            }
          }
        }
      } else if (Character.isHighSurrogate(c) && i + 1 < n) {
        emit(s.codePointAt(i)); i += 2
      } else {
        emit(c); i += 1
      }
    }

    // --- command dispatch (returns the next scan index) ---
    def handleCommand(name: String, after0: Int): Int = {
      // Deliberate divergence from TeX tokenization: whitespace after a
      // control word stays a separator instead of being swallowed —
      // `\LaTeX is` extracts as "LaTeX is", not the TeX-faithful
      // "LaTeXis". Corpus text wants word boundaries; layout fidelity
      // doesn't matter downstream.
      lazy val after = skipWs(after0)
      name match {
        case "begin" =>
          if (after >= n || s.charAt(after) != '{') return after
          val e = s.indexOf('}', after + 1)
          if (e < 0) return n
          val env = s.substring(after + 1, e)
          val body = e + 1
          if (Floats.contains(env)) {
            val close = s.indexOf("\\end{" + env + "}", body)
            pendingSpace = true
            if (close < 0) n else close + 6 + env.length
          } else if (MathEnvs.contains(env)) {
            val close = s.indexOf("\\end{" + env + "}", body)
            pendingSpace = true
            emitStr("[MATH]")
            pendingSpace = true
            if (close < 0) n else close + 6 + env.length
          } else if (VerbatimEnvs.contains(env)) {
            val close = s.indexOf("\\end{" + env + "}", body)
            val stop = if (close < 0) n else close
            var k = body
            while (k < stop) { emit(s.charAt(k)); k += 1 }
            pendingSpace = true
            if (close < 0) n else close + 6 + env.length
          } else { pendingSpace = true; body }
        case "end" =>
          if (after < n && s.charAt(after) == '{') {
            val e = s.indexOf('}', after + 1)
            if (e < 0) return n
            val env = s.substring(after + 1, e)
            pendingSpace = true
            if (env == "document") n else e + 1
          } else after
        case "verb" | "verb*" =>
          // NOTE: `after` was ws-skipped, but \verb's delimiter may BE
          // anything non-letter at after0; use the unskipped position
          if (after0 >= n) return n
          val delim = s.charAt(after0)
          var k = after0 + 1
          while (k < n && s.charAt(k) != delim && s.charAt(k) != '\n') {
            emit(s.charAt(k)); k += 1
          }
          if (k < n && s.charAt(k) == delim) k + 1 else k
        case "url" =>
          if (after < n && s.charAt(after) == '{') {
            val e = skipGroupRaw(after)
            var k = after + 1
            val stop = math.max(after + 1, e - 1)
            while (k < stop) { emit(s.charAt(k)); k += 1 }
            e
          } else after
        case "href" =>
          if (after < n && s.charAt(after) == '{') skipGroupRaw(after) else after
          // the {text} group that follows processes normally
        case _ if Sectioning.contains(name.stripSuffix("*")) =>
          pendingSpace = true
          var k = after0
          if (k < n && s.charAt(k) == '[') { // short-title form drops
            val e = s.indexOf(']', k + 1)
            k = if (e < 0) n else e + 1
          }
          val k2 = skipWs(k)
          if (k2 < n && s.charAt(k2) == '{') {
            val e = skipGroup(k2)
            if (e > k2 + 1 && e <= n && s.charAt(e - 1) == '}')
              sepBraces.add(e - 1)
            k2 + 1 // descend into the group; content processes normally
          } else k
        case _ if DropArgs.contains(name.stripSuffix("*")) =>
          var remaining = DropArgs(name.stripSuffix("*"))
          var k = after0
          var go = true
          while (go && remaining > 0 && k < n) {
            val k2 = skipWs(k)
            if (k2 < n && s.charAt(k2) == '[') {
              val e = s.indexOf(']', k2 + 1)
              k = if (e < 0) n else e + 1
            } else if (k2 < n && s.charAt(k2) == '{') {
              k = skipGroup(k2)
              remaining -= 1
            } else go = false
          }
          pendingSpace = true
          k
        case _ if TextMacros.contains(name) =>
          val repl = TextMacros(name)
          if (repl.isEmpty) pendingSpace = true else emitStr(repl)
          // a label-style optional arg drops only when IMMEDIATELY
          // adjacent to the name (`\item[a)]`), never across space
          if (repl.isEmpty && after0 < n && s.charAt(after0) == '[') {
            val e = s.indexOf(']', after0 + 1)
            if (e < 0) n else e + 1
          } else after0
        case _ if name.length == 1 && AccentLetterCmds.contains(name.charAt(0)) =>
          applyAccent(name.charAt(0), after)
        case _ =>
          // unknown command: drop the name; one IMMEDIATELY adjacent
          // optional arg drops with it (`\section[short]{T}`) —
          // `\foo [prose]` across whitespace keeps the brackets
          if (after0 < n && s.charAt(after0) == '[') {
            val e = s.indexOf(']', after0 + 1)
            if (e < 0) n else e + 1
          } else after0
      }
    }

    UTF8String.fromString(out.toString)
  }
}
