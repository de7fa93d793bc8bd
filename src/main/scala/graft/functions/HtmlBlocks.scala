package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `html_blocks(html)` → `array<struct<block_text, n_chars, link_chars>>`
  * — the jusText primitive: page text SEGMENTED at block-level tag
  * boundaries, with per-block anchor-text accounting.
  *
  * Boilerplate detection (jusText, Pomikálek 2011; the same shape
  * underlies Readability and trafilatura) classifies BLOCKS, not pages:
  * a nav bar is a short block whose characters sit almost entirely
  * inside `<a>` elements, body prose is a long block dense in function
  * words with near-zero link density. This walker produces exactly the
  * per-block inputs those rules need:
  *
  *  - a block boundary at every open OR close of a block-level element
  *    (`p div h1–h6 li ul ol table tr td th blockquote pre br hr
  *    section article header footer nav aside form body html head`);
  *    inline elements (`a b i em span strong code small u` …) do NOT
  *    split — exactly jusText's paragraph segmentation rule;
  *  - raw-text containers (script/style/noscript/template/title) drop
  *    whole, comments/doctype skip — shared with [[HtmlToText]];
  *  - character references decode and whitespace runs collapse with the
  *    SAME rules as [[HtmlToText]] (one emitted text, two granularities);
  *  - `link_chars` counts the collapsed characters emitted while inside
  *    an `<a>` element (nesting-tracked), `n_chars` all of them — so
  *    `link_chars/n_chars` IS jusText's link density, computed without a
  *    second parse;
  *  - empty blocks are dropped; counts are codepoints (= SQL `length`).
  *
  * Scan-side expression: one walk per page, no shuffle — classification
  * on top is plain relational arithmetic over the struct fields.
  */
object HtmlBlocks {

  val schema: DataType = ArrayType(StructType(Seq(
    StructField("block_text", StringType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("link_chars", IntegerType, nullable = false))),
    containsNull = false)

  private val BlockTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
      "table", "tr", "td", "th", "blockquote", "pre", "br", "hr",
      "section", "article", "header", "footer", "nav", "aside", "form",
      "body", "html", "head", "main", "figure", "figcaption", "dl", "dt",
      "dd").foreach(s.add)
    s
  }

  def blocks(in: UTF8String): GenericArrayData = {
    val s = in.toString
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
    var buf = new java.lang.StringBuilder(256)
    var nChars = 0
    var linkChars = 0
    var aDepth = 0
    var pendingSpace = false

    def flush(): Unit = {
      if (buf.length() > 0) {
        out += InternalRow(UTF8String.fromString(buf.toString), nChars, linkChars)
        buf = new java.lang.StringBuilder(256)
      }
      nChars = 0; linkChars = 0; pendingSpace = false
    }

    def emit(cp: Int): Unit = {
      if (cp == ' ' || Character.isWhitespace(cp) || cp == 0xa0) pendingSpace = true
      else {
        if (pendingSpace && buf.length() > 0) {
          buf.append(' '); nChars += 1
          if (aDepth > 0) linkChars += 1
        }
        pendingSpace = false
        buf.appendCodePoint(cp); nChars += 1
        if (aDepth > 0) linkChars += 1
      }
    }

    var i = 0
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
          val container = HtmlToText.matchContainer(s, i)
          if (container != null) {
            val close = "</" + container
            val e = HtmlToText.indexOfIgnoreCase(s, close, i)
            if (e < 0) i = n
            else {
              val gt = s.indexOf('>', e)
              i = if (gt < 0) n else gt + 1
            }
          } else {
            // read the tag name (after an optional '/')
            var k = i + 1
            val closing = k < n && s.charAt(k) == '/'
            if (closing) k += 1
            val nameStart = k
            while (k < n && (Character.isLetterOrDigit(s.charAt(k)))) k += 1
            val name = s.substring(nameStart, k).toLowerCase(java.util.Locale.ROOT)
            if (BlockTags.contains(name)) flush()
            else if (name == "a") {
              if (closing) { if (aDepth > 0) aDepth -= 1 }
              else aDepth += 1
            }
            val e = s.indexOf('>', i + 1)
            i = if (e < 0) n else e + 1
          }
          pendingSpace = true
        }
      } else if (c == '&') {
        val (cp, next) = HtmlToText.reference(s, i)
        if (cp >= 0) { emit(cp); i = next }
        else { emit('&'); i += 1 }
      } else {
        if (Character.isHighSurrogate(c) && i + 1 < n) {
          emit(s.codePointAt(i)); i += 2
        } else { emit(c); i += 1 }
      }
    }
    flush()
    new GenericArrayData(out.toArray[Any])
  }
}
