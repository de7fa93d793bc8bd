package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `html_segments(string)` → `array<struct<kind, content, alt, pos>>` —
  * a page decomposed into its INTERLEAVED multimodal sequence, the
  * MMC4/OBELICS document shape: text blocks and images in true document
  * order, so a crawl page becomes the (text, image, text, …) stream an
  * interleaved-pretraining corpus stores, not a bag of paragraphs plus
  * a bag of images glued back together by guesswork.
  *
  * One linear scan combining [[HtmlBlocks]]' segmentation with
  * [[HtmlImages]]' extraction:
  *  - `kind='text'`: block-level tag boundaries split (the jusText
  *    paragraph rule — inline markup does not), entities decode and
  *    whitespace collapses with the [[HtmlToText]] rules, empty blocks
  *    drop; `content` is the block text, `alt` is `""`;
  *  - `kind='image'`: every `<img>` with a non-empty `src` (container/
  *    comment decoys excluded) flushes the running text block and emits
  *    its own segment at that point — `content` is the entity-decoded
  *    src (resolution is the caller's step), `alt` the decoded alt text;
  *  - `pos` is the 0-based ordinal over BOTH kinds — the interleave key
  *    downstream assembly sorts on.
  *
  * Scale shape: scan-side codegen'd expression, one walk per page.
  */
object HtmlSegments {

  val schema: DataType = ArrayType(StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("content", StringType, nullable = false),
    StructField("alt", StringType, nullable = false),
    StructField("pos", IntegerType, nullable = false))),
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

  private val TextKind = UTF8String.fromString("text")
  private val ImageKind = UTF8String.fromString("image")
  private val Empty = UTF8String.fromString("")

  def segments(in: UTF8String): GenericArrayData = {
    val s = in.toString
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var buf = new java.lang.StringBuilder(256)
    var pendingSpace = false
    var pos = 0

    def flushText(): Unit = {
      if (buf.length() > 0) {
        out += InternalRow(TextKind, UTF8String.fromString(buf.toString),
          Empty, pos)
        pos += 1
        buf = new java.lang.StringBuilder(256)
      }
      pendingSpace = false
    }

    def emit(cp: Int): Unit = {
      if (cp == ' ' || Character.isWhitespace(cp) || cp == 0xa0)
        pendingSpace = true
      else {
        if (pendingSpace && buf.length() > 0) buf.append(' ')
        pendingSpace = false
        buf.appendCodePoint(cp)
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
            var k = i + 1
            val closing = k < n && s.charAt(k) == '/'
            if (closing) k += 1
            val nameStart = k
            while (k < n && Character.isLetterOrDigit(s.charAt(k))) k += 1
            val name = s.substring(nameStart, k)
              .toLowerCase(java.util.Locale.ROOT)
            val gt = s.indexOf('>', i + 1)
            val end = if (gt < 0) n else gt
            if (BlockTags.contains(name)) flushText()
            else if (name == "img" && !closing) {
              val src = HtmlImages.attr(s, k, end, "src")
              if (src != null && src.nonEmpty) {
                flushText()
                val alt = HtmlImages.attr(s, k, end, "alt")
                out += InternalRow(ImageKind,
                  UTF8String.fromString(HtmlImages.decodeUrlEntities(src)),
                  UTF8String.fromString(
                    HtmlImages.decodeText(if (alt == null) "" else alt)),
                  pos)
                pos += 1
              }
            }
            i = if (gt < 0) n else gt + 1
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
    flushText()
    new GenericArrayData(out.toArray)
  }
}
