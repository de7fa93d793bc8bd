package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `subtitle_cues(string)` → `array<struct<idx, start_ms, end_ms, text>>`
  * — SRT and WebVTT cue extraction, the text side of the speech/video
  * data mile (caption corpora, audio-text alignment pairs, subtitle
  * quality gates). One linear scan over lines; null on malformed timing
  * (whole-or-refuse, like every untrusted-input decoder here) — a cue
  * whose timestamp parses but lies (minutes ≥ 60, end ≤ start, ragged
  * digit counts) poisons alignment downstream, so the document refuses
  * rather than half-extracts.
  *
  * Dialect handling:
  *  - WebVTT is detected by its `WEBVTT` header line (optional BOM);
  *    `NOTE` / `STYLE` / `REGION` blocks are skipped; an optional cue
  *    identifier line may precede the timing line; cue settings after
  *    the end timestamp are dropped; hours are optional (`MM:SS.mmm`).
  *  - SRT blocks carry an optional numeric counter line before the
  *    timing line; hours are required.
  *  - Millisecond separator: comma (SRT) or dot (WebVTT) — each
  *    dialect also tolerates the other's separator (the leniency every
  *    real player ships), but field widths are strict: 2-digit
  *    minutes/seconds, 3-digit millis, 1+-digit hours.
  *
  * Cue text: lines joined with a single space, inline tags stripped and
  * entities decoded by the shared [[HtmlToText]] rules (`<i>`, `<b>`,
  * `<c.class>` and friends are markup, not text). `idx` is the 0-based
  * document-order cue ordinal (SRT counters are not trusted — they are
  * routinely wrong in the wild).
  *
  * Scale shape: scan-side codegen'd expression; subtitle text never
  * shuffles un-parsed.
  */
object SubtitleCues {

  val schema: DataType = ArrayType(StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("start_ms", LongType, nullable = false),
    StructField("end_ms", LongType, nullable = false),
    StructField("text", StringType, nullable = false))),
    containsNull = false)

  /** All cues in document order, or null on malformed timing. */
  def parse(in: UTF8String): GenericArrayData = {
    var s = in.toString
    if (s.nonEmpty && s.charAt(0) == '\uFEFF') s = s.substring(1)
    val lines = s.split("\r\n|\n|\r", -1)
    val vtt = lines.nonEmpty && (lines(0) == "WEBVTT" ||
      lines(0).startsWith("WEBVTT ") || lines(0).startsWith("WEBVTT\t"))
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var i = if (vtt) 1 else 0
    var idx = 0
    while (i < lines.length) {
      // skip blank separators
      while (i < lines.length && lines(i).trim.isEmpty) i += 1
      if (i < lines.length) {
        val blockStart = i
        var end = i
        while (end < lines.length && lines(end).trim.nonEmpty) end += 1
        // VTT metadata blocks are skipped whole. Per the WebVTT spec the
        // keyword must stand alone or be followed by whitespace — a cue
        // whose identifier merely BEGINS with "NOTE" (e.g. "NOTES-1")
        // is a legitimate cue, not metadata.
        val head = lines(blockStart)
        def kw(k: String): Boolean = head == k ||
          head.startsWith(k + " ") || head.startsWith(k + "\t")
        if (vtt && (kw("NOTE") || kw("STYLE") || kw("REGION"))) {
          i = end
        } else {
          // timing line: first line containing "-->" within the block
          // (an optional SRT counter / VTT identifier line precedes it)
          var t = blockStart
          while (t < end && !lines(t).contains("-->")) t += 1
          if (t >= end || t > blockStart + 1) {
            // no timing line (stray text) — not a cue; a block where
            // the arrow appears after more than one prefix line is
            // malformed framing
            if (t < end) return null
            i = end
          } else {
            val tl = lines(t)
            val arrow = tl.indexOf("-->")
            val startMs = parseTs(tl.substring(0, arrow).trim)
            // cue settings (VTT) follow the end stamp — cut at first
            // whitespace after it
            val afterRaw = tl.substring(arrow + 3).trim
            val wsAt = afterRaw.indexWhere(c => c == ' ' || c == '\t')
            val endStr = if (wsAt < 0) afterRaw else afterRaw.substring(0, wsAt)
            val endMs = parseTs(endStr)
            if (startMs < 0 || endMs < 0 || endMs <= startMs) return null
            val text = cueText(lines, t + 1, end)
            out += InternalRow(idx, startMs, endMs,
              UTF8String.fromString(text))
            idx += 1
            i = end
          }
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** `[HH:]MM:SS[,.]mmm` → milliseconds, or -1 when malformed. Strict
    * widths: hours 1+, minutes/seconds exactly 2, millis exactly 3. */
  private def parseTs(t: String): Long = {
    val parts = t.split(":", -1)
    if (parts.length < 2 || parts.length > 3) return -1
    val (hh, mm, rest) =
      if (parts.length == 3) (parts(0), parts(1), parts(2))
      else ("0", parts(0), parts(1))
    val sepAt = rest.indexWhere(c => c == ',' || c == '.')
    if (sepAt < 0) return -1
    val ss = rest.substring(0, sepAt)
    val ms = rest.substring(sepAt + 1)
    if (hh.isEmpty || mm.length != 2 || ss.length != 2 || ms.length != 3)
      return -1
    if (!(hh + mm + ss + ms).forall(c => c >= '0' && c <= '9')) return -1
    val h = hh.toLong
    val m = mm.toLong
    val sec = ss.toLong
    if (m >= 60 || sec >= 60 || h > 838) return -1 // cap like MySQL TIME
    ((h * 60 + m) * 60 + sec) * 1000 + ms.toLong
  }

  /** Cue lines joined with single spaces, inline tags stripped WITHOUT
    * inserting a space (`<i>`/`<b>`/`<c>` are character-level styling —
    * `fi<i>sh</i>` is one word), entities decoded per [[HtmlToText]],
    * whitespace collapsed. */
  private def cueText(lines: Array[String], from: Int, to: Int): String = {
    val out = new java.lang.StringBuilder
    var pendingSpace = false
    def emit(cp: Int): Unit = {
      if (Character.isWhitespace(cp) || cp == 0xa0) pendingSpace = true
      else {
        if (pendingSpace && out.length() > 0) out.append(' ')
        pendingSpace = false
        out.appendCodePoint(cp)
      }
    }
    var l = from
    while (l < to) {
      val s = lines(l)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '<') {
          val e = s.indexOf('>', i + 1)
          i = if (e < 0) s.length else e + 1
        } else if (c == '&') {
          val (cp, next) = HtmlToText.reference(s, i)
          if (cp >= 0) { emit(cp); i = next }
          else { emit('&'); i += 1 }
        } else if (Character.isHighSurrogate(c) && i + 1 < s.length) {
          emit(s.codePointAt(i)); i += 2
        } else { emit(c); i += 1 }
      }
      pendingSpace = true // line break reads as a space
      l += 1
    }
    out.toString
  }
}
