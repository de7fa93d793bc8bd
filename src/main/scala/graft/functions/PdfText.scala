package graft.functions

import java.util.zip.Inflater

import org.apache.spark.unsafe.types.UTF8String

/** PDF text extraction (a BOUNDED subset of ISO 32000-1) — the
  * second-biggest document format in real LLM corpora after HTML, now
  * part of the crawl read surface next to [[HtmlToText]].
  *
  * `pdf_text(binary)` implements BOTH generations of the format:
  * classic — `%PDF` header → `startxref` → cross-reference TABLE walk
  * (with `/Prev` incremental-update chains, newest entry winning) —
  * AND the PDF 1.5+ layout most modern writers emit: cross-reference
  * STREAMS (`/W` field widths, `/Index` subsections, binary entries,
  * `/Predictor` 2/10–15 pre-filters inverted after Flate), compressed
  * objects inside `/ObjStm` containers, and hybrid files whose classic
  * trailer points at a supplementary stream via `/XRefStm`. Then:
  * trailer `/Root` → `/Pages` tree recursion → per-page `/Contents`
  * streams (raw or single `/FlateDecode`, inflated with the same JDK
  * zlib the gzip path uses) → the text-showing operators. Extraction
  * semantics (deterministic, shared with the fixture generator):
  *
  *  - `Tj`, `TJ` (kerning numbers ignored), `'` and `"` append their
  *    string; `'`/`"` and the positioning operators `Td`/`TD`/`T*`
  *    start a new line (no leading/doubled newlines); pages join with
  *    one newline;
  *  - literal strings decode the standard escapes (\n \r \t \b \f
  *    \( \) \\ \ooo, backslash-EOL continuation); hex strings decode
  *    byte pairs; bytes map through Latin-1.
  *
  * Whole-or-refuse, like every container here: null on missing/odd
  * xref, `/Encrypt` (refuse loudly, never garbage), non-Flate filters
  * or predictors outside 1/2/10–15, malformed objects or object
  * streams, cyclic or over-deep page trees, or output past the bomb
  * ceiling.
  *
  * `pdf_doc(binary)` is the deterministic single-page writer (catalog,
  * page tree, Helvetica, one Flate content stream, byte-exact xref) —
  * the engine-side half of the round-trip oracle gate, same posture as
  * [[Gzip.compress]] / [[Zstd.compressRaw]].
  */
object PdfText {

  val MaxTextBytes: Int = 16 << 20

  /** Page ceiling for the /Pages walk — far above any real document the
    * crawl gate would keep, low enough that a crafted shared-Kids tree
    * can't multiply content-stream work (see pageStreams()).
    */
  val MaxPages: Int = 8192

  import Bytes.{Corrupt, fail}

  // ------------------------------------------------------------ object model
  private case class Name(v: String)
  private case class Ref(num: Int, gen: Int)
  private case class StrLit(bytes: Array[Byte])

  /** Recursive-descent parser over the raw bytes. */
  private final class P(val b: Array[Byte], var p: Int) {
    @inline def u8(i: Int): Int = { if (i < 0 || i >= b.length) fail(); b(i) & 0xff }
    @inline def atEnd: Boolean = p >= b.length
    @inline def isWs(c: Int): Boolean =
      c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == 0 || c == 12
    @inline def isDelim(c: Int): Boolean =
      c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
        c == '{' || c == '}' || c == '/' || c == '%'

    def ws(): Unit = {
      var go = true
      while (go && !atEnd) {
        val c = u8(p)
        if (isWs(c)) p += 1
        else if (c == '%') { while (!atEnd && u8(p) != '\n' && u8(p) != '\r') p += 1 }
        else go = false
      }
    }

    def token(): String = { // bare token (operator / keyword)
      ws()
      val s = p
      while (!atEnd && !isWs(u8(p)) && !isDelim(u8(p))) p += 1
      if (p == s) fail()
      new String(b, s, p - s, "ISO-8859-1")
    }

    def expect(lit: String): Unit = {
      ws()
      var i = 0
      while (i < lit.length) { if (atEnd || u8(p) != lit.charAt(i)) fail(); p += 1; i += 1 }
    }

    def peekIs(lit: String): Boolean = {
      ws()
      if (p + lit.length > b.length) return false
      var i = 0
      while (i < lit.length) {
        if ((b(p + i) & 0xff) != lit.charAt(i)) return false
        i += 1
      }
      // a keyword must end at a delimiter/ws boundary
      val after = p + lit.length
      after >= b.length || isWs(u8(after)) || isDelim(u8(after))
    }

    def parseName(): Name = {
      expect("/")
      val sb = new StringBuilder
      while (!atEnd && !isWs(u8(p)) && !isDelim(u8(p))) {
        val c = u8(p)
        if (c == '#' && p + 2 < b.length) {
          sb.append(Integer.parseInt(
            new String(b, p + 1, 2, "ISO-8859-1"), 16).toChar)
          p += 3
        } else { sb.append(c.toChar); p += 1 }
      }
      Name(sb.toString)
    }

    def parseLiteralString(): StrLit = {
      expect("(")
      val out = new java.io.ByteArrayOutputStream(32)
      var depth = 1
      while (depth > 0) {
        if (atEnd) fail()
        val c = u8(p); p += 1
        c match {
          case '(' => depth += 1; out.write('(')
          case ')' =>
            depth -= 1
            if (depth > 0) out.write(')')
          case '\\' =>
            if (atEnd) fail()
            val e = u8(p); p += 1
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write(12)
              case '(' => out.write('(')
              case ')' => out.write(')')
              case '\\' => out.write('\\')
              case '\r' => if (!atEnd && u8(p) == '\n') p += 1 // continuation
              case '\n' => // continuation
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'
                var k = 0
                while (k < 2 && !atEnd && u8(p) >= '0' && u8(p) <= '7') {
                  v = v * 8 + (u8(p) - '0'); p += 1; k += 1
                }
                out.write(v & 0xff)
              case other => out.write(other) // unknown escape: char as-is
            }
          case other => out.write(other)
        }
      }
      StrLit(out.toByteArray)
    }

    def parseHexString(): StrLit = {
      expect("<")
      val out = new java.io.ByteArrayOutputStream(16)
      var hi = -1
      var done = false
      while (!done) {
        if (atEnd) fail()
        val c = u8(p); p += 1
        if (c == '>') {
          if (hi >= 0) out.write(hi << 4)
          done = true
        } else if (!isWs(c)) {
          val v = Character.digit(c, 16)
          if (v < 0) fail()
          if (hi < 0) hi = v else { out.write((hi << 4) | v); hi = -1 }
        }
      }
      StrLit(out.toByteArray)
    }

    def parseNumber(): Any = {
      ws()
      val s = p
      if (!atEnd && (u8(p) == '+' || u8(p) == '-')) p += 1
      var dot = false
      while (!atEnd && ((u8(p) >= '0' && u8(p) <= '9') || u8(p) == '.')) {
        if (u8(p) == '.') dot = true
        p += 1
      }
      if (p == s) fail()
      val str = new String(b, s, p - s, "ISO-8859-1")
      if (dot) str.toDouble else str.toLong
    }

    /** One object; integers followed by `gen R` collapse into a [[Ref]]. */
    def parseObj(depth: Int): Any = {
      if (depth > 64) fail()
      ws()
      if (atEnd) fail()
      val c = u8(p)
      if (c == '/') parseName()
      else if (c == '(') parseLiteralString()
      else if (c == '[') {
        p += 1
        val buf = scala.collection.mutable.ArrayBuffer[Any]()
        ws()
        while (u8(p) != ']') { buf += parseObj(depth + 1); ws() }
        p += 1
        buf.toSeq
      } else if (c == '<') {
        if (p + 1 < b.length && u8(p + 1) == '<') {
          p += 2
          val m = scala.collection.mutable.LinkedHashMap[String, Any]()
          ws()
          while (!(u8(p) == '>' && u8(p + 1) == '>')) {
            val k = parseName()
            m(k.v) = parseObj(depth + 1)
            ws()
          }
          p += 2
          m
        } else parseHexString()
      } else if (c == '-' || c == '+' || c == '.' || (c >= '0' && c <= '9')) {
        val n = parseNumber()
        n match {
          case l: Long if l >= 0 =>
            val save = p
            try {
              ws()
              val g = parseNumber()
              g match {
                case gl: Long if gl >= 0 =>
                  ws()
                  if (!atEnd && u8(p) == 'R' &&
                    (p + 1 >= b.length || isWs(u8(p + 1)) || isDelim(u8(p + 1)))) {
                    p += 1
                    Ref(l.toInt, gl.toInt)
                  } else { p = save; n }
                case _ => p = save; n
              }
            } catch { case Corrupt => p = save; n }
          case _ => n
        }
      } else {
        val t = token()
        t match {
          case "true" => java.lang.Boolean.TRUE
          case "false" => java.lang.Boolean.FALSE
          case "null" => null
          case _ => fail()
        }
      }
    }
  }

  // --------------------------------------------------------------- document
  private type Dict = scala.collection.mutable.LinkedHashMap[String, Any]

  private final class Doc(b: Array[Byte]) {
    // direct file offsets and in-object-stream locations, from the xref
    // chain (newest first; first write wins)
    private val offsets = scala.collection.mutable.HashMap[Int, Int]()
    private val inStream = scala.collection.mutable.HashMap[Int, (Int, Int)]()
    // parsed /ObjStm cache: num → (first, header pairs, decoded bytes)
    private val objStms =
      scala.collection.mutable.HashMap[Int, (Int, Array[(Int, Int)], Array[Byte])]()
    var root: Ref = _
    private var rootSet = false

    def load(): Unit = {
      if (b.length < 16) fail()
      val head = new String(b, 0, 5, "ISO-8859-1")
      if (head != "%PDF-") fail()
      // find the LAST startxref
      val tailStr = new String(b, math.max(0, b.length - 2048),
        math.min(2048, b.length), "ISO-8859-1")
      val idx = tailStr.lastIndexOf("startxref")
      if (idx < 0) fail()
      val pp = new P(b, math.max(0, b.length - 2048) + idx + "startxref".length)
      var xrefOff = pp.parseNumber() match {
        case l: Long => l.toInt
        case _ => fail()
      }
      var guard = 0
      while (xrefOff >= 0) {
        guard += 1
        if (guard > 64) fail() // cyclic /Prev chain
        if (xrefOff >= b.length) fail()
        val xp = new P(b, xrefOff)
        xrefOff =
          if (xp.peekIs("xref")) loadXrefTable(xp)
          else loadXrefStream(xrefOff) // PDF 1.5 cross-reference stream
      }
      if (!rootSet) fail()
    }

    /** Classic xref TABLE section at the cursor; returns the next
      * offset in the chain (/Prev, or the hybrid /XRefStm first).
      */
    private def loadXrefTable(xp: P): Int = {
      xp.expect("xref")
      xp.ws()
      while (!xp.peekIs("trailer")) {
        val start = xp.parseNumber().asInstanceOf[Long].toInt
        val count = xp.parseNumber().asInstanceOf[Long].toInt
        if (count < 0 || count > 1000000) fail()
        var i = 0
        while (i < count) {
          xp.ws()
          if (xp.p + 18 > b.length) fail()
          val off = new String(b, xp.p, 10, "ISO-8859-1").trim.toInt
          val kind = b(xp.p + 17).toChar
          if (kind == 'n' && !known(start + i)) offsets(start + i) = off
          xp.p += 18
          i += 1
        }
        xp.ws()
      }
      xp.expect("trailer")
      val tr = xp.parseObj(0).asInstanceOf[Dict]
      if (tr.contains("Encrypt")) fail() // refuse encrypted, loudly
      if (!rootSet) tr.get("Root") match {
        case Some(r: Ref) => root = r; rootSet = true
        case _ => fail()
      }
      // hybrid files: the supplementary xref STREAM fills the entries
      // the table marks free; its own /Prev is ignored (the classic
      // /Prev carries the chain, per the hybrid-reference layout)
      tr.get("XRefStm").foreach {
        case l: Long => loadXrefStream(l.toInt)
        case _ => fail()
      }
      tr.get("Prev") match {
        case Some(l: Long) => l.toInt
        case None => -1
        case _ => fail()
      }
    }

    @inline private def known(num: Int): Boolean =
      offsets.contains(num) || inStream.contains(num)

    /** PDF 1.5 cross-reference STREAM at `off`: /W field widths,
      * /Index subsections, binary big-endian entries (type 0 free /
      * 1 file offset / 2 object-stream location); the stream dict IS
      * the trailer. Returns /Prev or −1.
      */
    private def loadXrefStream(off: Int): Int = {
      val (v, raw) = objAtOffset(off)
      if (raw == null) fail()
      val dict = v.asInstanceOf[Dict]
      if (dict.get("Type") != Some(Name("XRef"))) fail()
      if (dict.contains("Encrypt")) fail()
      val data = decodeStream(dict, raw)
      val w = resolve(dict.getOrElse("W", fail())) match {
        case s: Seq[_] if s.length == 3 =>
          s.map { case l: Long => l.toInt; case _ => fail() }
        case _ => fail()
      }
      if (w.exists(x => x < 0 || x > 8)) fail()
      val entryLen = w.sum
      if (entryLen <= 0) fail()
      val size = resolve(dict.getOrElse("Size", fail())).asInstanceOf[Long].toInt
      val index: Seq[Int] = dict.get("Index").map(resolve(_)) match {
        case Some(s: Seq[_]) => s.map {
          case l: Long => l.toInt; case _ => fail()
        }
        case None => Seq(0, size)
        case _ => fail()
      }
      if (index.length % 2 != 0) fail()
      var pos = 0
      @inline def field(width: Int): Long = {
        var v2 = 0L
        var k = 0
        while (k < width) { v2 = (v2 << 8) | (data(pos) & 0xffL); pos += 1; k += 1 }
        v2
      }
      index.grouped(2).foreach { pair =>
        val start = pair(0)
        val count = pair(1)
        if (count < 0 || count > 1000000) fail()
        var i = 0
        while (i < count) {
          if (pos + entryLen > data.length) fail()
          val t = if (w(0) == 0) 1L else field(w(0))
          val f1 = field(w(1))
          val f2 = field(w(2))
          t match {
            case 1L => if (!known(start + i)) offsets(start + i) = f1.toInt
            case 2L => if (!known(start + i)) inStream(start + i) = (f1.toInt, f2.toInt)
            case _ => // free / unknown types: skipped per spec
          }
          i += 1
        }
      }
      if (!rootSet) dict.get("Root") match {
        case Some(r: Ref) => root = r; rootSet = true
        case _ => fail()
      }
      resolve(dict.getOrElse("Prev", -1L)) match {
        case l: Long => l.toInt
        case _ => fail()
      }
    }

    def resolve(v: Any, depth: Int = 0): Any = v match {
      case r: Ref => if (depth > 32) fail() else resolve(obj(r.num)._1, depth + 1)
      case other => other
    }

    /** Parse `N G obj …` at a file offset. */
    private def objAtOffset(off: Int): (Any, Array[Byte]) = {
      val op = new P(b, off)
      op.parseNumber() match {
        case _: Long =>
        case _ => fail()
      }
      op.parseNumber() // generation
      op.expect("obj")
      val v = op.parseObj(0)
      op.ws()
      if (op.peekIs("stream")) {
        op.expect("stream")
        // EOL after the keyword: CRLF or LF
        if (op.u8(op.p) == '\r') op.p += 1
        if (op.u8(op.p) == '\n') op.p += 1
        val dict = v.asInstanceOf[Dict]
        val len = resolve(dict.getOrElse("Length", fail())) match {
          case l: Long => l.toInt
          case _ => fail()
        }
        if (len < 0 || op.p + len > b.length) fail()
        val raw = java.util.Arrays.copyOfRange(b, op.p, op.p + len)
        (v, raw)
      } else (v, null)
    }

    /** (value, streamBytesOrNull) of object `num` — from its file
      * offset, or out of its compressed /ObjStm container.
      */
    def obj(num: Int): (Any, Array[Byte]) =
      offsets.get(num) match {
        case Some(off) => objAtOffset(off)
        case None =>
          val (stmNum, idx2) = inStream.getOrElse(num, fail())
          val (first, pairs, data) = objStms.getOrElseUpdate(stmNum, {
            val (sv, sraw) = offsets.get(stmNum) match {
              case Some(o) => objAtOffset(o)
              case None => fail() // an objstm can't live inside an objstm
            }
            val sd = sv.asInstanceOf[Dict]
            if (sd.get("Type") != Some(Name("ObjStm"))) fail()
            if (sraw == null) fail()
            val n = resolve(sd.getOrElse("N", fail())).asInstanceOf[Long].toInt
            val first2 = resolve(sd.getOrElse("First", fail())).asInstanceOf[Long].toInt
            if (n < 0 || n > 100000) fail()
            val dec = decodeStream(sd, sraw)
            val hp = new P(dec, 0)
            val prs = new Array[(Int, Int)](n)
            var i = 0
            while (i < n) {
              val on = hp.parseNumber().asInstanceOf[Long].toInt
              val rel = hp.parseNumber().asInstanceOf[Long].toInt
              prs(i) = (on, rel)
              i += 1
            }
            (first2, prs, dec)
          })
          if (idx2 < 0 || idx2 >= pairs.length) fail()
          val (onum, rel) = pairs(idx2)
          if (onum != num) fail()
          if (first + rel >= data.length) fail()
          val vp = new P(data, first + rel)
          (vp.parseObj(0), null) // in-stream objects carry no streams
      }

    def decodeStream(dict: Dict, raw: Array[Byte]): Array[Byte] = {
      val parms: Option[Dict] =
        resolve(dict.getOrElse("DecodeParms", null)) match {
          case null => None
          case d: Dict @unchecked => Some(d)
          case seq: Seq[_] if seq.length == 1 => seq.head match {
            case d: Dict @unchecked => Some(d)
            case null => None
            case _ => fail()
          }
          case _ => fail()
        }
      def earlyChange: Int = parms match {
        case Some(d) => resolve(d.getOrElse("EarlyChange", 1L)) match {
          case l: Long if l == 0L || l == 1L => l.toInt
          case _ => fail()
        }
        case None => 1
      }
      val inflated = resolve(dict.getOrElse("Filter", null)) match {
        case null => raw
        case Name("FlateDecode") => inflateZlib(raw)
        case Name("LZWDecode") => lzwDecode(raw, earlyChange)
        case seq: Seq[_] if seq == Seq(Name("FlateDecode")) => inflateZlib(raw)
        case seq: Seq[_] if seq == Seq(Name("LZWDecode")) =>
          lzwDecode(raw, earlyChange)
        case _ => fail() // other filters out of the subset
      }
      parms match {
        case Some(d) => unpredict(d, inflated)
        case None => inflated
      }
    }

    /** /LZWDecode (ISO 32000 §7.4.4 — the TIFF LZW variant): MSB-first
      * code packing, 9→12-bit variable width, 256 = ClearTable,
      * 257 = EOD, and the /EarlyChange width bump (default 1: widen
      * when the table reaches 2^w − 1). Whole-or-refuse: an invalid
      * code, missing EOD, or output past MaxTextBytes fails the
      * extraction rather than yielding truncated text.
      */
    private def lzwDecode(data: Array[Byte], earlyChange: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(data.length * 3 + 64)
      val table = new Array[Array[Byte]](4096)
      var i = 0
      while (i < 256) { table(i) = Array(i.toByte); i += 1 }
      var next = 258
      var width = 9
      var prev: Array[Byte] = null
      val codes = new Bytes.MsbBits(data, 0, data.length)
      var done = false
      while (!done) {
        val code = codes.bits(width) // refuses when bits run out before EOD
        if (code == 256) { next = 258; width = 9; prev = null }
        else if (code == 257) done = true
        else {
          val entry =
            if (code < 256) table(code)
            else if (code >= 258 && code < next) table(code)
            else if (code == next && prev != null) prev :+ prev(0)
            else fail()
          out.write(entry, 0, entry.length)
          if (out.size > MaxTextBytes) fail()
          if (prev != null && next < 4096) {
            table(next) = prev :+ entry(0)
            next += 1
            // widen when the table reaches 2^w − EarlyChange (511/1023/
            // 2047 with the default, 512/1024/2048 without)
            if (next + earlyChange >= (1 << width) && width < 12) width += 1
          }
          prev = entry
        }
      }
      out.toByteArray
    }

    /** Invert the /Predictor pre-filter: 1 = none, 2 = TIFF horizontal
      * (8-bit), 10–15 = the PNG row filters (None/Sub/Up/Average/Paeth
      * per-row tags). Anything else is outside the subset.
      */
    private def unpredict(parms: Dict, data: Array[Byte]): Array[Byte] = {
      val pred = resolve(parms.getOrElse("Predictor", 1L)).asInstanceOf[Long].toInt
      if (pred == 1) return data
      val colors = resolve(parms.getOrElse("Colors", 1L)).asInstanceOf[Long].toInt
      val bpc = resolve(parms.getOrElse("BitsPerComponent", 8L)).asInstanceOf[Long].toInt
      val columns = resolve(parms.getOrElse("Columns", 1L)).asInstanceOf[Long].toInt
      if (bpc != 8 || colors < 1 || columns < 1) fail()
      val bpp = colors
      val rowLen = columns * colors
      if (pred == 2) { // TIFF horizontal differencing
        val out = data.clone()
        var r = 0
        while (r + rowLen <= out.length) {
          var i = bpp
          while (i < rowLen) {
            out(r + i) = ((out(r + i) + out(r + i - bpp)) & 0xff).toByte
            i += 1
          }
          r += rowLen
        }
        return out
      }
      if (pred < 10 || pred > 15) fail()
      // PNG predictors: each row is 1 tag byte + rowLen filtered bytes
      val stride = rowLen + 1
      if (data.length % stride != 0) fail()
      val rows = data.length / stride
      val out = new Array[Byte](rows * rowLen)
      var r = 0
      while (r < rows) {
        val tag = data(r * stride) & 0xff
        var i = 0
        while (i < rowLen) {
          val x = data(r * stride + 1 + i) & 0xff
          val left = if (i >= bpp) out(r * rowLen + i - bpp) & 0xff else 0
          val up = if (r > 0) out((r - 1) * rowLen + i) & 0xff else 0
          val ul = if (r > 0 && i >= bpp) out((r - 1) * rowLen + i - bpp) & 0xff else 0
          val v = tag match {
            case 0 => x
            case 1 => x + left
            case 2 => x + up
            case 3 => x + (left + up) / 2
            case 4 =>
              val p = left + up - ul
              val pa = math.abs(p - left)
              val pb = math.abs(p - up)
              val pc = math.abs(p - ul)
              x + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
            case _ => fail()
          }
          out(r * rowLen + i) = (v & 0xff).toByte
          i += 1
        }
        r += 1
      }
      out
    }

    private def inflateZlib(raw: Array[Byte]): Array[Byte] = {
      val inf = new Inflater(false)
      inf.setInput(raw)
      val out = new java.io.ByteArrayOutputStream(raw.length * 4 + 64)
      val buf = new Array[Byte](8192)
      try {
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && !inf.finished()) fail()
          out.write(buf, 0, n)
          if (out.size > MaxTextBytes) fail()
        }
      } catch {
        case _: java.util.zip.DataFormatException => fail()
      } finally inf.end()
      out.toByteArray
    }

    /** Page content streams in tree order.
      *
      * The /Pages tree is untrusted crawl input: /Kids entries are refs
      * that may repeat or share nodes, so besides the depth cap the walk
      * tracks VISITED object numbers (revisit = cyclic/shared tree →
      * refuse, mirroring the /Prev-chain guard at :295) and enforces
      * aggregate ceilings — total pages/content streams and total decoded
      * bytes across streams — so a crafted tree can't multiply work or
      * memory past a bound (MaxTextBytes alone only bounds each single
      * inflate and the final text StringBuilder).
      */
    def pageStreams(): Seq[Array[Byte]] = {
      val rootDict = resolve(root).asInstanceOf[scala.collection.mutable.LinkedHashMap[String, Any]]
      val pagesRef = rootDict.getOrElse("Pages", fail())
      val out = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      val visited = scala.collection.mutable.HashSet[Int]()
      var pages = 0
      var decodedBytes = 0L
      def walk(node: Any, depth: Int): Unit = {
        if (depth > 32) fail()
        node match {
          case Ref(n, _) => if (!visited.add(n)) fail() // shared/cyclic node
          case _ => ()
        }
        val d = resolve(node).asInstanceOf[scala.collection.mutable.LinkedHashMap[String, Any]]
        d.get("Type") match {
          case Some(Name("Pages")) =>
            resolve(d.getOrElse("Kids", fail())) match {
              case kids: Seq[_] => kids.foreach(walk(_, depth + 1))
              case _ => fail()
            }
          case Some(Name("Page")) =>
            pages += 1
            if (pages > MaxPages) fail()
            d.get("Contents").foreach { c =>
              val refs: Seq[Any] = resolveShallow(c) match {
                case seq: Seq[_] => seq
                case one => Seq(one)
              }
              refs.foreach { r =>
                val num = r match {
                  case Ref(n, _) => n
                  case _ => fail()
                }
                val (v, raw) = obj(num)
                if (raw == null) fail()
                val dec = decodeStream(
                  v.asInstanceOf[scala.collection.mutable.LinkedHashMap[String, Any]], raw)
                decodedBytes += dec.length
                if (decodedBytes > MaxTextBytes.toLong * 2) fail()
                out += dec
              }
            }
          case _ => fail()
        }
      }
      // /Contents may be a direct array of refs or one ref; resolve only
      // one level so the refs themselves stay refs
      walk(pagesRef, 0)
      out.toSeq
    }

    private def resolveShallow(v: Any): Any = v match {
      case r: Ref => obj(r.num)._1 match {
        case seq: Seq[_] => seq
        case _ => v // a content STREAM object: keep the ref
      }
      case other => other
    }
  }

  // ------------------------------------------------------- content → text
  private def extractOps(content: Array[Byte], sb: java.lang.StringBuilder): Unit = {
    val cp = new P(content, 0)
    var lastStr: StrLit = null
    var lastArr: Seq[Any] = null
    @inline def newline(): Unit = {
      val n = sb.length
      if (n > 0 && sb.charAt(n - 1) != '\n') sb.append('\n')
    }
    def emit(s: StrLit): Unit = {
      sb.append(new String(s.bytes, "ISO-8859-1"))
      if (sb.length > MaxTextBytes) fail()
    }
    while ({ cp.ws(); !cp.atEnd }) {
      val c = cp.u8(cp.p)
      if (c == '(') lastStr = cp.parseLiteralString()
      else if (c == '[') {
        lastArr = cp.parseObj(0).asInstanceOf[Seq[Any]]
      } else if (c == '<') {
        if (cp.p + 1 < content.length && cp.u8(cp.p + 1) == '<') cp.parseObj(0)
        else lastStr = cp.parseHexString()
      } else if (c == '/') cp.parseName()
      else if (c == '-' || c == '+' || c == '.' || (c >= '0' && c <= '9'))
        cp.parseNumber()
      else {
        // operator (or ' / " which start with a delimiter-free char? they
        // are regular tokens in PDF syntax)
        val s = cp.p
        while (!cp.atEnd && !cp.isWs(cp.u8(cp.p)) && !cp.isDelim(cp.u8(cp.p)))
          cp.p += 1
        if (cp.p == s) fail()
        val op = new String(content, s, cp.p - s, "ISO-8859-1")
        op match {
          case "Tj" => if (lastStr != null) emit(lastStr)
          case "'" => newline(); if (lastStr != null) emit(lastStr)
          case "\"" => newline(); if (lastStr != null) emit(lastStr)
          case "TJ" =>
            if (lastArr != null) lastArr.foreach {
              case s: StrLit => emit(s)
              case _ => // kerning numbers: ignored
            }
          case "Td" | "TD" | "T*" => newline()
          case _ => // all other operators: no text effect
        }
        lastStr = null
        lastArr = null
      }
    }
  }

  /** `pdf_text(binary)` → extracted text or null (outside the subset).
    *
    * Extract visible text, or null on anything outside the subset. */
  def extract(b: Array[Byte]): UTF8String = {
    try {
      val doc = new Doc(b)
      doc.load()
      val sb = new java.lang.StringBuilder
      var first = true
      doc.pageStreams().foreach { content =>
        if (!first && sb.length > 0 && sb.charAt(sb.length - 1) != '\n')
          sb.append('\n')
        first = false
        extractOps(content, sb)
      }
      UTF8String.fromString(sb.toString)
    } catch {
      case Corrupt => null
      case _: ClassCastException => null
      case _: ArrayIndexOutOfBoundsException => null
      case _: NumberFormatException => null
      case _: StackOverflowError => null
    }
  }

  // ------------------------------------------------------------- the writer

  /** `pdf_doc(binary)` → one deterministic single-page PDF.
    *
    * One deterministic single-page PDF around `text` (Latin-1 bytes):
    * catalog → pages → page → Flate content stream with one `Td` and a
    * `Tj` per line (lines joined by `T*`), byte-exact xref offsets.
    */
  def write(text: Array[Byte]): Array[Byte] = {
    val s = new String(text, "ISO-8859-1")
    val esc = s.flatMap {
      case '\\' => "\\\\"
      case '(' => "\\("
      case ')' => "\\)"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case ch => ch.toString
    }
    val content = s"BT /F1 12 Tf 72 720 Td ($esc) Tj ET"
    val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, false)
    deflater.setInput(content.getBytes("ISO-8859-1"))
    deflater.finish()
    val cbuf = new java.io.ByteArrayOutputStream(content.length / 2 + 32)
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) cbuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val flate = cbuf.toByteArray

    val out = new java.io.ByteArrayOutputStream(flate.length + 640)
    def w(str: String): Unit = out.write(str.getBytes("ISO-8859-1"))
    val offsets = new Array[Int](6)
    w("%PDF-1.4\n")
    offsets(1) = out.size
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    offsets(2) = out.size
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    offsets(3) = out.size
    w("3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >> endobj\n")
    offsets(4) = out.size
    w(s"4 0 obj << /Length ${flate.length} /Filter /FlateDecode >> stream\n")
    out.write(flate, 0, flate.length)
    w("\nendstream endobj\n")
    offsets(5) = out.size
    w("5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n")
    val xrefAt = out.size
    w("xref\n0 6\n")
    w("0000000000 65535 f \n")
    (1 to 5).foreach(i => w(f"${offsets(i)}%010d 00000 n \n"))
    w(s"trailer << /Size 6 /Root 1 0 R >>\nstartxref\n$xrefAt\n")
    w("%%EOF\n")
    out.toByteArray
  }
}
