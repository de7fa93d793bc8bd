package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** ICO (Windows icon / favicon) directory walk — every crawled site
  * ships one, and favicon fingerprinting is a standard site-identity /
  * phishing-detection signal, so the metadata walk belongs on the
  * crawl read surface next to [[ImageHeader]].
  *
  * `ico_entries(binary)` — ICONDIR (reserved 0, type 1, count ≥ 1)
  * then 16-byte ICONDIRENTRYs: stored width/height bytes (0 means
  * 256 — the famous quirk), bit depth, payload size + offset; each
  * payload is sniffed as embedded PNG (magic) vs classic
  * BITMAPINFOHEADER DIB (biSize 40; its stored height is DOUBLED for
  * the AND mask — parsed but not surfaced). Whole-or-refuse: bad
  * reserved/type, zero count, an entry whose payload runs past the
  * blob, or a DIB payload whose header isn't 40 bytes refuse the
  * whole file with null. Per-entry rows, scan-side, zero shuffle.
  */
object IcoMeta {

  val entrySchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("bpp", IntegerType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("is_png", BooleanType, nullable = false)))
  val entriesType: DataType = ArrayType(entrySchema, containsNull = false)

  import Bytes.{Corrupt, fail}

  /** `ico_entries(binary)` → per-image rows or null (refused). */
  def entries(buf: Array[Byte]): GenericArrayData =
    try {
      if (buf.length < 6) fail()
      val in = new Bytes.Window(buf)
      if (in.le16(0) != 0 || in.le16(2) != 1) fail()
      val n = in.le16(4).toInt
      if (n == 0) fail()
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        val e = 6 + 16 * i
        if (e + 16 > buf.length) fail()
        val w0 = buf(e) & 0xFF
        val h0 = buf(e + 1) & 0xFF
        val bpp = in.le16(e + 6).toInt
        val size = in.le32(e + 8)
        val off = in.le32(e + 12)
        if (size < 4 || off + size > buf.length) fail()
        val p = off.toInt
        val isPng = size >= 8 &&
          (buf(p) & 0xFF) == 0x89 && buf(p + 1) == 'P' &&
          buf(p + 2) == 'N' && buf(p + 3) == 'G'
        if (!isPng && in.le32(p) != 40L) fail() // classic DIB only
        out(i) = new GenericInternalRow(Array[Any](
          if (w0 == 0) 256 else w0, if (h0 == 0) 256 else h0,
          bpp, size, isPng))
        i += 1
      }
      new GenericArrayData(out)
    } catch { case Corrupt => null }
}
