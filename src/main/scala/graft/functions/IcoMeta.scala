package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
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

  private object Corrupt extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }
  @inline private def fail(): Nothing = throw Corrupt

  @inline private def u16(b: Array[Byte], p: Int): Int = {
    if (p < 0 || p + 2 > b.length) fail()
    (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)
  }
  @inline private def u32(b: Array[Byte], p: Int): Long = {
    if (p < 0 || p + 4 > b.length) fail()
    (b(p) & 0xFFL) | ((b(p + 1) & 0xFFL) << 8) |
      ((b(p + 2) & 0xFFL) << 16) | ((b(p + 3) & 0xFFL) << 24)
  }

  def entries(buf: Array[Byte]): GenericArrayData =
    try {
      if (buf.length < 6) fail()
      if (u16(buf, 0) != 0 || u16(buf, 2) != 1) fail()
      val n = u16(buf, 4)
      if (n == 0) fail()
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        val e = 6 + 16 * i
        if (e + 16 > buf.length) fail()
        val w0 = buf(e) & 0xFF
        val h0 = buf(e + 1) & 0xFF
        val bpp = u16(buf, e + 6)
        val size = u32(buf, e + 8)
        val off = u32(buf, e + 12)
        if (size < 4 || off + size > buf.length) fail()
        val p = off.toInt
        val isPng = size >= 8 &&
          (buf(p) & 0xFF) == 0x89 && buf(p + 1) == 'P' &&
          buf(p + 2) == 'N' && buf(p + 3) == 'G'
        if (!isPng && u32(buf, p) != 40L) fail() // classic DIB only
        out(i) = new GenericInternalRow(Array[Any](
          if (w0 == 0) 256 else w0, if (h0 == 0) 256 else h0,
          bpp, size, isPng))
        i += 1
      }
      new GenericArrayData(out)
    } catch { case Corrupt => null }
}

/** `ico_entries(binary)` → per-image rows or null (refused). */
case class IcoEntriesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IcoMeta.entriesType
  override def nullable: Boolean = true
  override def prettyName: String = "ico_entries"
  override def checkInputDataTypes() =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs binary, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any =
    IcoMeta.entries(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.IcoMeta.entries($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(newChild: Expression): IcoEntriesExpr =
    copy(child = newChild)
}
