package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType}

/** `png_encode_gray(grays, w, h)` → a real zlib-compressed PNG (8-bit
  * truecolor with r=g=b, via [[graft.vesc.Png.encode]]'s JDK Deflater)
  * holding the row-major gray raster. Null when the array length doesn't
  * match w×h or a value is outside 0..255.
  *
  * This is the encode half of the multimodal seam: paired with
  * [[ImageHash]]'s PNG decode it lets a query materialize REAL compressed
  * image bytes from table data scan-side — the shape of a pipeline that
  * writes thumbnails next to embeddings — and the mm_image_png gate
  * round-trips it against an oracle that replays only the raster
  * arithmetic (the decoder's byte-level correctness is pinned separately
  * against an independent python-zlib encoder in ImagePixelSpec).
  */
case class PngEncodeGray(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "png_encode_gray"
  override def checkInputDataTypes() =
    if (first.dataType.isInstanceOf[ArrayType] &&
        first.dataType.asInstanceOf[ArrayType].elementType == IntegerType &&
        second.dataType == IntegerType && third.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (array<int>, int, int)")
  override def nullSafeEval(a: Any, w: Any, h: Any): Any =
    PngEncodeGray.encode(a.asInstanceOf[ArrayData],
      w.asInstanceOf[Int], h.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, w, h) => s"""
      ${ev.value} = graft.functions.PngEncodeGray.encode($a, $w, $h);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): PngEncodeGray = copy(first = f, second = s, third = t)
}

object PngEncodeGray {

  def encode(grays: ArrayData, w: Int, h: Int): Array[Byte] = {
    if (w < 1 || h < 1 || w > 4096 || h > 4096) return null
    if (grays.numElements() != w * h) return null
    val px = new Array[Int](w * h)
    var i = 0
    while (i < px.length) {
      if (grays.isNullAt(i)) return null
      val v = grays.getInt(i)
      if (v < 0 || v > 255) return null
      px(i) = (v << 16) | (v << 8) | v
      i += 1
    }
    graft.vesc.Png.encode(w, h, px)
  }
}
