package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

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
