package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** AVIF / HEIF image metadata — the ISOBMFF-packaged image formats
  * modern web image corpora are shifting toward (AVIF especially):
  * dimension gates and format statistics need the header walk even
  * though the AV1/HEVC payload decode stays out of scope (the
  * [[VideoHeader]] metadata-only posture).
  *
  * `avif_meta(binary)` — ISO-BMFF box walk per ISO/IEC 14496-12 +
  * 23008-12 (HEIF): `ftyp` (major brand must be an image brand —
  * avif/avis/heic/heix/mif1), then the `meta` FULL box (4
  * version/flags bytes after the header — the classic trap) →
  * `iprp` → `ipco` → the FIRST `ispe` full box (spatial extents:
  * u32 width/height). Whole-or-refuse: missing/odd ftyp, a non-image
  * major brand, box sizes that escape their parent, or a missing
  * `ispe` are null, never a guess. Output (brand, width, height);
  * scan-side, reads only box headers.
  */
object AvifMeta {

  val schema: StructType = StructType(Seq(
    StructField("brand", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  private val ImageBrands = Set("avif", "avis", "heic", "heix", "mif1")

  @inline private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  /** First child box of `name` within [from, to); -1 when absent. */
  private def findBox(b: Array[Byte], from: Int, to: Int,
                      name: String): Int = {
    var p = from
    while (p + 8 <= to) {
      val size = Bytes.be32(b, p)
      if (size < 8 || p + size > to) return -1
      if (fourcc(b, p + 4) == name) return p
      p += size.toInt
    }
    -1
  }

  /** `avif_meta(binary)` → (brand, width, height) or null (refused). */
  def meta(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 16) return null
    // ftyp must come first
    val ftypSize = Bytes.be32(b, 0)
    if (ftypSize < 16 || ftypSize > b.length || fourcc(b, 4) != "ftyp")
      return null
    val brand = fourcc(b, 8)
    if (!ImageBrands.contains(brand)) return null
    val metaAt = findBox(b, ftypSize.toInt, b.length, "meta")
    if (metaAt < 0) return null
    val metaEnd = metaAt + Bytes.be32(b, metaAt).toInt
    // meta is a FULL box: 4 version/flags bytes after the header
    val iprpAt = findBox(b, metaAt + 12, metaEnd, "iprp")
    if (iprpAt < 0) return null
    val iprpEnd = iprpAt + Bytes.be32(b, iprpAt).toInt
    val ipcoAt = findBox(b, iprpAt + 8, iprpEnd, "ipco")
    if (ipcoAt < 0) return null
    val ipcoEnd = ipcoAt + Bytes.be32(b, ipcoAt).toInt
    val ispeAt = findBox(b, ipcoAt + 8, ipcoEnd, "ispe")
    if (ispeAt < 0) return null
    val ispeSize = Bytes.be32(b, ispeAt)
    if (ispeSize < 20 || ispeAt + 20 > ipcoEnd) return null
    // ispe is a full box: version/flags, then u32 width, u32 height
    val w = Bytes.be32(b, ispeAt + 12)
    val h = Bytes.be32(b, ispeAt + 16)
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) return null
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(brand), w.toInt, h.toInt))
  }
}
