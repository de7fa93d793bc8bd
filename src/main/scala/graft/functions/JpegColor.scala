package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** `jpeg_color_stats(binary)` → `struct<width, height, y_mean_milli,
  * cb_mean_milli, cr_mean_milli, colorfulness_milli, n_blocks_y,
  * n_blocks_c>`, or null — per-image integer color statistics from the
  * baseline-JPEG DC coefficients ([[JpegDecode.decodeColor]]).
  *
  * This is the solid-color / grayscale-thumbnail gate of image
  * curation (LAION-style pipelines drop near-monochrome images before
  * paying for embedding): the chroma Huffman walk the luma decoder
  * already runs to stay in sync is lifted to dequantized DC block
  * means — three integer adds per block, no chroma IDCT, no color
  * conversion. Means are milli-units of the 0–255 sample scale over
  * all CODED blocks (pad blocks of partial MCUs included — the coded
  * stream is the statistic); `colorfulness_milli` is the mean absolute
  * chroma DC deviation from neutral. Grayscale JPEGs report neutral
  * chroma and colorfulness 0. Progressive and non-interleaved color
  * files return null (not-decodable-here, the shared contract).
  *
  * All-integer arithmetic (block mean = dc·q₀·125 + 128000, truncating
  * means) so a DuckDB oracle replays the statistics exactly.
  */
object JpegColorStats {

  val schema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("y_mean_milli", LongType, nullable = false),
    StructField("cb_mean_milli", LongType, nullable = false),
    StructField("cr_mean_milli", LongType, nullable = false),
    StructField("colorfulness_milli", LongType, nullable = false),
    StructField("n_blocks_y", LongType, nullable = false),
    StructField("n_blocks_c", LongType, nullable = false)))

  def eval(b: Array[Byte]): GenericInternalRow = {
    val st = JpegDecode.decodeColor(b)
    if (st == null) null
    else new GenericInternalRow(Array[Any](st.w, st.h, st.yMeanMilli,
      st.cbMeanMilli, st.crMeanMilli, st.colorfulnessMilli,
      st.nBlocksY, st.nBlocksC))
  }
}

/** `jpeg_rgb_stats(binary)` → `struct<width, height, n_px, r_mean_milli,
  * g_mean_milli, b_mean_milli, sat_mean_milli, rg_abs_mean_milli,
  * yb2_abs_mean_milli>`, or null — FULL per-pixel color statistics from
  * the complete baseline decode (chroma AC + IDCT + nearest-neighbor
  * upsample + milli-integer JFIF YCbCr→RGB; [[JpegDecode.decodeRgb]]).
  *
  * This is the colorfulness/saturation gate the DC-only
  * [[JpegColorStats]] approximates: `sat` is max(R,G,B)−min(R,G,B) per
  * pixel, `rg`/`yb2` are the opponent axes |R−G| and |R+G−2B| — the
  * sqrt-free Hasler–Süsstrunk-style signal. All-integer accumulation
  * with truncating mean division; real-file agreement with the JDK
  * ImageIO decoder is pinned in JpegRgbStatsSpec.
  */
object JpegRgbStats {

  val schema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_px", LongType, nullable = false),
    StructField("r_mean_milli", LongType, nullable = false),
    StructField("g_mean_milli", LongType, nullable = false),
    StructField("b_mean_milli", LongType, nullable = false),
    StructField("sat_mean_milli", LongType, nullable = false),
    StructField("rg_abs_mean_milli", LongType, nullable = false),
    StructField("yb2_abs_mean_milli", LongType, nullable = false)))

  def eval(b: Array[Byte]): GenericInternalRow = {
    val st = JpegDecode.decodeRgb(b)
    if (st == null || st.nPx == 0) null
    else new GenericInternalRow(Array[Any](st.w, st.h, st.nPx,
      st.sumR / st.nPx, st.sumG / st.nPx, st.sumB / st.nPx,
      st.sumSat / st.nPx, st.sumAbsRg / st.nPx, st.sumAbsYb2 / st.nPx))
  }
}
