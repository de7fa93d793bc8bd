package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: images / audio / video ride as opaque
  * `binary` columns with typed metadata structs, processed by partition-wise
  * batch functions (the Scala analog of `mapInPandas` — one JVM call per
  * batch of rows, vectorizable inside).
  *
  * The decode story has two layers:
  *
  *  - '''header decode is REAL''': [[graft.functions.ImageHeader.parse]] parses
  *    actual PNG/JPEG/GIF/BMP container headers (dimensions + format) as a
  *    codegen'd scan-side expression — the decision data (route, filter,
  *    size-bucket) a curation pipeline needs before paying for pixels.
  *  - '''pixel decode is a pluggable seam''': full JPEG/audio/video
  *    decoding needs native codec libraries that are intentionally NOT
  *    part of this engine; [[decodeFeatures]] takes any `Decoder` and the
  *    default is a deterministic stub, so the Spark-side contract —
  *    schema, batch shape, partitioning, null behavior — is real and
  *    tested end-to-end.
  */
object MultimodalOps {

  /** Band-sign audio fingerprints over a mel spectrogram
    * (`array<array<long>>` from `audio_mel_frames`) — the
    * Chromaprint-family posture on the speech grain: per frame, bit m =
    * band m's energy ROSE against the previous frame (strict >, frame 0
    * contributes zero bits). The temporal-delta sign survives uniform
    * gain changes (both frames scale together — the re-encoded-loudness
    * invariance) while staying noise-diverse; a within-frame band
    * ORDERING rule does not discriminate at all, because mel triangle
    * widths dominate any flat-ish spectrum and every clip then shares
    * one sign pattern (measured: 16k pairs for 500 docs). 8 consecutive
    * frames pack into one 64-bit per-window fingerprint (bit =
    * frame-in-window·8 + band), assembled from lo/hi 32-bit halves with
    * the sign-fix idiom so neither engine nor oracle overflows a signed
    * sum. Emits (id, win, fp) — the signature audio near-dup bands on.
    * Pure integer column composition: the delta bits are a scan-side
    * array transform (no window function), then one hash aggregation
    * keyed by (id, window).
    */
  def audioFingerprints(df: DataFrame, idCol: String,
                        framesCol: String): DataFrame = {
    val nm = graft.functions.AudioMel.NumMels // 8 bands = 8 bits/frame
    val bitsSql = (0 until nm).map(m =>
      s"CASE WHEN __sg[f][$m] > __sg[f - 1][$m] THEN ${1L << m}L " +
        "ELSE 0L END").mkString(" + ")
    // `sequence(0, -1)` is DESCENDING ([0,-1]) — an empty spectrogram
    // must emit no fingerprint rows, not two spurious zeros.
    df.select(col(idCol), col(framesCol).as("__sg"))
      .where(expr("size(__sg) > 0"))
      .select(col(idCol), posexplode(expr(
        "transform(sequence(0, size(__sg) - 1), f -> " +
          s"CASE WHEN f = 0 THEN 0L ELSE $bitsSql END)"))
        .as(Seq("__f", "__bits")))
      .groupBy(col(idCol), expr("__f div 8").as("win"))
      .agg(
        sum(expr("CASE WHEN __f % 8 < 4 THEN shiftleft(__bits, " +
          "cast(8 * (__f % 8) as int)) ELSE 0L END")).as("__lo"),
        sum(expr("CASE WHEN __f % 8 >= 4 THEN shiftleft(__bits, " +
          "cast(8 * (__f % 8 - 4) as int)) ELSE 0L END")).as("__hi"))
      .select(col(idCol), col("win"),
        (when(col("__hi") >= lit(2147483648L), col("__hi") - lit(4294967296L))
          .otherwise(col("__hi")) * lit(4294967296L) + col("__lo")).as("fp"))
  }

  /** A decode hook: bytes → fixed-size feature vector. */
  type Decoder = Array[Byte] => Array[Float]

  /** Deterministic stand-in for a real image/audio decoder (the container
    * has no codec libs): hashes byte windows into a `dim`-length vector.
    * Replace with a real codec-backed decoder in production.
    */
  def stubDecoder(dim: Int): Decoder = (bytes: Array[Byte]) => {
    val out = new Array[Float](dim)
    if (bytes.nonEmpty) {
      var i = 0
      while (i < bytes.length) {
        out(i % dim) += (bytes(i) & 0xff) / 255.0f
        i += 1
      }
      var d = 0
      while (d < dim) { out(d) = out(d) / (bytes.length / dim.toFloat + 1f); d += 1 }
    }
    out
  }

  /** Partition-wise decode of a binary column into an `array<float>`
    * feature column — the mapInPandas-shaped seam: the decoder is invoked
    * once per row inside a partition iterator, so a vectorized/native
    * implementation amortizes setup per partition, not per row.
    *
    * Typed `Dataset.mapPartitions` with a Row encoder — NOT `df.rdd` +
    * `createDataFrame`, which would leave Tungsten, box every row, and
    * insert an analysis barrier around the seam.
    */
  def decodeFeatures(df: DataFrame, binCol: String, dim: Int,
                     decoder: Decoder): DataFrame = {
    require(decoder != null,
      "decodeFeatures requires an explicit decoder; pass stubDecoder(dim) " +
        "deliberately if you want the deterministic hash stand-in")
    val dec = decoder
    val outSchema = StructType(df.schema.fields :+
      StructField(binCol + "_features", ArrayType(FloatType), nullable = true))
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { it =>
      it.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        val feats = if (bytes == null) null else dec(bytes).toSeq
        Row.fromSeq(row.toSeq :+ feats)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}
