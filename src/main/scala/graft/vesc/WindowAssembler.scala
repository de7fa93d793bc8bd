package graft.vesc

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sliding feature-window assembly (reference W11/A2/A3/P9:
  * model/vesc_dataset.py:103-160): 30-step windows, 5-step stride, per ride,
  * windows crossing end-of-log dropped, windows below 70% finite cells
  * dropped, per-window null-ignoring label means (all-null → 0.0).
  *
  * One exchange on `ride_id`, one sort on (ride_id, sample_idx) and one
  * [[RidePass.perRide]] pass that visits only the stride-aligned starts
  * ([[RidePass.windows]]): each kept window's (30 × C) matrix, validity
  * ratio, label means ([[RidePass.labelMean]]) and median timestamp are
  * built from the ride's rows directly.
  */
object WindowAssembler {

  /** Rows per window (3 s at 10 Hz) and between window starts (0.5 s). */
  val Steps: Int = 30
  val Stride: Int = 5

  /** Output: ride_id, window_start (the start row's sample_idx), t_mid,
    * valid_ratio, features (`windowSteps` rows of the features as
    * doubles, a missing cell null — the scorer's ffill + zero-fill,
    * reference model/vesc_dataset.py:134-137, happens in
    * [[CnnScorer.fillWindow]]) and one `y_<label>` mean per label.
    */
  def assemble(df: DataFrame,
               featureCols: Seq[String] = VescSchema.FeatureCols,
               confCols: Seq[String] = VescSchema.ConfidenceCols,
               windowSteps: Int = Steps, strideSteps: Int = Stride,
               minValidRatio: Double = VescSchema.MinValidRatio): DataFrame = {
    val feats = featureCols.filter(df.columns.contains)
    val confs = confCols.filter(df.columns.contains)
    val input = df.select(Seq(col("ride_id"), col("sample_idx"), col("ms_today")) ++
      (feats ++ confs).map(c => col(c).cast(DoubleType)): _*)
    val out = StructType(Seq(input.schema(0),
      input.schema(1).copy(name = "window_start"),
      StructField("t_mid", DoubleType),
      StructField("valid_ratio", DoubleType),
      StructField("features", ArrayType(ArrayType(DoubleType), containsNull = false),
        nullable = false)) ++
      confs.map(c => StructField("y_" + c, DoubleType)))
    val f0 = 3
    val y0 = f0 + feats.size

    RidePass.perRide(input, Seq(col("sample_idx")), out) { rows =>
      val n = rows.length
      val from = rows.indexWhere(!_.isNullAt(1)) match { case -1 => n; case i => i }
      val idx = rows.map(r => if (r.isNullAt(1)) 0L else r.getAs[Number](1).longValue).toArray
      val finite = RidePass.finiteCells(feats.indices.map(i => RidePass.Col.of(rows, f0 + i)), n)
      val w = RidePass.windows(idx, from, RidePass.Col.of(rows, 2), finite, feats.size,
        windowSteps, strideSteps, minValidRatio)
      val labels = confs.indices.map(i => RidePass.Col.of(rows, y0 + i))
      Iterator.range(0, w.length).map { i =>
        val k = w.start(i)
        val matrix = rows.slice(k, k + windowSteps).map(_.toSeq.slice(f0, y0))
        Row.fromSeq(Seq(rows(k).get(0), rows(k).get(1), w.tMid(i), w.validRatio(i), matrix) ++
          labels.map(RidePass.labelMean(_, k, windowSteps)))
      }
    }
  }
}
