package graft.vesc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.TimeSeriesOps

/** 10 Hz sample-rate normalization — the computational heart of the pipeline
  * (reference normalize_sample_rate: training_preprocessing.py:101-236,
  * prod_preprocessing.py:35-153).
  *
  * Steps, all per-`ride_id` (one shuffle on the series key; every window
  * function shares the same (ride_id, ms_today) sort, so Spark runs them in
  * two WindowExec passes — forward and backward frames):
  *
  *  1. keep-first dedup on ms_today in file order (P6 — order-defined)
  *  2. 100 ms grid from first to last timestamp (W4) aligned with the
  *     original instants (J1), in one pass: `sequence`+`explode` of the grid
  *     instants between consecutive samples
  *  3. index-weighted linear interpolation, both-direction edge fill (W6)
  *  4. strict-`>` 250 ms gap voiding of synthetic on-grid rows (W7/W8/P10)
  *  5. grid filter + elapsed counter + timestamp rebuild + renumber
  *     (P7/W9/W10/W3) and normative column order (P3)
  *
  * Deliberate deviation from the reference: `ride_id` stays populated on
  * every output row (the reference's reindex leaves it null on inserted
  * rows — a pandas artifact flagged in FIXTURES.md; the engine needs it as
  * the partition key).
  */
object Resampler {

  /** @param interpCols   numeric channels to interpolate
    * @param carryCols    per-ride constants to carry onto synthetic rows
    *                     (ride_id is always carried)
    * @param passCols     columns kept but NOT interpolated (null on
    *                     synthetic rows): protected + cf_* labels
    */
  def resample10Hz(df: DataFrame, interpCols: Seq[String], passCols: Seq[String],
                   stepMs: Long = VescSchema.StepMs,
                   maxGapMs: Double = VescSchema.MaxGapMs): DataFrame = {
    val key = Seq("ride_id")
    val deduped = TimeSeriesOps.dedupKeepFirst(
      df, Seq("ride_id", "ms_today"), col("sample_idx"))

    // grid ∪ original align (W4 + J1). ms_today is the long tick.
    val aligned = TimeSeriesOps.gridAlign(
      deduped.withColumn("ms_today", col("ms_today").cast("long")),
      key, "ms_today", stepMs)

    // W6: interpolate channels over the union index
    val interped = TimeSeriesOps.interpolateLinear(aligned, key, "ms_today", interpCols)

    // W7: span between neighbouring real samples
    val spanned = TimeSeriesOps.gapSpan(interped, key, "ms_today", col("is_real"))

    // W8/P10: void interpolated values in wide gaps — applies to on-grid,
    // not-real rows with finite neighbours on both sides, strict `>`
    val voidTarget = col("_on_grid") && !col("is_real") &&
      col("prev_real_tick").isNotNull && col("next_real_tick").isNotNull
    val voided = TimeSeriesOps.voidWideGaps(
      spanned, interpCols, maxGapMs.toLong, voidTarget)

    // P7 grid filter; W9 elapsed; W10 timestamp rebuild; W3 renumber
    val w = Window.partitionBy(key.map(col): _*).orderBy(col("ms_today"))
    val wAll = Window.partitionBy(key.map(col): _*)
    val gridOnly = voided
      .filter(col("_on_grid"))
      .withColumn("_elapsed_ms",
        (col("ms_today") - min(col("ms_today")).over(wAll)).cast("double"))
      .withColumn("dt_ms", lit(stepMs))
      .withColumn("sample_idx", (row_number().over(w) - 1).cast("long"))

    // rebuild event-time columns from the per-ride start + elapsed
    val withTs =
      if (df.columns.contains("ts_utc")) {
        val startUtc = min(when(col("is_real"), col("ts_utc"))).over(wAll)
        val base = gridOnly.withColumn("ts_utc",
          timestamp_millis(unix_millis(startUtc) + col("_elapsed_ms").cast("long")))
        if (df.columns.contains("ts_pst")) {
          val startPst = min(when(col("is_real"), col("ts_pst"))).over(wAll)
          base.withColumn("ts_pst",
            timestamp_millis(unix_millis(startPst) + col("_elapsed_ms").cast("long")))
        } else base
      } else gridOnly

    withTs.drop("prev_real_tick", "next_real_tick", "gap_span")
  }

  /** Training flavour: interpolate everything numeric except labels,
    * protected columns, and ms_today; order per the training layout.
    */
  def trainingResample(df: DataFrame): DataFrame = {
    val nonInterp = (VescSchema.ConfidenceCols ++ VescSchema.ProtectedCols ++
      Seq("ms_today", "ride_id", "ts_utc", "ts_pst", "video_ts_anchor", "dt_ms")).toSet
    val interpCols = df.columns.filter(c =>
      !nonInterp.contains(c) &&
        Set("double", "float", "long", "integer")
          .contains(df.schema(c).dataType.typeName)).toSeq
    val out = resample10Hz(df, interpCols,
      VescSchema.ConfidenceCols ++ VescSchema.ProtectedCols)
    reorder(out.drop("is_real"), VescSchema.TrainingOutputOrder)
  }

  /** Production flavour. */
  def prodResample(df: DataFrame): DataFrame = {
    val nonInterp = (VescSchema.ProtectedCols ++
      Seq("ms_today", "ride_id", "ts_utc")).toSet
    val interpCols = df.columns.filter(c =>
      !nonInterp.contains(c) &&
        Set("double", "float", "long", "integer")
          .contains(df.schema(c).dataType.typeName)).toSeq
    val out = resample10Hz(df, interpCols, VescSchema.ProtectedCols)
    reorder(out.drop("is_real"), VescSchema.ProdOutputOrder)
  }

  /** P3: normative order first, remaining columns appended. */
  def reorder(df: DataFrame, desired: Seq[String]): DataFrame = {
    val existing = desired.filter(df.columns.contains)
    val remaining = df.columns.filterNot(existing.contains)
    df.select((existing ++ remaining).map(col): _*)
  }
}
