package graft.vesc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.TimeSeriesOps

/** The declarative Spark plans that [[RidePass]] replaced, kept verbatim as
  * test oracles: the resampler (window functions over `TimeSeriesOps`), the
  * window assembler (a `rowsBetween(0, 29)` frame per grid row), the
  * display post-processing and its conflict suppression, and the analysis
  * composed from them with the reader's numbering. RidePassSpec compares
  * the production functions with these on raw double bits.
  */
object DeclarativeOracle {

  /** The production analysis as it was composed from the plans below. */
  def analyze(spark: SparkSession, rawPaths: Seq[String],
              weights: CnnScorer.CnnWeights,
              mean: Array[Double], std: Array[Double]): DataFrame = {
    val raw = RawLogReader.readProd(spark, rawPaths)
    val grid = prodResample(raw.withColumn("ride_id",
      coalesce(col("ride_id"), lit("prod"))))
    val windows = assemble(grid.withColumn("ride_id", lit("prod")))
    val scored = CnnScorer.score(windows, weights, mean, std)
    displayTimeline(scored)
  }

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
    Resampler.reorder(out.drop("is_real"), VescSchema.TrainingOutputOrder)
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
    Resampler.reorder(out.drop("is_real"), VescSchema.ProdOutputOrder)
  }

  def assemble(df: DataFrame,
               featureCols: Seq[String] = VescSchema.FeatureCols,
               confCols: Seq[String] = VescSchema.ConfidenceCols,
               windowSteps: Int = 30, strideSteps: Int = 5,
               minValidRatio: Double = VescSchema.MinValidRatio): DataFrame = {
    val feats = featureCols.filter(df.columns.contains)
    val confs = confCols.filter(df.columns.contains)
    val w = Window.partitionBy(col("ride_id")).orderBy(col("sample_idx"))
      .rowsBetween(0, windowSteps - 1)
    val wAll = Window.partitionBy(col("ride_id"))

    val validPerRow = feats.map(c =>
      when(col(c).isNotNull && !isnan(col(c)), 1).otherwise(0)).reduce(_ + _)

    val confAggs = confs.flatMap(c => Seq(
      sum(when(isnan(col(c)), lit(null)).otherwise(col(c))).over(w).as(s"__sum_$c"),
      count(when(isnan(col(c)), lit(null)).otherwise(col(c))).over(w).as(s"__cnt_$c")))

    val base = df.select(
      Seq(col("ride_id"), col("sample_idx"), col("ms_today")) ++
        Seq(
          collect_list(array(feats.map(c => col(c).cast("double")): _*)).over(w).as("__feat"),
          collect_list(col("ms_today")).over(w).as("__ms"),
          sum(validPerRow).over(w).as("__valid"),
          count(lit(1)).over(w).as("__n"),
          count(lit(1)).over(wAll).as("__total")) ++ confAggs: _*)

    val cells = lit(windowSteps * feats.size)
    val sortedMs = array_sort(col("__ms"))
    val med =
      if (windowSteps % 2 == 0)
        (element_at(sortedMs, windowSteps / 2).cast("double") +
          element_at(sortedMs, windowSteps / 2 + 1).cast("double")) / 2.0
      else element_at(sortedMs, windowSteps / 2 + 1).cast("double")

    val labelMeans = confs.map(c =>
      (coalesce(col(s"__sum_$c"), lit(0.0)) /
        greatest(col(s"__cnt_$c"), lit(1L)).cast("double")).as("y_" + c))

    base
      .filter(pmod(col("sample_idx"), lit(strideSteps)) === 0)
      .filter(col("sample_idx") + windowSteps <= col("__total"))
      .filter(col("__n") === windowSteps)
      .withColumn("valid_ratio", col("__valid").cast("double") / cells)
      .filter(col("valid_ratio") >= minValidRatio)
      .select(
        Seq(col("ride_id"), col("sample_idx").as("window_start"),
          med.as("t_mid"), col("valid_ratio"), col("__feat").as("features")) ++
          labelMeans: _*)
  }

  /** Rebase t_mid (ms) to seconds from the per-ride start. */
  def rebaseSeconds(scored: DataFrame): DataFrame = {
    val wAll = Window.partitionBy(col("ride_id"))
    scored.withColumn("tsec",
      (col("t_mid") - min(col("t_mid")).over(wAll)) / 1000.0)
  }

  /** Display downsample: consecutive blocks of `step` windows are averaged;
    * step = round(0.5 / median(diff tsec)); the tail remainder is dropped
    * (reference app.py:221-243). The per-ride median spacing (exact
    * `percentile` over the ride's diffs) and the ride's row count are
    * window aggregates over the ride partition the diffs were computed in,
    * so the scored input is read once: no aggregate joined back.
    */
  def downsampleForDisplay(scored: DataFrame, scoreCols: Seq[String],
                           displayDt: Double = 0.5): DataFrame = {
    val w = Window.partitionBy(col("ride_id")).orderBy(col("tsec"))
    val wAll = Window.partitionBy(col("ride_id"))
    val withDiff = scored.select(col("*"),
      (col("tsec") - lag(col("tsec"), 1).over(w)).as("__diff"),
      (row_number().over(w) - 1).as("__rn"))
    val step = greatest(lit(1),
      round(lit(displayDt) / percentile(col("__diff"), lit(0.5)).over(wAll)).cast("int"))
    val blocks = withDiff
      .select(col("*"), step.as("__step"), count(lit(1)).over(wAll).as("__n"))
      .filter(col("__rn") < (col("__n") - pmod(col("__n"), col("__step"))))
      .withColumn("__block", (col("__rn") / col("__step")).cast("long"))
    blocks
      .groupBy(col("ride_id"), col("__block"))
      .agg(avg(col("tsec")).as("tsec"),
        scoreCols.map(c => avg(col(c)).as(c)): _*)
      .drop("__block")
  }

  /** Full display pipeline: rebase → suppress conflicts → downsample. */
  def displayTimeline(scored: DataFrame): DataFrame = {
    val scoreCols = scored.columns.filter(_.startsWith("score_")).toSeq
    val renamed = scored.withColumnsRenamed(
      scoreCols.map(c => c -> ("cf_" + c.stripPrefix("score_"))).toMap)
    val cfCols = VescSchema.ConfidenceCols.filter(renamed.columns.contains)
    val suppressed = suppressConflicts(renamed)
    downsampleForDisplay(rebaseSeconds(suppressed), cfCols)
  }

  /** Display-time conflict suppression (reference
    * apply_behavior_conflict_suppression, application/app.py:170-219):
    * groups applied sequentially; within a group the argmax (first-index
    * tie-break) keeps its score, the rest go to 0.
    */
  def suppressConflicts(df: DataFrame,
                        groups: Seq[Seq[String]] =
                          VescSchema.DisplayConflictGroups): DataFrame =
    groups.foldLeft(df) { (acc, group) =>
      val present = group.filter(acc.columns.contains)
      if (present.size <= 1) acc
      else {
        // np.argmax keeps the FIRST maximal column; a later column only
        // wins if strictly greater than every earlier one.
        val isWinner: Seq[Column] = present.zipWithIndex.map { case (c, i) =>
          val earlier = present.take(i)
          val later = present.drop(i + 1)
          val beatsEarlier = earlier.map(e => col(c) > col(e))
            .foldLeft(lit(true))(_ && _)
          val geLater = later.map(l => col(c) >= col(l))
            .foldLeft(lit(true))(_ && _)
          beatsEarlier && geLater
        }
        val updated = present.zip(isWinner).map { case (c, win) =>
          c -> when(win, col(c)).otherwise(lit(0.0))
        }.toMap
        acc.select(acc.columns.map(c =>
          updated.get(c).map(_.as(c)).getOrElse(col(c))): _*)
      }
    }
}
