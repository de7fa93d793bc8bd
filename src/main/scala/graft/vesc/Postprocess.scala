package graft.vesc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Timeline post-processing (reference application/app.py:150-243):
  * time rebase to seconds-from-start (F14), display conflict suppression
  * (R3), and 0.5-second block downsampling (A6, remainder truncated).
  */
object Postprocess {

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
    val suppressed = ExclusivityRules.suppressConflicts(renamed)
    downsampleForDisplay(rebaseSeconds(suppressed), cfCols)
  }
}
