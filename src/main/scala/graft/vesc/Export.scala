package graft.vesc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Rendered-deliverable export — the reference's last mile. The engine's
  * pipelines stop at TABLES (scored timeline, metric aggregates); the
  * reference user's end product is an interactive Plotly behavior timeline
  * (application/app.py:247-340) and matplotlib metric plots
  * (model/plot_metrics.py:6-43). This CLI closes the gap by emitting the
  * exact plot-ready contracts those renderers consume, so a front end (or
  * plotly.js directly) can draw the reference figures from engine output
  * without recomputing anything.
  *
  * Outputs under `<outDir>`:
  *  - `timeline.csv/` — the display timeline table (ride_id, tsec, cf_*)
  *    as a CSV sink (S6), one part per ride-partition at scale.
  *  - `timeline_bars.json` — Plotly figure JSON matching
  *    app.py:build_plotly_bars: one Bar trace per behavior with the
  *    reference color map, 0.9·display_dt bar width, confidences at or
  *    below the 0.1 display threshold nulled out, `name: v.vvv at m:ss`
  *    hover strings, overlay barmode, y range [0,1]. Built driver-side
  *    from the display table — bounded at 2 rows/sec of ride by the A6
  *    downsample, the same size the reference ships to the browser.
  *  - with `--metrics <parquet>` (columns `cf_<b>` targets + `pred_cf_<b>`
  *    predictions): `mae.csv/` (per-class masked MAE, descending — the
  *    plot_metrics.py:6-25 bar chart) and `reliability.csv/` (10 decile
  *    bins of pooled predictions vs mean target, plot_metrics.py:28-43).
  */
object Export {

  /** Reference display constants (app.py:283-306). */
  val MinDisplayThresh = 0.1
  val BarOpacity = 0.7
  val DisplayDt = 0.5

  /** Reference behavior color map (app.py:264-280). */
  val ColorMap: Map[String, String] = Map(
    "cf_accel" -> "#2ca02c", "cf_brake" -> "#ff4f00",
    "cf_turn_left" -> "#1f77b4", "cf_turn_right" -> "#92d1e8",
    "cf_carve_left" -> "#9467bd", "cf_carve_right" -> "#dcb6f5",
    "cf_ascent" -> "#e3a3ce", "cf_descent" -> "#ffbb78",
    "cf_forward" -> "#17becf", "cf_reverse" -> "#fffe7a",
    "cf_cruise" -> "#8c564b", "cf_traction_loss" -> "#ff00ff",
    "cf_idle" -> "#7f7f7f")
  val DefaultColor = "#AAAAAA"

  /** `m:ss` axis/hover format (app.py:165-168 `_fmt_mmss`). */
  def fmtMmss(x: Double): String = {
    val m = (x / 60).toInt
    val s = (x % 60).toInt
    // Locale.ROOT: the emitted JSON is a wire contract — a comma-decimal or
    // non-ASCII-digit default locale must not leak into it
    String.format(java.util.Locale.ROOT, "%d:%02d", Int.box(m), Int.box(s))
  }

  private def jstr(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def jnum(d: Double) =
    if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** A collected display timeline: its `cf_*` columns, sorted by name, and
    * one row per bar, (tsec, cf_* …) in that column order, sorted by tsec.
    */
  final case class DisplayRows(cfCols: Seq[String], rows: Array[Row])

  /** Collects a display timeline in one job. The timeline is small (2
    * rows/sec of ride after the A6 downsample), so it is sorted here
    * rather than by a range-partitioned Spark sort, which costs a
    * sampling job and a shuffle.
    */
  def displayRows(timeline: DataFrame): DisplayRows = {
    val cfCols = timeline.columns.filter(_.startsWith("cf_")).toSeq.sorted
    val rows = timeline.select((col("tsec") +: cfCols.map(col)): _*).collect()
    DisplayRows(cfCols, rows.sortBy(_.getDouble(0)))
  }

  /** Plotly figure JSON for one ride's display timeline (already rebased,
    * conflict-suppressed, downsampled — [[Postprocess.displayTimeline]]
    * output): [[displayRows]] then [[renderBars]].
    */
  def timelineBarsJson(timeline: DataFrame, stack: Boolean = false,
                       classes: Option[Seq[String]] = None): String =
    renderBars(displayRows(timeline), stack, classes)

  /** The figure for collected display rows. Behaviors with no value above
    * the display threshold still get a trace (all-null y), like the
    * reference's always-added Bar.
    *
    * `stack` mirrors the reference's "Stack bars vertically" checkbox
    * (app.py:331,355 — `barmode=("stack" if stack else "overlay")`);
    * `classes` mirrors its "Plot classes" multiselect (app.py:347):
    * when given, only the named behaviors get traces. Both default to the
    * reference's export-everything/overlay behavior so existing callers
    * (App streaming loop, CLI) are unchanged.
    */
  def renderBars(display: DisplayRows, stack: Boolean = false,
                 classes: Option[Seq[String]] = None): String = {
    val selected = classes.map(_.toSet)
    val rows = display.rows
    val tsec = rows.map(_.getDouble(0))
    val barWidth = math.max(1e-3, 0.9 * DisplayDt)
    val traces = display.cfCols.zipWithIndex.collect { case (b, i) if selected.forall(_.contains(b)) =>
      val ys = rows.map(r => if (r.isNullAt(i + 1)) Double.NaN else r.getDouble(i + 1))
      val yJson = ys.map(v =>
        if (v.isNaN || v <= MinDisplayThresh) "null" else jnum(v)).mkString("[", ",", "]")
      val hoverJson = ys.zip(tsec).map { case (v, t) =>
        if (v.isNaN || v <= MinDisplayThresh) "null"
        else jstr(String.format(java.util.Locale.ROOT,
          "%s: %.3f at %s", b, Double.box(v), fmtMmss(t)))
      }.mkString("[", ",", "]")
      s"""{"type":"bar","name":${jstr(b)},"x":${tsec.map(jnum).mkString("[", ",", "]")},
         |"y":$yJson,"width":$barWidth,"hoverinfo":"text","hovertext":$hoverJson,
         |"opacity":$BarOpacity,"marker":{"color":${jstr(ColorMap.getOrElse(b, DefaultColor))},"line":{"width":0}}}"""
        .stripMargin.replace("\n", "")
    }
    val barmode = if (stack) "stack" else "overlay"
    s"""{"data":${traces.mkString("[", ",", "]")},"layout":{"barmode":"$barmode","hovermode":"x unified","xaxis":{"title":"Time (s)"},"yaxis":{"title":"Confidence","range":[0.0,1.0]},"legend":{"orientation":"h","y":1.12},"template":"plotly_dark"}}"""
  }

  /** Per-class masked MAE, worst first (plot_metrics.py:6-25): rows where
    * the target is null are excluded per class; one aggregation pass over
    * all classes at once (unpivot → groupBy), no per-class jobs.
    */
  def maeTable(scoredLabeled: DataFrame): DataFrame = {
    val behaviors = scoredLabeled.columns.filter(c =>
      c.startsWith("cf_") && scoredLabeled.columns.contains("pred_" + c)).toSeq.sorted
    require(behaviors.nonEmpty, "need cf_<b> target and pred_cf_<b> prediction columns")
    val stacked = scoredLabeled.select(behaviors.map(b =>
      struct(lit(b).as("behavior"), col(b).cast("double").as("y"),
        col("pred_" + b).cast("double").as("p")).as(b)): _*)
      .select(explode(array(behaviors.map(col): _*)).as("r"))
      .select(col("r.behavior"), col("r.y"), col("r.p"))
    stacked.filter(col("y").isNotNull)
      .groupBy(col("behavior"))
      .agg(round(avg(abs(col("p") - col("y"))), 4).as("mae"),
        count(lit(1)).as("n"))
      .orderBy(col("mae").desc, col("behavior"))
  }

  /** Reliability diagram bins (plot_metrics.py:28-43): pooled non-null
    * (prediction, target) pairs across all classes, 10 equal-width bins on
    * the prediction, mean prediction vs mean target per bin.
    */
  def reliabilityTable(scoredLabeled: DataFrame): DataFrame = {
    val behaviors = scoredLabeled.columns.filter(c =>
      c.startsWith("cf_") && scoredLabeled.columns.contains("pred_" + c)).toSeq.sorted
    require(behaviors.nonEmpty, "need cf_<b> target and pred_cf_<b> prediction columns")
    val stacked = scoredLabeled.select(behaviors.map(b =>
      struct(col(b).cast("double").as("y"),
        col("pred_" + b).cast("double").as("p")).as(b)): _*)
      .select(explode(array(behaviors.map(col): _*)).as("r"))
      .select(col("r.y"), col("r.p"))
    stacked.filter(col("y").isNotNull)
      .withColumn("bin", least(floor(col("p") * 10), lit(9)).cast("long"))
      .groupBy(col("bin"))
      .agg(round(avg(col("p")), 4).as("mean_pred"),
        round(avg(col("y")), 4).as("mean_target"), count(lit(1)).as("n"))
      .orderBy(col("bin"))
  }

  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--metrics="))
    require(positional.length >= 2,
      "usage: Export <outDir> <rawLog.csv>... [--metrics=<labeledScoredParquet>]")
    val outDir = positional.head
    val rawPaths = positional.tail.toSeq
    val spark = graft.GraftSession.getOrCreate("vesc-export")

    val timeline = VescPipeline.analyze(spark, rawPaths)
    timeline.write.mode("overwrite").option("header", "true")
      .csv(s"$outDir/timeline.csv")
    Files.write(Paths.get(s"$outDir/timeline_bars.json"),
      timelineBarsJson(timeline).getBytes(StandardCharsets.UTF_8))

    flags.map(_.stripPrefix("--metrics=")).foreach { p =>
      val labeled = spark.read.parquet(p)
      val mae = maeTable(labeled)
      mae.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$outDir/mae.csv")
      val rel = reliabilityTable(labeled)
      rel.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$outDir/reliability.csv")
      // the reference also ships RENDERED metric plots (plot_metrics.py);
      // Figures rasterizes the same two from the same aggregated tables
      Files.write(Paths.get(s"$outDir/mae.png"), Figures.maePng(
        mae.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq))
      Files.write(Paths.get(s"$outDir/reliability.png"), Figures.reliabilityPng(
        rel.collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq))
    }
    println(s"""{"exported":"$outDir","rides":${rawPaths.length}}""")
    spark.stop()
  }
}
