package graft.vesc

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** 10 Hz sample-rate normalization — the computational heart of the pipeline
  * (reference normalize_sample_rate: training_preprocessing.py:101-236,
  * prod_preprocessing.py:35-153).
  *
  * One exchange on `ride_id`, one sort on (ride_id, ms_today, sample_idx)
  * and one [[RidePass.perRide]] pass; per ride:
  *
  *  1. keep-first dedup on ms_today in file order (P6 — order-defined):
  *     the first row of each run of equal ms_today ([[RidePass.keepFirst]])
  *  2. 100 ms grid from first to last timestamp (W4) aligned with the
  *     original instants (J1)
  *  3. index-weighted linear interpolation, both-direction edge fill (W6)
  *  4. strict-`>` 250 ms gap voiding of synthetic on-grid rows (W7/W8/P10)
  *     — steps 2–4 are [[RidePass.grid]]
  *  5. grid filter + elapsed counter + timestamp rebuild + renumber
  *     (P7/W9/W10/W3) and normative column order (P3)
  *
  * Deliberate deviation from the reference: `ride_id` stays populated on
  * every output row (the reference's reindex leaves it null on inserted
  * rows — a pandas artifact flagged in FIXTURES.md; the engine needs it as
  * the partition key).
  */
object Resampler {

  /** @param interpCols   numeric channels to interpolate (double on output)
    * @param passCols     columns kept but NOT interpolated (null on
    *                     synthetic rows): protected + cf_* labels. Every
    *                     column that is not interpolated is kept so.
    *
    * Output: ride_id, ms_today (long), the other input columns in their
    * order (`sample_idx` renumbered from 0, `dt_ms` = `stepMs`, `ts_utc`
    * and `ts_pst` rebuilt from the ride's first real grid row plus the
    * elapsed ms), then `is_real`, `_on_grid`, `_elapsed_ms` and `dt_ms` if
    * the input lacked it. Keep-first dedup reads `sample_idx` as file
    * order.
    */
  def resample10Hz(df: DataFrame, interpCols: Seq[String], passCols: Seq[String],
                   stepMs: Long = VescSchema.StepMs,
                   maxGapMs: Double = VescSchema.MaxGapMs): DataFrame = {
    val in = df.schema
    val rest = df.columns.toSeq.filterNot(c => c == "ride_id" || c == "ms_today")
    val pst = rest.contains("ts_utc") && rest.contains("ts_pst")
    def rebuilt(c: String) = c == "ts_utc" || (c == "ts_pst" && pst)
    val restFields = rest.map {
      case c if interpCols.contains(c) => StructField(c, DoubleType)
      case c @ ("dt_ms" | "sample_idx") => StructField(c, LongType, nullable = false)
      case c if rebuilt(c) => StructField(c, TimestampType)
      case c => in(c).copy(nullable = true)
    }
    val added =
      if (rest.contains("dt_ms")) Nil else Seq(StructField("dt_ms", LongType, nullable = false))
    val out = StructType(Seq(in("ride_id"), StructField("ms_today", LongType)) ++ restFields ++
      Seq(StructField("is_real", BooleanType, nullable = false),
        StructField("_on_grid", BooleanType, nullable = false),
        StructField("_elapsed_ms", DoubleType)) ++ added)
    val interpAt = interpCols.map(c => rest.indexOf(c) + 2)
    val maxGap = maxGapMs.toLong

    val input = df.select((Seq("ride_id", "ms_today") ++ rest).map(col): _*)
    RidePass.perRide(input, Seq(col("ms_today"), col("sample_idx")), out) { rows =>
      val (kept, g) = RidePass.resample(rows, interpAt, stepMs, maxGap)
      val elapsed = g.tick.map(t => (t - g.tick(0)).toDouble)
      def real(k: Int) = g.src(k) >= 0
      // W10: the ride's first real grid row's clock plus the elapsed ms
      def clock(f: Int): Int => Any = {
        val start = g.src.filter(_ >= 0).flatMap(s => Option(kept(s).get(f))).minByOption(micros)
        k => start.map(s =>
          timestamp((Math.floorDiv(micros(s), 1000L) + elapsed(k).toLong) * 1000L, s)).orNull
      }
      val cells: Seq[Int => Any] = rest.zipWithIndex.map { case (c, i) =>
        val f = i + 2
        if (interpCols.contains(c)) g.channels(interpCols.indexOf(c)).get _
        else c match {
          case "dt_ms" => (_: Int) => stepMs
          case "sample_idx" => (k: Int) => k.toLong
          case _ if rebuilt(c) => clock(f)
          case _ => (k: Int) => if (real(k)) kept(g.src(k)).get(f) else null
        }
      } ++ Seq[Int => Any](real, _ => true, elapsed(_)) ++ added.map(_ => (_: Int) => stepMs)
      val ride = kept.head.get(0)
      Iterator.range(0, g.length).map(k => Row.fromSeq(ride +: g.tick(k) +: cells.map(_(k))))
    }
  }

  private def micros(t: Any): Long = t match {
    case ts: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(ts)
    case i: java.time.Instant => DateTimeUtils.instantToMicros(i)
  }

  /** `us` as the external timestamp type of `like`. */
  private def timestamp(us: Long, like: Any): Any = like match {
    case _: java.time.Instant => DateTimeUtils.microsToInstant(us)
    case _ => DateTimeUtils.toJavaTimestamp(us)
  }

  /** Training flavour: interpolate everything numeric except labels,
    * protected columns, and ms_today; order per the training layout.
    */
  def trainingResample(df: DataFrame): DataFrame = {
    val out = resample10Hz(df,
      interpolated(df, VescSchema.ConfidenceCols ++ VescSchema.ProtectedCols ++
        Seq("ms_today", "ride_id", "ts_utc", "ts_pst", "video_ts_anchor", "dt_ms")),
      VescSchema.ConfidenceCols ++ VescSchema.ProtectedCols)
    reorder(out.drop("is_real"), VescSchema.TrainingOutputOrder)
  }

  /** Production flavour. */
  def prodResample(df: DataFrame): DataFrame = {
    val out = resample10Hz(df,
      interpolated(df, VescSchema.ProtectedCols ++ Seq("ms_today", "ride_id", "ts_utc")),
      VescSchema.ProtectedCols)
    reorder(out.drop("is_real"), VescSchema.ProdOutputOrder)
  }

  /** The numeric columns of `df` outside `nonInterp`, in column order:
    * the ones the grid interpolates. */
  private def interpolated(df: DataFrame, nonInterp: Seq[String]): Seq[String] =
    df.columns.filter(c => !nonInterp.contains(c) &&
      Set("double", "float", "long", "integer").contains(df.schema(c).dataType.typeName)).toSeq

  /** P3: normative order first, remaining columns appended. */
  def reorder(df: DataFrame, desired: Seq[String]): DataFrame = {
    val existing = desired.filter(df.columns.contains)
    val remaining = df.columns.filterNot(existing.contains)
    df.select((existing ++ remaining).map(col): _*)
  }
}
