package graft.vesc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** W13: video-timestamp anchoring for label-time synchronization (reference
  * insert_video_timestamp_anchor_point + format_video_ts,
  * training_preprocessing.py:238-279 and the `--vid_time`/`--log_time` CLI
  * path :314-316).
  *
  * Semantics: the processed-log row whose `ts_pst` is nearest to
  * `logTime` (ties → lowest sample_idx, pandas idxmin first-occurrence)
  * becomes the anchor; every row then gets
  * `video_ts_anchor = vidTime + (row_pos − anchor_pos) · 100 ms`,
  * formatted `HH:MM:SS.t`. The reference walks the frame row-by-row with
  * ±100 ms steps; on a 10 Hz grid that telescopes to the closed form above,
  * which is one window aggregate + one projection per ride — no iteration,
  * no driver loop, linear at any scale.
  */
object VideoAnchor {

  /** Parse `hh:mm:ss[.f]` to milliseconds (driver-side scalar arg). */
  def parseVidTimeMs(s: String): Long = {
    val parts = s.trim.stripPrefix("+").split(":")
    require(parts.length == 3, s"vid_time must be hh:mm:ss[.f], got '$s'")
    val secs = parts(2).toDouble
    math.round((parts(0).toLong * 3600 + parts(1).toLong * 60) * 1000.0 + secs * 1000.0)
  }

  /** `HH:MM:SS.t` from a (possibly negative) millisecond offset with
    * Python divmod semantics: hours floor-divide (can be negative), the
    * minute/second remainders are always non-negative — mirrors the
    * reference's `format_video_ts` (`%02d:%02d:%04.1f` over
    * `total_seconds()`). Seconds are formatted from integer tenths, so no
    * float-formatting midpoint divergence is possible.
    */
  def formatVideoTs(ms: Column): Column = {
    val msInHour = pmod(ms, lit(3600000L))
    val h = ((ms - msInHour) / lit(3600000L)).cast(LongType)
    val msInMin = pmod(ms, lit(60000L))
    val m = ((msInHour - msInMin) / lit(60000L)).cast(LongType)
    val tenths = floor(msInMin.cast(DoubleType) / 100.0 + lit(0.5)).cast(LongType)
    format_string("%02d:%02d:%02d.%d", h, m,
      (tenths / 10).cast(LongType), pmod(tenths, lit(10L)))
  }

  /** Insert `video_ts_anchor` per ride. `logTime` is a naive local
    * wall-clock string (`yyyy-MM-dd HH:mm:ss[.f]`) compared against
    * `ts_pst` exactly as the reference compares naive datetimes.
    */
  def insertAnchor(df: DataFrame, vidTime: String, logTime: String,
                   posCol: String = "sample_idx"): DataFrame = {
    val baseMs = parseVidTimeMs(vidTime)
    val wAll = Window.partitionBy(col("ride_id"))
    val diff = abs(unix_micros(col("ts_pst")) - unix_micros(to_timestamp(lit(logTime))))
    // first-minimum via struct ordering: (diff, pos) min == idxmin semantics
    val best = min(struct(diff.as("d"), col(posCol).as("i"))).over(wAll)
    val deltaMs = (col(posCol) - best.getField("i")) * lit(VescSchema.StepMs)
    df.withColumn("video_ts_anchor", formatVideoTs(lit(baseMs) + deltaMs))
  }
}
