package graft.vesc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Timeline post-processing (reference application/app.py:150-243):
  * time rebase to seconds-from-start (F14), display conflict suppression
  * (R3), and 0.5-second block downsampling (A6, remainder truncated).
  *
  * Each entry point is one exchange on `ride_id`, one sort on the ride's
  * clock and one [[RidePass.perRide]] pass over each ride's rows.
  */
object Postprocess {

  /** Full display pipeline over scored windows (ride_id, t_mid, score_*):
    * `score_<b>` becomes `cf_<b>`, then per ride, in `t_mid` order:
    * suppress conflicts, rebase to seconds from the ride's first window,
    * downsample ([[RidePass.timeline]]). Output: ride_id, tsec and the
    * [[VescSchema.ConfidenceCols]] present.
    */
  def displayTimeline(scored: DataFrame): DataFrame = {
    val cf = scored.columns.map(c =>
      if (c.startsWith("score_")) "cf_" + c.stripPrefix("score_") else c)
    val cfCols = VescSchema.ConfidenceCols.filter(cf.contains)
    val sources = cfCols.map(c => scored.columns(cf.indexOf(c)))
    val groups = RidePass.conflictGroups(cfCols)
    val input = scored.select(col("ride_id") +: col("t_mid").cast(DoubleType) +:
      sources.map(col(_).cast(DoubleType)): _*)
    val out = timelineSchema(input.schema.head, cfCols)
    RidePass.perRide(input, Seq(col("t_mid")), out) { rows =>
      RidePass.timeline(rows.head.get(0), RidePass.Col.of(rows, 1),
        cfCols.indices.map(i => RidePass.Col.of(rows, 2 + i)), groups, Export.DisplayDt)
    }
  }

  /** A display timeline's schema: `ride`, tsec and one double per score
    * column.
    */
  def timelineSchema(ride: StructField, scoreCols: Seq[String]): StructType =
    StructType(ride +: ("tsec" +: scoreCols).map(StructField(_, DoubleType)))
}
