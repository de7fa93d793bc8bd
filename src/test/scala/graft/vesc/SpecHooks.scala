package graft.vesc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DoubleType

/** Local replicas and single-step runners the VESC specs check the engine against. */
object SpecHooks {

  /** [[HeadTrainer.batchId]]'s assignment for a local replica: the same
    * 20-bit fold and two multiplicative mixing rounds, in Long arithmetic.
    */
  def batchIdLocal(id: Long, epoch: Int, nBatches: Int): Long = {
    val mixMask = 1048575L // 2^20 - 1
    val mixA = 2654435761L
    val folded = id ^ (id >>> 20) ^ (id >>> 40)
    val r1 = ((folded & mixMask) * mixA + epoch.toLong * 40503L) >> 12
    val r2 = ((r1 & mixMask) * mixA) >> 12
    val v = r2 % nBatches
    if (v < 0) v + nBatches else v
  }

  /** Display downsample alone ([[RidePass.displayBlocks]], the last step
    * of [[Postprocess.displayTimeline]]) over (ride_id, tsec, `scoreCols`):
    * consecutive blocks of `step` rows in `tsec` order are averaged, step =
    * round(`displayDt` / median(diff tsec)), the tail remainder dropped.
    */
  def downsampleForDisplay(scored: DataFrame, scoreCols: Seq[String],
                           displayDt: Double = 0.5): DataFrame = {
    val input = scored.select((Seq("ride_id", "tsec") ++ scoreCols).map(c =>
      if (c == "ride_id") col(c) else col(c).cast(DoubleType)): _*)
    val out = Postprocess.timelineSchema(input.schema.head, scoreCols)
    RidePass.perRide(input, Seq(col("tsec")), out) { rows =>
      RidePass.displayBlocks(rows.head.get(0), RidePass.Col.of(rows, 1),
        scoreCols.indices.map(i => RidePass.Col.of(rows, 2 + i)), displayDt)
    }
  }
}
