package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** The one-pass `gridAlign` against the `timeGrid` + full-outer-join
  * formulation it replaced: same columns in the same order, same rows.
  */
class GridAlignSpec extends SparkSuite {

  /** The join-based implementation, kept verbatim as the test oracle. */
  private def gridAlignJoin(samples: DataFrame, key: Seq[String], tick: String,
                            stepTick: Long): DataFrame = {
    val grid = TimeSeriesOps.timeGrid(samples, key, col(tick), stepTick, gridName = tick)
      .withColumn("_on_grid", lit(true))
    val real = samples.withColumn("is_real", lit(true))
    real
      .join(grid, key :+ tick, "full_outer")
      .withColumn("_on_grid", coalesce(col("_on_grid"), lit(false)))
      .withColumn("is_real", coalesce(col("is_real"), lit(false)))
  }

  private val schema = StructType(Seq(
    StructField("sid", StringType), StructField("part", IntegerType),
    StructField("tk", LongType), StructField("v", DoubleType),
    StructField("label", StringType)))

  /** Seeded series over two key columns: jittered (mostly off-grid) and
    * exact (on-grid) ticks, holes wider than one step, duplicate ticks,
    * null value cells, and single-row series.
    */
  private def series(seed: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    val rows = new java.util.ArrayList[Row]()
    for (s <- 0 until 6; part <- 0 until 2) {
      val n = if (s == 5) 1 else 5 + rng.nextInt(40)
      var t = rng.nextInt(1000).toLong
      (0 until n).foreach { _ =>
        rows.add(Row(s"s$s", Int.box(part), Long.box(t),
          if (rng.nextDouble() < 0.2) null else Double.box(rng.nextGaussian()),
          if (rng.nextDouble() < 0.3) null else s"l${rng.nextInt(9)}"))
        t += (rng.nextInt(5) match {
          case 0 => 100L                        // stays on the grid
          case 1 => 1 + rng.nextInt(99)         // within a step
          case 2 => 101 + rng.nextInt(600)      // a hole of several steps
          case 3 => 100L * (2 + rng.nextInt(4)) // whole steps skipped
          case _ => 0L                          // a duplicate tick
        })
      }
    }
    spark.createDataFrame(rows, schema)
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getString(0), r.getInt(1), r.getLong(2), r.toString))

  test("one-pass gridAlign matches the timeGrid + full-outer-join formulation") {
    (1 to 5).foreach { seed =>
      val df = series(seed)
      val key = Seq("sid", "part")
      val got = TimeSeriesOps.gridAlign(df, key, "tk", 100L)
      val want = gridAlignJoin(df, key, "tk", 100L)
      assert(got.columns.toSeq == want.columns.toSeq)
      val (g, w) = (sorted(got), sorted(want))
      assert(g.size == w.size && g.exists(!_.getBoolean(5)), s"seed $seed")
      g.zip(w).foreach { case (a, b) => assert(a == b, s"seed $seed: $a != $b") }
    }
  }
}
