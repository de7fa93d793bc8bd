package graft.vesc

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** The display downsample's windowed per-ride median spacing against the
  * groupBy + broadcast-join median it replaced: same blocks, same values.
  */
class PostprocessSpec extends SparkSuite {

  /** The join-based implementation, kept verbatim as the test oracle. */
  private def downsampleJoin(scored: DataFrame, scoreCols: Seq[String],
                             displayDt: Double = 0.5): DataFrame = {
    val w = Window.partitionBy(col("ride_id")).orderBy(col("tsec"))
    val withDiff = scored
      .withColumn("__diff", col("tsec") - lag(col("tsec"), 1).over(w))
      .withColumn("__rn", row_number().over(w) - 1)
    val med = withDiff
      .groupBy(col("ride_id"))
      .agg(expr("percentile(__diff, 0.5)").as("__base_dt"))
    val stepped = withDiff.join(broadcast(med), "ride_id")
      .withColumn("__step",
        greatest(lit(1), round(lit(displayDt) / col("__base_dt")).cast("int")))
    val wCnt = Window.partitionBy(col("ride_id"))
    val blocks = stepped
      .withColumn("__n", count(lit(1)).over(wCnt))
      .withColumn("__keep",
        col("__rn") < (col("__n") - pmod(col("__n"), col("__step"))))
      .filter(col("__keep"))
      .withColumn("__block", (col("__rn") / col("__step")).cast("long"))
    blocks
      .groupBy(col("ride_id"), col("__block"))
      .agg(avg(col("tsec")).as("tsec"),
        scoreCols.map(c => avg(col(c)).as(c)): _*)
      .drop("__block")
  }

  test("windowed median spacing gives the groupBy median's blocks") {
    val rng = new scala.util.Random(3)
    val rows = new java.util.ArrayList[Row]()
    // ride a: 0.1 s spacing (5-window blocks); ride b: 0.25 s (2-window
    // blocks) with jitter, so its median differs from its mean; ride c: one row
    for ((ride, dt, n) <- Seq(("a", 0.1, 53), ("b", 0.25, 41), ("c", 0.5, 1))) {
      var t = 0.0
      (0 until n).foreach { _ =>
        rows.add(Row(ride, Double.box(t), Double.box(rng.nextDouble()),
          if (rng.nextDouble() < 0.2) null else Double.box(rng.nextDouble())))
        t += dt * (if (ride == "b" && rng.nextBoolean()) 1.3 else 1.0)
      }
    }
    val scored = spark.createDataFrame(rows, StructType(Seq(
      StructField("ride_id", StringType), StructField("tsec", DoubleType),
      StructField("cf_a", DoubleType), StructField("cf_b", DoubleType))))
    def blocks(df: DataFrame) =
      df.collect().toSeq.sortBy(r => (r.getString(0), r.getDouble(1)))
    val got = blocks(Postprocess.downsampleForDisplay(scored, Seq("cf_a", "cf_b")))
    val want = blocks(downsampleJoin(scored, Seq("cf_a", "cf_b")))
    assert(got.map(_.getString(0)).distinct == Seq("a", "b", "c"))
    assert(got.count(_.getString(0) == "a") == 10 && got.count(_.getString(0) == "b") == 20)
    assert(got == want)
  }
}
