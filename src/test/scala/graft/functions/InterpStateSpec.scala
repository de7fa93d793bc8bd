package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ops.TimeSeriesOps

/** Parity of the fused `interp_state` window aggregate against the unfused
  * per-column `last(_, ignoreNulls)` formulation it replaced: same running
  * frames, same arithmetic, so interpolated outputs must be BIT-identical
  * (== on Double, no tolerance).
  */
class InterpStateSpec extends SparkSuite {
  import spark.implicits._

  /** The pre-fusion implementation, kept verbatim as the test oracle. */
  private def interpolateUnfused(df: DataFrame, key: Seq[String], tick: String,
                                 valueCols: Seq[String], suffix: String): DataFrame = {
    val wPrev = Window.partitionBy(key.map(col): _*).orderBy(col(tick))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(key.map(col): _*).orderBy(col(tick).desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    valueCols.foldLeft(df) { (acc, c) =>
      val v = col(c)
      val prevV = last(v, ignoreNulls = true).over(wPrev)
      val nextV = last(v, ignoreNulls = true).over(wNext)
      val prevT = last(when(v.isNotNull, col(tick)), ignoreNulls = true).over(wPrev)
      val nextT = last(when(v.isNotNull, col(tick)), ignoreNulls = true).over(wNext)
      val frac = (col(tick) - prevT).cast("double") / (nextT - prevT).cast("double")
      val interp = when(v.isNotNull, v.cast("double"))
        .when(prevV.isNotNull && nextV.isNotNull && (nextT === prevT), prevV.cast("double"))
        .when(prevV.isNotNull && nextV.isNotNull,
          prevV.cast("double") + (nextV.cast("double") - prevV.cast("double")) * frac)
        .otherwise(coalesce(prevV, nextV).cast("double"))
      acc.withColumn(c + suffix, interp)
    }
  }

  /** Sparse multi-series frame: per-column independent null patterns,
    * leading/trailing gaps, one all-null column, one all-null series.
    */
  private lazy val frame: DataFrame = {
    val rng = new scala.util.Random(7)
    val rows = for {
      series <- 1 to 5
      t <- 0 until 200
    } yield {
      def sparse(p: Double): Option[Double] =
        if (series == 5 || rng.nextDouble() < p) None
        else Some(math.floor(rng.nextDouble() * 1e4) / 1e4)
      (series.toLong, t.toLong * 10, sparse(0.6), sparse(0.3), None: Option[Double])
    }
    rows.toDF("sid", "tk", "a", "b", "allnull")
  }

  test("fused interpolation is bit-identical to the per-column last() formulation") {
    val cols = Seq("a", "b", "allnull")
    val fused = TimeSeriesOps.interpolateLinear(frame, Seq("sid"), "tk", cols, "_i")
      .select(col("sid"), col("tk"), col("a_i"), col("b_i"), col("allnull_i"))
      .orderBy("sid", "tk").collect()
    val unfused = interpolateUnfused(frame, Seq("sid"), "tk", cols, "_i")
      .select(col("sid"), col("tk"), col("a_i"), col("b_i"), col("allnull_i"))
      .orderBy("sid", "tk").collect()
    assert(fused.length == unfused.length && fused.nonEmpty)
    fused.zip(unfused).foreach { case (f, u) => assert(f == u, s"fused $f != unfused $u") }
  }

  test("plan carries exactly 2 window expressions regardless of column count") {
    val df = TimeSeriesOps.interpolateLinear(frame, Seq("sid"), "tk",
      Seq("a", "b", "allnull"), "_i")
    val windowExprs = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.windowExpressions.size
    }.sum
    assert(windowExprs == 2, s"expected 2 fused window expressions, got $windowExprs")
  }

  test("interp_state works as a plain groupBy aggregate (merge path)") {
    // 4 shuffle partitions force partial-merge; last-non-null over an
    // unordered group is nondeterministic in general, so use a group where
    // only ONE row has a non-null value — any merge order gives that row
    val df = Seq(
      (1L, 10L, Option.empty[Double]), (1L, 20L, Some(42.5)),
      (1L, 30L, Option.empty[Double]), (2L, 10L, Option.empty[Double])
    ).toDF("g", "tk", "v").repartition(4)
    val out = df.groupBy(col("g"))
      .agg(expr("interp_state(tk, v)").as("s"))
      .select(col("g"), col("s.v0"), col("s.t0"))
      .orderBy("g").collect()
    assert(out(0).getDouble(1) == 42.5 && out(0).getLong(2) == 20L)
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
  }
}
