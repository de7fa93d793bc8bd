package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.InterpState

/** Generic, scale-oriented time-series operators.
  *
  * All operators are expressed as declarative DataFrame transforms (window
  * functions, `sequence`/`explode`, joins) so Catalyst plans them: every
  * per-series computation partitions by the series key — on a cluster each
  * series hashes to one task and no operator needs a global sort or a
  * driver-side loop. Mirrors the reference pipeline's resample / interpolate /
  * gap-void semantics (reference: preprocessing/training_preprocessing.py:101-236)
  * re-expressed Spark-first.
  */
object TimeSeriesOps {

  /** Keep-first deduplication on `keys`, "first" defined by ascending
    * `order` (reference P6: training_preprocessing.py:126 — order-defined
    * keep-first, NOT an arbitrary dropDuplicates).
    * One shuffle on `keys`' prefix; survives skew via AQE.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], order: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Regular grid per series (reference W4: arange(first, last, step)).
    * Emits (key, gridCol) rows from min to max of `tick` in steps of `stepTick`
    * (same unit as `tick`, typically epoch millis or micros).
    * groupBy + sequence + explode: one partial-aggregated shuffle, then the
    * explode is narrow — no driver materialization, scales with #series.
    */
  def timeGrid(df: DataFrame, key: Seq[String], tick: Column, stepTick: Long,
               gridName: String = "grid_tick"): DataFrame =
    df.groupBy(key.map(col): _*)
      .agg(min(tick).as("__t0"), max(tick).as("__t1"))
      .select(key.map(col) :+
        explode(sequence(col("__t0"), col("__t1"), lit(stepTick))).as(gridName): _*)

  /** Align observed samples onto the union of (grid ∪ observed) instants
    * (reference J1: reindex over union of original + grid timestamps,
    * training_preprocessing.py:134-148); the grid is [[timeGrid]]'s, from
    * each series' first tick in steps of `stepTick`.
    *
    * One pass over the series sorted by (key, tick), no join and no second
    * read of `samples`: a single window carries the series minimum and the
    * previous tick, and one `explode` emits every real row together with
    * the on-grid ticks strictly between the previous tick and its own. The
    * synthetic rows carry the key and the tick, every other column null.
    * Adds `is_real` (an input row) and `_on_grid` (the tick is a grid
    * instant). `tick` must be integral; a row with a null tick passes
    * through as a real, off-grid row.
    */
  def gridAlign(samples: DataFrame, key: Seq[String], tick: String,
                stepTick: Long): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(col(tick))
    val t = col(tick).cast("long")
    val step = lit(stepTick)
    val scanned = samples.select(col("*"),
      min(t).over(w).as("__t0"), lag(t, 1).over(w).as("__prev"))
    val (t0, prev) = (col("__t0"), col("__prev"))
    // [lo, hi]: the grid ticks strictly between the previous tick and this one
    val lo = prev - pmod(prev - t0, step) + step
    val hi = t - 1 - pmod(t - 1 - t0, step)
    val between = when(prev.isNotNull && lo <= hi, sequence(lo, hi, step))
      .otherwise(array().cast("array<long>"))
    val emitted = concat(
      transform(between, g => struct(g.as("t"), lit(false).as("real"))),
      array(struct(t.as("t"), lit(true).as("real"))))
    val real = col("__e.real")
    val rest = samples.columns.filterNot(c => key.contains(c) || c == tick)
    scanned.select(col("*"), explode(emitted).as("__e"))
      .select(key.map(col) ++
        Seq(col("__e.t").cast(samples.schema(tick).dataType).as(tick)) ++
        rest.map(c => when(real, col(c)).as(c)) ++
        Seq(real.as("is_real"),
          coalesce(pmod(col("__e.t") - t0, step) === 0, lit(false)).as("_on_grid")): _*)
  }

  /** Index-weighted linear interpolation of `valueCols` over `tick`, per
    * series, with pandas `limit_direction="both"` edge semantics: interior
    * nulls are linearly interpolated on the tick axis; leading/trailing nulls
    * take the nearest valid value (reference W6:
    * training_preprocessing.py:151-159).
    *
    * Implementation: ONE fused [[graft.functions.InterpState]] window
    * aggregate per sort direction carries (last non-null value, its tick)
    * for every column at once — 2 window expressions total instead of 4 per
    * column (the reference's ~45-channel frame: 2 instead of 180; plan
    * size and codegen stop scaling with column count). The backward pass is
    * a running frame over the DESCENDING sort — never an
    * unbounded-following frame, which Spark executes by rescanning the
    * rest of the partition per row (O(n²); measured 10× on the resample
    * benchmark). Still 2 sorts per series; results bit-identical to the
    * per-column `last()` formulation (InterpStateSpec asserts).
    */
  def interpolateLinear(df: DataFrame, key: Seq[String], tick: String,
                        valueCols: Seq[String], suffix: String = ""): DataFrame = {
    // Register on the session that will ANALYZE this plan (df's own), not
    // the thread's active session — inside a streaming micro-batch the
    // active session is the stream's clone, and registering there leaves
    // `call_function` unresolvable when the outer session analyzes the plan
    // (caught by StreamingSpec's foreachBatch e2e).
    InterpState.register(df.sparkSession)
    val wPrev = Window.partitionBy(key.map(col): _*).orderBy(col(tick))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(key.map(col): _*).orderBy(col(tick).desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val state = call_function("interp_state", (col(tick) +: valueCols.map(col)): _*)
    val st = df.select(col("*"), state.over(wPrev).as("__fwd"), state.over(wNext).as("__bwd"))
    val interped = valueCols.zipWithIndex.map { case (c, i) =>
      val v = col(c)
      val prevV = col(s"__fwd.v$i"); val prevT = col(s"__fwd.t$i")
      val nextV = col(s"__bwd.v$i"); val nextT = col(s"__bwd.t$i")
      val frac = (col(tick) - prevT).cast("double") / (nextT - prevT).cast("double")
      val interp = when(v.isNotNull, v.cast("double"))
        .when(prevV.isNotNull && nextV.isNotNull && (nextT === prevT), prevV.cast("double"))
        .when(prevV.isNotNull && nextV.isNotNull,
          prevV.cast("double") + (nextV.cast("double") - prevV.cast("double")) * frac)
        .otherwise(coalesce(prevV, nextV).cast("double"))
      (c + suffix) -> interp
    }
    // one projection: a withColumn per column re-analyzes the plan each time
    st.withColumns(ListMap(interped: _*)).drop("__fwd", "__bwd")
  }

  /** Distance (in ticks) between the neighbouring *real* samples around each
    * row (reference W7 gap scan: searchsorted → span = next_real − prev_real,
    * training_preprocessing.py:161-183). `isReal` marks original samples.
    * Adds `prev_real_tick`, `next_real_tick`, `gap_span`.
    */
  def gapSpan(df: DataFrame, key: Seq[String], tick: String,
              isReal: Column): DataFrame = {
    val wPrev = Window.partitionBy(key.map(col): _*).orderBy(col(tick))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(key.map(col): _*).orderBy(col(tick).desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("prev_real_tick",
        last(when(isReal, col(tick)), ignoreNulls = true).over(wPrev))
      .withColumn("next_real_tick",
        last(when(isReal, col(tick)), ignoreNulls = true).over(wNext))
      .withColumn("gap_span", col("next_real_tick") - col("prev_real_tick"))
  }

  /** Null out `valueCols` on rows sitting inside a raw-data gap wider than
    * `maxGap` ticks (strict `>`), only where the row is synthetic
    * (reference W8/P10: training_preprocessing.py:185-203 — applied to
    * on-grid, not-real rows). Call after [[gapSpan]].
    */
  def voidWideGaps(df: DataFrame, valueCols: Seq[String], maxGap: Long,
                   applyTo: Column): DataFrame = {
    val tooWide = applyTo && col("gap_span").isNotNull && (col("gap_span") > maxGap)
    df.withColumns(ListMap(valueCols.map(c =>
      c -> when(tooWide, lit(null)).otherwise(col(c))): _*))
  }

  /** Forward-fill nulls per series in tick order, optionally zero-filling
    * whatever remains (reference W12: X.ffill().fillna(0.0),
    * model/vesc_dataset.py:134-137).
    */
  def forwardFill(df: DataFrame, key: Seq[String], order: Seq[Column],
                  valueCols: Seq[String], zeroFill: Boolean = false): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    valueCols.foldLeft(df) { (acc, c) =>
      val filled = last(col(c), ignoreNulls = true).over(w)
      acc.withColumn(c, if (zeroFill) coalesce(filled, lit(0.0)) else filled)
    }
  }

  /** As-of join: for every left row, the latest right row with
    * `rightTick <= leftTick` within the same `key` (reference J4 nearest-
    * anchor lookup is the 1-row degenerate case;
    * training_preprocessing.py:238-248).
    *
    * Implemented as union + single window pass — NOT a range join: both
    * sides are tagged, unioned, and per key ordered by tick; a
    * last(_, ignoreNulls) over the preceding frame carries right-side values
    * forward onto left rows. One shuffle on `key`, linear in rows — this is
    * the plan that survives 100 TB, where a naive range join explodes.
    * Ties (equal tick): right row sorts before left (matches "<=") and among
    * equal right ticks the greatest `rightOrd` wins.
    */
  def asofJoinPrior(left: DataFrame, right: DataFrame, key: Seq[String],
                    leftTick: String, rightTick: String,
                    rightOrd: String, payloadCols: Seq[String]): DataFrame = {
    val lCols = left.columns
    val lTagged = left
      .withColumn("__tick", col(leftTick))
      .withColumn("__side", lit(1))
      .withColumn("__ord", lit(null).cast("long"))
    val lAligned = payloadCols.foldLeft(lTagged)((a, c) =>
      a.withColumn("__p_" + c, lit(null).cast(right.schema(c).dataType)))
    val rTagged = payloadCols.foldLeft(
      right
        .withColumn("__tick", col(rightTick))
        .withColumn("__side", lit(0))
        .withColumn("__ord", col(rightOrd).cast("long"))
    )((a, c) => a.withColumn("__p_" + c, col(c)))
    val unionCols = key ++ Seq("__tick", "__side", "__ord") ++ payloadCols.map("__p_" + _)
    val keep = lCols.filterNot(c => key.contains(c) || unionCols.contains(c))
    val lSel = lAligned.select((unionCols ++ keep).map(col): _*)
    val rSel = keep.foldLeft(rTagged.select(unionCols.map(col): _*))(
      (a, c) => a.withColumn(c, lit(null).cast(left.schema(c).dataType)))
      .select((unionCols ++ keep).map(col): _*)
    val merged = lSel.unionByName(rSel)
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col("__tick"), col("__side"), col("__ord"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = payloadCols.foldLeft(merged) { (acc, c) =>
      acc.withColumn(c, last(col("__p_" + c), ignoreNulls = true).over(w))
    }
    carried
      .filter(col("__side") === 1)
      .drop(Seq("__tick", "__side", "__ord") ++ payloadCols.map("__p_" + _): _*)
  }

  /** Interval (range) join with last-wins overwrite: each left row falling in
    * a right interval `[startCol, endCol)` (same `key`) takes the payload of
    * the matching interval with the greatest `ordCol` (reference J2:
    * annotations applied in iteration order, later ranges overwriting —
    * training_apply_behavior_annotations.py:13-28).
    * Equi-key + range predicate: Catalyst plans a co-partitioned join when
    * `key` is non-empty; interval tables are typically tiny → broadcast.
    *
    * `factKey` must uniquely identify fact rows: the overlap resolution
    * groups on it alone — narrow, well-typed hash keys — while the
    * remaining fact columns ride along via `any_value` (they are
    * functionally dependent on the PK). Grouping by every fact column
    * would hash wide rows and make double-typed columns grouping keys
    * (NaN/−0.0 equality hazards).
    */
  def intervalJoinLastWins(fact: DataFrame, intervals: DataFrame,
                           key: Seq[String], tick: String,
                           startCol: String, endCol: String, ordCol: String,
                           payloadCols: Seq[String], factKey: Seq[String],
                           broadcastIntervals: Boolean = true): DataFrame = {
    val f = fact.alias("f")
    val i0 = intervals.alias("i")
    val i = if (broadcastIntervals) broadcast(i0) else i0
    val keyCond = key.map(k => col("f." + k) === col("i." + k))
      .reduceOption(_ && _).getOrElse(lit(true))
    val cond = keyCond &&
      col("f." + tick) >= col("i." + startCol) && col("f." + tick) < col("i." + endCol)
    val joined = f.join(i, cond, "left")
    val carried = fact.columns.filterNot(factKey.contains)
      .map(c => any_value(col("f." + c)).as(c))
    val resolved = payloadCols.map(p =>
      max_by(col("i." + p), when(col("i." + ordCol).isNotNull, col("i." + ordCol)))
        .as(p))
    val aggs = carried ++ resolved
    joined
      .groupBy(factKey.map(c => col("f." + c)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Gap-based sessionization: rows more than `gapTicks` apart start a new
    * session (the batch form of `session_window`; an extension beyond the
    * reference's fixed grid — SURVEY §2.11). Two window passes over the
    * same (key, tick) sort: lag-diff → boundary flag → running sum =
    * session ordinal. Linear, one shuffle on the key.
    */
  def sessionize(df: DataFrame, key: Seq[String], tick: String,
                 gapTicks: Long): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(col(tick))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("__prev", lag(col(tick), 1).over(w))
      .withColumn("__new_session",
        when(col("__prev").isNull || col(tick) - col("__prev") > gapTicks, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("__new_session")).over(run))
      .drop("__prev", "__new_session")
  }

  /** Sliding event-time windows (reference W11: 3 s window / 0.5 s stride).
    * Pure built-in: `window()` generates the per-row window copies; the
    * aggregation shuffles on (key, window) with map-side partials.
    */
  def slidingWindowAgg(df: DataFrame, key: Seq[String], ts: String,
                       windowDur: String, slideDur: String,
                       aggs: Seq[Column]): DataFrame =
    df.groupBy((key.map(col) :+ window(col(ts), windowDur, slideDur)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")
}
