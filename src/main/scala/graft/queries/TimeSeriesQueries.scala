package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.TimeSeriesOps

/** Time-series operator coverage (SURVEY.md §2.3 J1/J2/J4, §2.5 W-ops,
  * §2.9 R-rules) exercised over the `events` table: `user_id` plays the
  * reference's `ride_id` series key, event time plays `ms_today`.
  *
  * The hourly resample/interpolate/gap-void chain here is the semantic twin
  * of the reference's 10 Hz pipeline (training_preprocessing.py:101-236) —
  * same grid-align → index-weighted interpolation → strict-> gap voiding —
  * at a grid the synthetic data supports.
  */
object TimeSeriesQueries extends QueryPack {

  private val HOUR_US = 3600000000L

  /** Round-half-up via pure double arithmetic: `floor(x·10⁴ + 0.5)/10⁴`.
    * Unlike `round()`, whose midpoint semantics differ between engines
    * (Spark rounds the shortest decimal string HALF_UP, DuckDB rounds the
    * binary double), every op here is IEEE-deterministic, so identical
    * inputs give identical outputs in Spark and the DuckDB oracle. Needed
    * wherever the value can land exactly on a rounding midpoint — e.g.
    * interpolation at frac = 0.5 between two 4-decimal inputs.
    */
  private def r4(c: org.apache.spark.sql.Column) = floor(c * 10000 + lit(0.5)) / 10000.0
  private def r4Sql(e: String) = s"floor(($e)*10000 + 0.5)/10000.0"

  /** The oracle-side linear-interpolation CASE, parameterized on the
    * prev/next-tick column names — must mirror
    * [[graft.ops.TimeSeriesOps.interpolateLinear]] expression-for-expression
    * so both engines do the identical IEEE arithmetic.
    */
  private def interpCaseSql(pt: String, nt: String): String =
    s"""CASE
       |    WHEN hr_avg IS NOT NULL THEN hr_avg
       |    WHEN pv IS NOT NULL AND nv IS NOT NULL AND $nt = $pt THEN pv
       |    WHEN pv IS NOT NULL AND nv IS NOT NULL
       |      THEN pv + (nv - pv) * (CAST(h - $pt AS DOUBLE) / CAST($nt - $pt AS DOUBLE))
       |    ELSE coalesce(pv, nv) END""".stripMargin

  /** Per-(user, hour) series with missing hours absent; hr_avg rounded at
    * the aggregation so both engines interpolate identical inputs.
    */
  private def hourly(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("h", expr(s"unix_micros(ts) div $HOUR_US"))
      .groupBy(col("user_id"), col("h"))
      .agg(r4(avg(col("value"))).as("hr_avg"))

  private val hourlySql =
    s"""SELECT user_id, epoch_us(ts) // 3600000000 AS h,
       |  ${r4Sql("avg(value)")} AS hr_avg
       |FROM events GROUP BY 1, 2""".stripMargin

  /** Aligned = hourly series aligned onto the per-user hour grid (J1);
    * `is_real` marks hours that had events.
    */
  private def aligned(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.gridAlign(hourly(s, dir), Seq("user_id"), "h", 1L)

  private val alignedSql =
    s"""hr AS ($hourlySql),
       |b AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hr GROUP BY 1),
       |g AS (SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM b),
       |aligned AS (
       |  SELECT g.user_id, g.h, hr.hr_avg,
       |    hr.h IS NOT NULL AS is_real, TRUE AS _on_grid
       |  FROM g LEFT JOIN hr ON g.user_id = hr.user_id AND g.h = hr.h)""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // W2: per-series lag difference (reference dt_ms,
    // training_preprocessing.py:87).
    "w2_lag_diff" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("dt_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .select(col("event_id"), col("user_id"), col("dt_us"))
        .orderBy(col("event_id"))
    }),

    // W3: per-series row numbering (reference sample_idx,
    // training_preprocessing.py:74).
    "w3_row_number" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("sample_idx", row_number().over(w) - 1)
        .select(col("event_id"), col("user_id"), col("sample_idx"))
        .orderBy(col("event_id"))
    }),

    // W9: elapsed ticks from series start (reference _elapsed_ms,
    // training_preprocessing.py:148).
    "w9_elapsed" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, dir)
        .withColumn("elapsed_us",
          unix_micros(col("ts")) - min(unix_micros(col("ts"))).over(w))
        .select(col("event_id"), col("user_id"), col("elapsed_us"))
        .orderBy(col("event_id"))
    }),

    // P6: order-defined keep-first dedup (reference
    // training_preprocessing.py:126) on (user, minute) keyed by event_id.
    "p6_dedup_keepfirst" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("min_tick", expr("unix_micros(ts) div 60000000"))
      TimeSeriesOps.dedupKeepFirst(ev, Seq("user_id", "min_tick"), col("event_id"))
        .select(col("event_id"), col("user_id"), col("min_tick"))
        .orderBy(col("event_id"))
    }),

    // W4: per-series regular grid generation via sequence+explode
    // (reference arange grid, training_preprocessing.py:129-135).
    "w4_time_grid" -> ((s, dir) => {
      val hr = hourly(s, dir)
      TimeSeriesOps.timeGrid(hr, Seq("user_id"), col("h"), 1L, "grid_h")
        .orderBy(col("user_id"), col("grid_h"))
    }),

    // J1: one-pass align of observed samples onto the grid with
    // _on_grid / is_real flags (reference reindex union,
    // training_preprocessing.py:134-148).
    "j1_grid_align" -> ((s, dir) => {
      aligned(s, dir)
        .select(col("user_id"), col("h"), col("hr_avg"), col("is_real"), col("_on_grid"))
        .orderBy(col("user_id"), col("h"))
    }),

    // W6: index-weighted linear interpolation with both-direction edge
    // fill (reference interpolate(method='index', limit_direction='both'),
    // training_preprocessing.py:151-159).
    "w6_interpolate" -> ((s, dir) => {
      TimeSeriesOps.interpolateLinear(
          aligned(s, dir), Seq("user_id"), "h", Seq("hr_avg"), suffix = "_i")
        .select(col("user_id"), col("h"), r4(col("hr_avg_i")).as("vi"),
          col("is_real"))
        .orderBy(col("user_id"), col("h"))
    }),

    // W7+W8/P10: gap-span detection around real samples and strict->
    // voiding of interpolated values inside wide gaps (reference
    // training_preprocessing.py:161-203, max_gap strict `>`).
    "w7_gap_void" -> ((s, dir) => {
      val interp = TimeSeriesOps.interpolateLinear(
        aligned(s, dir), Seq("user_id"), "h", Seq("hr_avg"), suffix = "_i")
      val spanned = TimeSeriesOps.gapSpan(interp, Seq("user_id"), "h", col("is_real"))
        .withColumn("vi", r4(col("hr_avg_i")))
      TimeSeriesOps.voidWideGaps(spanned, Seq("vi"), 6L, !col("is_real"))
        .select(col("user_id"), col("h"), col("gap_span"), col("vi"), col("is_real"))
        .orderBy(col("user_id"), col("h"))
    }),

    // W12: forward-fill + zero-fill of a sparse channel (reference
    // X.ffill().fillna(0), model/vesc_dataset.py:134-137).
    "w12_ffill" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("sparse", when(col("event_type") === "purchase", col("value")))
      TimeSeriesOps.forwardFill(ev, Seq("user_id"), Seq(col("ts"), col("event_id")),
          Seq("sparse"), zeroFill = true)
        .select(col("event_id"), col("user_id"), col("sparse").as("filled"))
        .orderBy(col("event_id"))
    }),

    // J4: as-of join — each purchase takes the latest prior-or-equal click's
    // value per user (reference nearest-anchor lookup generalized,
    // training_preprocessing.py:238-248). Union+window plan: one shuffle,
    // no range-join explosion.
    "j4_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_ord"),
          col("value").as("click_value"))
      TimeSeriesOps.asofJoinPrior(purchases, clicks, Seq("user_id"),
          "ts", "ts", "click_ord", Seq("click_value"))
        .select(col("event_id"), col("user_id"), col("click_value"))
        .orderBy(col("event_id"))
    }),

    // J2: interval join with last-wins overwrite — signup events open a
    // 2-hour confidence interval applied onto clicks (reference annotation
    // ranges, training_apply_behavior_annotations.py:13-28).
    "j2_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val facts = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"))
      val intervals = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) + lit(2L * HOUR_US)).as("end_us"),
          col("event_id").as("anno_seq"), col("value").as("conf"))
      TimeSeriesOps.intervalJoinLastWins(facts, intervals, Seq("user_id"),
          "us", "start_us", "end_us", "anno_seq", Seq("conf"),
          factKey = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("conf"))
        .orderBy(col("event_id"))
    }),

    // W11: sliding event-time windows, 10 min / 5 min stride (reference
    // 3 s / 0.5 s windows, model/vesc_dataset.py:103-119) with per-window
    // count + mean (A2/A3 analogues).
    "w11_sliding_windows" -> ((s, dir) => {
      TimeSeriesOps.slidingWindowAgg(
          Tables.events(s, dir), Seq("user_id"), "ts", "10 minutes", "5 minutes",
          Seq(count(lit(1)).as("n"), round(avg(col("value")), 4).as("win_avg")))
        .select(col("user_id"), col("window_start"), col("n"), col("win_avg"))
        .orderBy(col("user_id"), col("window_start"))
    }),

    // U3: set-minus split membership (reference train = all − val − test,
    // model/data_utils.py:40-49) via left-anti join.
    "u3_except" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "view").select(col("user_id")).distinct()
        .join(ev.filter(col("event_type") === "error").select(col("user_id")).distinct(),
          Seq("user_id"), "left_anti")
        .orderBy(col("user_id"))
    }),

    // M1/A1/J3: z-score normalization against broadcast per-group stats
    // (reference model/normalize.py + model_training.py:39-41).
    "m1_zscore" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val stats = ev.groupBy(col("event_type"))
        .agg((floor(avg(col("value")) * 1000000 + lit(0.5)) / 1000000.0).as("m"),
          (floor(stddev_pop(col("value")) * 1000000 + lit(0.5)) / 1000000.0).as("sd"))
      ev.join(broadcast(stats), Seq("event_type"))
        .select(col("event_id"),
          r4((col("value") - col("m")) / col("sd")).as("z"))
        .orderBy(col("event_id"))
    }),

    // R1: internal-exclusivity resolution — within the group, any value
    // below the group max is zeroed (reference argmax-keep rule,
    // training_apply_behavior_annotations.py:46-80) on a per-(user, day)
    // pivot of event-type confidences.
    "r1_exclusivity" -> ((s, dir) => {
      val piv = dailyPivot(s, dir)
      val gmax = greatest(col("view_v"), col("click_v"), col("purchase_v"))
      def keep(c: String) =
        when(col(c).isNotNull && col(c) < gmax, 0.0).otherwise(col(c)).as(c + "_r")
      piv.select(col("user_id"), col("day"),
          keep("view_v"), keep("click_v"), keep("purchase_v"))
        .orderBy(col("user_id"), col("day"))
    }),

    // R2: cross-group exclusivity — losing group zeroed, exact positive tie
    // → all NULL (reference training_apply_behavior_annotations.py:81-98).
    "r2_cross_exclusivity" -> ((s, dir) => {
      val piv = dailyPivot(s, dir)
      val m1 = coalesce(greatest(col("view_v"), col("click_v")), lit(-1.0))
      val m2 = coalesce(greatest(col("purchase_v"), col("signup_v")), lit(-1.0))
      def g1(c: String) =
        when(m2 > m1, 0.0).when(m1 === m2 && m1 > 0, lit(null)).otherwise(col(c)).as(c + "_r")
      def g2(c: String) =
        when(m1 > m2, 0.0).when(m1 === m2 && m1 > 0, lit(null)).otherwise(col(c)).as(c + "_r")
      piv.select(col("user_id"), col("day"),
          g1("view_v"), g1("click_v"), g2("purchase_v"), g2("signup_v"))
        .orderBy(col("user_id"), col("day"))
    }),

    // R3: sequential pairwise conflict suppression — pairs applied in
    // order, each zeroing the pair's loser (reference display suppression,
    // application/app.py:170-219; sequential semantics preserved).
    "r3_conflict_suppress" -> ((s, dir) => {
      val piv = dailyPivot(s, dir).na.fill(0.0,
        Seq("view_v", "click_v", "purchase_v", "signup_v", "error_v"))
      val pairs = Seq(("view_v", "click_v"), ("click_v", "purchase_v"),
        ("view_v", "purchase_v"))
      val out = pairs.foldLeft(piv) { case (df, (a, b)) =>
        df.withColumn(a + "__n", when(col(a) < col(b), 0.0).otherwise(col(a)))
          .withColumn(b + "__n", when(col(b) < col(a), 0.0).otherwise(col(b)))
          .drop(a, b)
          .withColumnRenamed(a + "__n", a)
          .withColumnRenamed(b + "__n", b)
      }
      out.select(col("user_id"), col("day"), col("view_v"), col("click_v"),
          col("purchase_v"), col("signup_v"), col("error_v"))
        .orderBy(col("user_id"), col("day"))
    }))

  /** Per-(user, day) mean value pivoted by event type — the stand-in for
    * the reference's 13 `cf_*` confidence columns.
    */
  private def dailyPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("view", "click", "purchase", "signup", "error")
    Tables.events(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .groupBy(col("user_id"), col("day"))
      .pivot("event_type", types)
      .agg(round(avg(col("value")), 4))
      .select(col("user_id") +: col("day") +:
        types.map(t => col(t).as(t + "_v")): _*)
  }

  private val dailyPivotSql =
    """piv AS (
      |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
      |    round(avg(CASE WHEN event_type='view' THEN value END),4) AS view_v,
      |    round(avg(CASE WHEN event_type='click' THEN value END),4) AS click_v,
      |    round(avg(CASE WHEN event_type='purchase' THEN value END),4) AS purchase_v,
      |    round(avg(CASE WHEN event_type='signup' THEN value END),4) AS signup_v,
      |    round(avg(CASE WHEN event_type='error' THEN value END),4) AS error_v
      |  FROM events GROUP BY 1, 2)""".stripMargin

  override val oracle: Map[String, String] = Map(
    "w2_lag_diff" ->
      """SELECT event_id, user_id,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS dt_us
        |FROM events ORDER BY event_id""".stripMargin,
    "w3_row_number" ->
      """SELECT event_id, user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
        |    AS sample_idx
        |FROM events ORDER BY event_id""".stripMargin,
    "w9_elapsed" ->
      """SELECT event_id, user_id,
        |  epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id) AS elapsed_us
        |FROM events ORDER BY event_id""".stripMargin,
    "p6_dedup_keepfirst" ->
      """WITH t AS (SELECT event_id, user_id, epoch_us(ts) // 60000000 AS min_tick,
        |  row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 60000000
        |    ORDER BY event_id) AS rn
        |  FROM events)
        |SELECT event_id, user_id, min_tick FROM t WHERE rn = 1
        |ORDER BY event_id""".stripMargin,
    "w4_time_grid" ->
      s"""WITH hr AS ($hourlySql),
         |b AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hr GROUP BY 1),
         |g AS (SELECT user_id, unnest(generate_series(h0, h1)) AS grid_h FROM b)
         |SELECT user_id, grid_h FROM g ORDER BY user_id, grid_h""".stripMargin,
    "j1_grid_align" ->
      s"""WITH $alignedSql
         |SELECT user_id, h, hr_avg, is_real, _on_grid FROM aligned
         |ORDER BY user_id, h""".stripMargin,
    "w6_interpolate" ->
      s"""WITH $alignedSql,
         |w AS (
         |  SELECT user_id, h, hr_avg, is_real,
         |    last_value(hr_avg IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY h
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |    first_value(hr_avg IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY h
         |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |    last_value(CASE WHEN hr_avg IS NOT NULL THEN h END IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY h
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         |    first_value(CASE WHEN hr_avg IS NOT NULL THEN h END IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY h
         |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
         |  FROM aligned)
         |SELECT user_id, h,
         |  ${r4Sql(interpCaseSql("pt", "nt"))} AS vi,
         |  is_real
         |FROM w ORDER BY user_id, h""".stripMargin,
    "w7_gap_void" ->
      s"""WITH $alignedSql,
         |w AS (
         |  SELECT user_id, h, hr_avg, is_real,
         |    last_value(hr_avg IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY h
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |    first_value(hr_avg IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY h
         |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |    last_value(CASE WHEN is_real THEN h END IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY h
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_real,
         |    first_value(CASE WHEN is_real THEN h END IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY h
         |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_real
         |  FROM aligned),
         |v AS (
         |  SELECT user_id, h, is_real, next_real - prev_real AS gap_span,
         |    ${r4Sql(interpCaseSql("prev_real", "next_real"))} AS vi0
         |  FROM w)
         |SELECT user_id, h, gap_span,
         |  CASE WHEN (NOT is_real) AND gap_span IS NOT NULL AND gap_span > 6
         |    THEN NULL ELSE vi0 END AS vi,
         |  is_real
         |FROM v ORDER BY user_id, h""".stripMargin,
    "w12_ffill" ->
      """SELECT event_id, user_id,
        |  coalesce(last_value(CASE WHEN event_type='purchase' THEN value END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS filled
        |FROM events ORDER BY event_id""".stripMargin,
    "j4_asof_join" ->
      """SELECT l.event_id, l.user_id,
        |  (SELECT r.value FROM events r
        |   WHERE r.user_id = l.user_id AND r.event_type = 'click'
        |     AND r.ts <= l.ts
        |   ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS click_value
        |FROM events l WHERE l.event_type = 'purchase'
        |ORDER BY l.event_id""".stripMargin,
    "j2_interval_join" ->
      """WITH f AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type='click'),
        |i AS (SELECT user_id, epoch_us(ts) AS start_us,
        |    epoch_us(ts) + 7200000000 AS end_us, event_id AS anno_seq, value AS conf
        |  FROM events WHERE event_type='signup'),
        |m AS (SELECT f.event_id, i.conf,
        |    row_number() OVER (PARTITION BY f.event_id ORDER BY i.anno_seq DESC) AS rn
        |  FROM f JOIN i ON f.user_id = i.user_id
        |    AND f.us >= i.start_us AND f.us < i.end_us)
        |SELECT f.event_id, f.user_id, m.conf
        |FROM f LEFT JOIN (SELECT event_id, conf FROM m WHERE rn = 1) m
        |  ON f.event_id = m.event_id
        |ORDER BY f.event_id""".stripMargin,
    "w11_sliding_windows" ->
      """WITH t AS (
        |  SELECT user_id, value,
        |    (epoch_us(ts) // 300000000 - j) * 300000000 AS start_us
        |  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS j))
        |SELECT user_id, make_timestamp(start_us) AS window_start,
        |  count(*) AS n, round(avg(value),4) AS win_avg
        |FROM t GROUP BY 1, 2 ORDER BY user_id, window_start""".stripMargin,
    "u3_except" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type='view'
        |EXCEPT
        |SELECT DISTINCT user_id FROM events WHERE event_type='error'
        |ORDER BY user_id""".stripMargin,
    "m1_zscore" ->
      s"""WITH s AS (SELECT event_type,
         |    floor(avg(value)*1000000 + 0.5)/1000000.0 AS m,
         |    floor(stddev_pop(value)*1000000 + 0.5)/1000000.0 AS sd
         |  FROM events GROUP BY 1)
         |SELECT event_id, ${r4Sql("(value - m) / sd")} AS z
         |FROM events JOIN s USING (event_type)
         |ORDER BY event_id""".stripMargin,
    "r1_exclusivity" ->
      s"""WITH $dailyPivotSql
         |SELECT user_id, day,
         |  CASE WHEN view_v IS NOT NULL AND view_v < greatest(view_v, click_v, purchase_v)
         |    THEN 0.0 ELSE view_v END AS view_v_r,
         |  CASE WHEN click_v IS NOT NULL AND click_v < greatest(view_v, click_v, purchase_v)
         |    THEN 0.0 ELSE click_v END AS click_v_r,
         |  CASE WHEN purchase_v IS NOT NULL AND purchase_v < greatest(view_v, click_v, purchase_v)
         |    THEN 0.0 ELSE purchase_v END AS purchase_v_r
         |FROM piv ORDER BY user_id, day""".stripMargin,
    "r2_cross_exclusivity" ->
      s"""WITH $dailyPivotSql,
         |m AS (SELECT *, coalesce(greatest(view_v, click_v), -1.0) AS m1,
         |    coalesce(greatest(purchase_v, signup_v), -1.0) AS m2 FROM piv)
         |SELECT user_id, day,
         |  CASE WHEN m2 > m1 THEN 0.0 WHEN m1 = m2 AND m1 > 0 THEN NULL
         |    ELSE view_v END AS view_v_r,
         |  CASE WHEN m2 > m1 THEN 0.0 WHEN m1 = m2 AND m1 > 0 THEN NULL
         |    ELSE click_v END AS click_v_r,
         |  CASE WHEN m1 > m2 THEN 0.0 WHEN m1 = m2 AND m1 > 0 THEN NULL
         |    ELSE purchase_v END AS purchase_v_r,
         |  CASE WHEN m1 > m2 THEN 0.0 WHEN m1 = m2 AND m1 > 0 THEN NULL
         |    ELSE signup_v END AS signup_v_r
         |FROM m ORDER BY user_id, day""".stripMargin,
    "r3_conflict_suppress" ->
      s"""WITH $dailyPivotSql,
         |z AS (SELECT user_id, day,
         |    coalesce(view_v, 0.0) AS view_v, coalesce(click_v, 0.0) AS click_v,
         |    coalesce(purchase_v, 0.0) AS purchase_v,
         |    coalesce(signup_v, 0.0) AS signup_v, coalesce(error_v, 0.0) AS error_v
         |  FROM piv),
         |s1 AS (SELECT user_id, day,
         |    CASE WHEN view_v < click_v THEN 0.0 ELSE view_v END AS view_v,
         |    CASE WHEN click_v < view_v THEN 0.0 ELSE click_v END AS click_v,
         |    purchase_v, signup_v, error_v FROM z),
         |s2 AS (SELECT user_id, day, view_v,
         |    CASE WHEN click_v < purchase_v THEN 0.0 ELSE click_v END AS click_v,
         |    CASE WHEN purchase_v < click_v THEN 0.0 ELSE purchase_v END AS purchase_v,
         |    signup_v, error_v FROM s1),
         |s3 AS (SELECT user_id, day,
         |    CASE WHEN view_v < purchase_v THEN 0.0 ELSE view_v END AS view_v,
         |    click_v,
         |    CASE WHEN purchase_v < view_v THEN 0.0 ELSE purchase_v END AS purchase_v,
         |    signup_v, error_v FROM s2)
         |SELECT user_id, day, view_v, click_v, purchase_v, signup_v, error_v
         |FROM s3 ORDER BY user_id, day""".stripMargin
  )
}
