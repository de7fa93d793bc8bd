package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.vesc.{Annotations, CnnScorer, Normalizer, TrunkGrad, TrunkTrainer, VescPipeline, VescSchema, WindowAssembler}

/** Driver-visible oracles for the VESC pipeline core, previously covered
  * only by ScalaTest: the Spark side runs the real raw-CSV → 10 Hz
  * pipeline on the reference's shipped ride-101 fixture, and the DuckDB
  * oracle reads the reference's own processed parquet (its de-facto golden
  * output) or re-derives the transform in SQL. This puts P1/P2/P3/P9,
  * W10, F3, F8 and the S1/S4 scans under the driver's hash gate.
  *
  * Only exactly-reproducible columns are compared (grid, numbering,
  * timestamps, validity ratios, parsed values): interpolated channel
  * doubles legitimately differ from pandas in the last ulp and stay under
  * the ScalaTest 1e-6 golden gate (ResamplerGoldenSpec).
  */
object VescFixtureQueries extends QueryPack {

  private val fixDir =
    "/root/reference/Sample_VESC_Logs_pipeline_testing/ride log 101"
  private val rawCsv = s"$fixDir/2025-09-30_11-07-12.csv"
  private val goldenParquet = s"$fixDir/2025-09-30_11-07-12_processed.parquet"
  private val annoCsv =
    "/root/reference/Sample_VESC_Logs_pipeline_testing/ride log 102/ride_102_annotations.csv"

  private def pipeline(s: SparkSession): DataFrame =
    VescPipeline.preprocessTraining(s, Seq(rawCsv), rideId = Some("ride_101"))

  // CNN fixtures: weights + stats exported from the reference checkpoint,
  // golden windows + expected sigmoid outputs from an independent NumPy
  // forward pass (tools/golden_cnn.py) — the same fixtures CnnScorerSpec
  // uses, here put under the driver's exact-hash gate.
  private val cnnWeights = "/root/repo/src/main/resources/cnn_weights.parquet"
  private val normStats = "/root/repo/src/main/resources/norm_stats.parquet"
  private val cnnGolden = "/root/repo/src/test/resources/cnn_golden.parquet"
  private val videoGolden = "/root/repo/src/test/resources/golden_video_anchor.csv"

  private val vidTime = "00:00:30.7"
  private val logTime = "2025-09-30 11:07:17.5"

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P3/P7/W3/W9/W10/F3/F4: the resampled grid skeleton — numbering,
    // elapsed counter, rebuilt event-time columns — vs the reference's own
    // processed parquet. (ride_id is ours: the reference leaves it null on
    // inserted rows, a pandas reindex artifact documented in SURVEY §5.)
    "v_grid_exact" -> ((s, _) => {
      pipeline(s).select(
        col("sample_idx"), col("ms_today"), col("dt_ms"), col("_elapsed_ms"),
        unix_millis(col("ts_utc")).as("ts_utc_ms"),
        unix_millis(col("ts_pst")).as("ts_pst_ms"),
        col("_on_grid"))
        .orderBy(col("sample_idx"))
    }),

    // P1/P2/F1/F3: allow-list projection + null-on-error double cast +
    // filename-date anchored timestamp, vs DuckDB's independent csv parse.
    "v_raw_allowlist" -> ((s, _) => {
      graft.vesc.RawLogReader
        .readRaw(s, Seq(rawCsv), VescSchema.TrainingChannels, Some("ride_101"))
        .select(col("ms_today").cast("long").as("ms_today"),
          col("speed_meters_per_sec"), col("erpm"), col("duty_cycle"),
          col("gnss_lat"), col("fault_code"),
          unix_millis(col("ts_utc")).as("ts_utc_ms"),
          col("sample_idx"))
        .orderBy(col("sample_idx"))
    }),

    // S4/F8/F9/F5: Label-Studio export → exploded interval rows with the
    // conf_→cf_ rename, JSON field extraction and '+' stripping, vs
    // DuckDB's JSON functions over the same csv.
    "v_annotations_parse" -> ((s, _) => {
      Annotations.readAnnotations(s, annoCsv)
        .select(col("behavior"), col("start_str"), col("end_str"),
          col("conf"), col("anno_seq"))
        .orderBy(col("behavior"), col("anno_seq"))
    }),

    // P9/A3/W11: sliding-window validity over the processed fixture — the
    // ≥0.7 finite-cell filter — vs the same windows re-derived in SQL from
    // the golden parquet.
    "v_window_validity" -> ((s, _) => {
      WindowAssembler.assemble(pipeline(s))
        .select(col("window_start"), col("valid_ratio"), col("t_mid"))
        .orderBy(col("window_start"))
    }),

    // M2/M3/A12: the real distributed scoring path (CnnScorer.score —
    // broadcast weights, mapPartitions seam, z-score + conv trunk + head)
    // over the golden windows, vs the NumPy-computed expected confidences.
    // Rounded to 4 decimals on both sides: the two float32 forward passes
    // agree to ~1e-6, and the comparison is deterministic (fixed fixtures,
    // fixed binaries), so a local pass is a driver pass.
    "v_cnn_scores" -> ((s, _) => {
      val wts = CnnScorer.loadWeights(s, cnnWeights)
      // norm-stats FILE order == the golden windows' channel order
      val statsRows = s.read.parquet(normStats).collect()
      val mean = statsRows.map(_.getDouble(1))
      val std = statsRows.map(_.getDouble(2))
      val windows = s.read.parquet(cnnGolden)
        .select(lit("g").as("ride_id"),
          col("win_id").cast("long").as("window_start"),
          lit(0.0).as("t_mid"),
          expr("transform(sequence(0, 29), t -> slice(window, t*24 + 1, 24))")
            .as("features"))
      val scoreCols = VescSchema.ConfidenceCols
        .map(c => col("score_" + c.stripPrefix("cf_")))
      CnnScorer.score(windows, wts, mean, std)
        .select(col("window_start").as("win_id"),
          posexplode(array(scoreCols: _*)))
        .select(col("win_id"), col("pos").cast("long").as("cls"),
          (floor(col("col").cast("double") * 10000 + lit(0.5)) / 10000.0).as("score"))
        .orderBy(col("win_id"), col("cls"))
    }),

    // M7 full-network gradient: ONE distributed TrunkTrainer.gradPass
    // (masked-BCE backprop through conv/BN/res/head, frozen BN stats) over
    // the golden windows with deterministic labels, vs an independent
    // NumPy backprop (tools/golden_trunk_grad.py, FD-self-checked).
    // Per-block L2 norms compared on a LOG scale rounded to 3 decimals:
    // the two float32 forwards agree to ~1e-5 relative, far inside the
    // 5e-4 half-bucket, while an absolute rounding of a norm ~1700 would
    // sit on the boundary.
    "m7_trunk_gradient" -> ((s, _) => {
      val wts = CnnScorer.loadWeights(s, cnnWeights)
      val statsRows = s.read.parquet(normStats).collect()
      val mean = statsRows.map(_.getDouble(1))
      val std = statsRows.map(_.getDouble(2))
      val base = s.read.parquet(cnnGolden).select(
        lit("g").as("ride_id"),
        col("win_id").cast("long").as("window_start"),
        expr("transform(sequence(0, 29), t -> slice(window, t*24 + 1, 24))")
          .as("features"))
      val withY = VescSchema.ConfidenceCols.zipWithIndex.foldLeft(base) {
        case (df, (c, i)) =>
          df.withColumn("y_" + c,
            when(pmod(col("window_start") + i, lit(5)) === 0, lit(Double.NaN))
              .otherwise(pmod(col("window_start") + i, lit(3)).cast("double") / 2.0))
      }
      val rows = TrunkTrainer.normalizedWindows(withY, mean, std)
      val buf = TrunkTrainer.gradPass(rows.select(col("win"), col("y")), wts)
      def enc(x: Double) = math.floor(math.log(x) * 1000 + 0.5) / 1000.0
      val spec = TrunkGrad.blockSpec(wts)
      val offs = spec.scanLeft(0)(_ + _._2).init
      val out = spec.zip(offs).map { case ((name, len), off) =>
        var ss = 0.0
        var i = off
        while (i < off + len) { ss += buf.g(i) * buf.g(i); i += 1 }
        (name, enc(math.sqrt(ss)))
      } ++ Seq(("loss", enc(buf.loss)), ("labeled", buf.labeled.toDouble))
      import s.implicits._
      out.toDF("block", "value").orderBy(col("block"))
    }),

    // M7 TRAIN-MODE (batch-statistics) full-network gradient: the exact
    // SyncBatchNorm-shaped distributed pass (TrunkTrainer.gradPassBn — 5
    // stat syncs + 5 moment syncs + 1 gradient aggregation, every one
    // bounded and map-side combined) over the same golden windows as ONE
    // batch, vs an independent NumPy train-mode backprop
    // (tools/golden_trunk_grad_bn.py, FD-self-checked with the d(stats)/dx
    // coupling in the FD). Same log-scale 3-decimal encoding as
    // m7_trunk_gradient.
    "m7_trunk_gradient_bn" -> ((s, _) => {
      val wts = CnnScorer.loadWeights(s, cnnWeights)
      val statsRows = s.read.parquet(normStats).collect()
      val mean = statsRows.map(_.getDouble(1))
      val std = statsRows.map(_.getDouble(2))
      val base = s.read.parquet(cnnGolden).select(
        lit("g").as("ride_id"),
        col("win_id").cast("long").as("window_start"),
        expr("transform(sequence(0, 29), t -> slice(window, t*24 + 1, 24))")
          .as("features"))
      // window 3 is FULLY unlabeled (zero-label rows couple into every
      // layer below the topmost BN via the batch stats — the fixture row
      // that would have caught the r05 sign bug at the driver gate)
      val withY = VescSchema.ConfidenceCols.zipWithIndex.foldLeft(base) {
        case (df, (c, i)) =>
          df.withColumn("y_" + c,
            when(col("window_start") === 3, lit(Double.NaN))
              .when(pmod(col("window_start") + i, lit(5)) === 0, lit(Double.NaN))
              .otherwise(pmod(col("window_start") + i, lit(3)).cast("double") / 2.0))
      }
      // the 11 passes re-scan the batch — persist it like the trainer does
      val rows = TrunkTrainer.normalizedWindows(withY, mean, std)
        .select(col("win"), col("y")).persist()
      val (buf, _) = try TrunkTrainer.gradPassBn(rows, wts)
        finally rows.unpersist()
      // conv biases feeding straight into a BN layer have an EXACTLY-zero
      // gradient in train mode (the batch mean absorbs them) — both
      // engines compute ~1e-8 float noise there, so norms below 1e-6
      // encode as a sentinel instead of log(noise)
      def enc(x: Double) =
        if (x < 1e-6) -999.0 else math.floor(math.log(x) * 1000 + 0.5) / 1000.0
      val spec = TrunkGrad.blockSpec(wts)
      val offs = spec.scanLeft(0)(_ + _._2).init
      val out = spec.zip(offs).map { case ((name, len), off) =>
        var ss = 0.0
        var i = off
        while (i < off + len) { ss += buf.g(i) * buf.g(i); i += 1 }
        (name, enc(math.sqrt(ss)))
      } ++ Seq(("loss", enc(buf.loss)), ("labeled", buf.labeled.toDouble))
      import s.implicits._
      out.toDF("block", "value").orderBy(col("block"))
    }),

    // W13: video-timestamp anchoring through the full CLI sync path
    // (preprocess + --vid_time/--log_time), vs the pandas-derived golden
    // (tools/golden_video_anchor.py) — exact string compare.
    "v_video_anchor" -> ((s, _) => {
      VescPipeline.preprocessTraining(s, Seq(rawCsv), rideId = Some("ride_101"),
          vidTime = Some(vidTime), logTime = Some(logTime))
        .select(col("sample_idx").cast("long").as("sample_idx"),
          col("video_ts_anchor"))
        .orderBy(col("sample_idx"))
    }))

  // per-row finite-cell count over the 24 feature columns (NaN-aware)
  private val finiteCellsSql = VescSchema.FeatureCols
    .map(c => s"""CASE WHEN "$c" IS NOT NULL AND NOT isnan("$c") THEN 1 ELSE 0 END""")
    .mkString(" + ")

  private val annoConfCols = Seq("conf_accel", "conf_brake", "conf_forward",
    "conf_idle", "conf_reverse", "conf_turn_left", "conf_turn_right")

  private val annoUnionSql = annoConfCols.map { c =>
    s"""SELECT CAST(id AS BIGINT) AS anno_row, "$c" AS cell,
       |  'cf_${c.stripPrefix("conf_")}' AS behavior
       |FROM read_csv('$annoCsv', header=true, all_varchar=true)
       |WHERE "$c" IS NOT NULL""".stripMargin
  }.mkString("\nUNION ALL\n")

  override val oracle: Map[String, String] = Map(
    "v_grid_exact" ->
      s"""SELECT sample_idx, ms_today, dt_ms, _elapsed_ms,
         |  CAST(epoch_ms(ts_utc) AS BIGINT) AS ts_utc_ms,
         |  CAST(epoch_ms(ts_pst) AS BIGINT) AS ts_pst_ms,
         |  _on_grid
         |FROM '$goldenParquet' ORDER BY sample_idx""".stripMargin,
    "v_raw_allowlist" ->
      s"""WITH raw AS (
         |  SELECT row_number() OVER () - 1 AS sample_idx,
         |    TRY_CAST(ms_today AS DOUBLE) AS ms_d,
         |    TRY_CAST(speed_meters_per_sec AS DOUBLE) AS speed_meters_per_sec,
         |    TRY_CAST(erpm AS DOUBLE) AS erpm,
         |    TRY_CAST(duty_cycle AS DOUBLE) AS duty_cycle,
         |    TRY_CAST(gnss_lat AS DOUBLE) AS gnss_lat,
         |    TRY_CAST(fault_code AS DOUBLE) AS fault_code
         |  FROM read_csv('$rawCsv', delim=';', header=true, all_varchar=true))
         |SELECT CAST(ms_d AS BIGINT) AS ms_today, speed_meters_per_sec, erpm,
         |  duty_cycle, gnss_lat, fault_code,
         |  CAST(epoch_ms(TIMESTAMP '2025-09-30 00:00:00') + ms_d AS BIGINT)
         |    AS ts_utc_ms,
         |  sample_idx
         |FROM raw ORDER BY sample_idx""".stripMargin,
    "v_annotations_parse" ->
      s"""WITH a AS (
         |$annoUnionSql),
         |e AS (SELECT behavior, anno_row, i.i AS item_idx,
         |    json_extract_string(cell, '$$[' || i.i || '].start') AS start0,
         |    json_extract_string(cell, '$$[' || i.i || '].end') AS end0,
         |    TRY_CAST(json_extract_string(cell, '$$[' || i.i || '].number')
         |      AS DOUBLE) AS conf
         |  FROM a, (SELECT unnest(generate_series(0, 200)) AS i) i
         |  WHERE i.i < json_array_length(cell))
         |SELECT behavior,
         |  regexp_replace(start0, '^\\+', '') AS start_str,
         |  regexp_replace(end0, '^\\+', '') AS end_str,
         |  conf,
         |  anno_row * 100000 + item_idx AS anno_seq
         |FROM e WHERE conf IS NOT NULL
         |ORDER BY behavior, anno_seq""".stripMargin,
    "v_window_validity" ->
      s"""WITH g AS (SELECT * FROM '$goldenParquet'),
         |tot AS (SELECT count(*) AS total FROM g),
         |w AS (SELECT sample_idx AS window_start FROM g
         |  WHERE sample_idx % 5 = 0
         |    AND sample_idx + 30 <= (SELECT total FROM tot)),
         |cells AS (
         |  SELECT w.window_start, $finiteCellsSql AS finite, g.ms_today
         |  FROM w JOIN g ON g.sample_idx >= w.window_start
         |    AND g.sample_idx < w.window_start + 30),
         |v AS (SELECT window_start, sum(finite) AS valid,
         |    (array_agg(ms_today ORDER BY ms_today))[15] AS med_lo,
         |    (array_agg(ms_today ORDER BY ms_today))[16] AS med_hi
         |  FROM cells GROUP BY 1)
         |SELECT window_start,
         |  CAST(valid AS DOUBLE) / ${30 * VescSchema.FeatureCols.size}.0
         |    AS valid_ratio,
         |  (CAST(med_lo AS DOUBLE) + CAST(med_hi AS DOUBLE)) / 2.0 AS t_mid
         |FROM v
         |WHERE CAST(valid AS DOUBLE) / ${30 * VescSchema.FeatureCols.size}.0 >= 0.7
         |ORDER BY window_start""".stripMargin,
    "v_cnn_scores" ->
      s"""SELECT CAST(win_id AS BIGINT) AS win_id,
         |  unnest(generate_series(0, len(expected) - 1)) AS cls,
         |  floor(unnest(expected) * 10000 + 0.5) / 10000.0 AS score
         |FROM '$cnnGolden'
         |ORDER BY win_id, cls""".stripMargin,
    "v_video_anchor" ->
      s"""SELECT CAST(sample_idx AS BIGINT) AS sample_idx, video_ts_anchor
         |FROM read_csv('$videoGolden', header=true,
         |  types={'video_ts_anchor': 'VARCHAR'})
         |ORDER BY sample_idx""".stripMargin,
    "m7_trunk_gradient" ->
      s"""SELECT block, value
         |FROM '/root/repo/src/test/resources/trunk_grad_golden.parquet'
         |ORDER BY block""".stripMargin,
    "m7_trunk_gradient_bn" ->
      s"""SELECT block, value
         |FROM '/root/repo/src/test/resources/trunk_grad_bn_golden.parquet'
         |ORDER BY block""".stripMargin
  )
}
