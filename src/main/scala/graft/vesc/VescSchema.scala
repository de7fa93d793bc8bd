package graft.vesc

/** Column registries and schema constants for VESC ride-log processing.
  *
  * Mirrors the reference's hard-coded allow-lists:
  * training channels (training_preprocessing.py:62-67), production channels
  * (prod_preprocessing.py:16-21), behavior confidences and feature columns
  * (model/vesc_dataset.py:8-33), output orderings
  * (training_preprocessing.py:219-234, prod_preprocessing.py:143-151), and
  * the exclusivity / conflict group definitions
  * (training_apply_behavior_annotations.py:34-58, application/app.py:249-269).
  */
object VescSchema {

  /** Channels kept from a raw training log (S1 + P1). */
  val TrainingChannels: Seq[String] = Seq(
    "ms_today", "speed_meters_per_sec", "erpm", "duty_cycle", "current_in",
    "current_motor", "d_axis_current", "q_axis_current", "roll", "pitch", "yaw",
    "accX", "accY", "accZ", "gyroX", "gyroY", "gyroZ", "gnss_lat",
    "fault_code", "d_axis_voltage", "q_axis_voltage", "tacho_meters",
    "tacho_abs_meters", "gnss_lon", "gnss_alt", "gnss_gVel", "gnss_vVel",
    "input_voltage", "temp_mos_max", "temp_motor", "battery_level")

  /** Channels kept from a raw production log (no GNSS). */
  val ProdChannels: Seq[String] = Seq(
    "ms_today", "speed_meters_per_sec", "erpm", "duty_cycle", "current_in",
    "current_motor", "d_axis_current", "q_axis_current", "roll", "pitch", "yaw",
    "accX", "accY", "accZ", "gyroX", "gyroY", "gyroZ", "fault_code",
    "d_axis_voltage", "q_axis_voltage", "tacho_meters", "tacho_abs_meters",
    "input_voltage", "temp_mos_max", "temp_motor", "battery_level")

  /** The 13 behavior-confidence columns, model output order. */
  val ConfidenceCols: Seq[String] = Seq(
    "cf_accel", "cf_brake", "cf_cruise", "cf_turn_left", "cf_turn_right",
    "cf_carve_left", "cf_carve_right", "cf_ascent", "cf_descent",
    "cf_traction_loss", "cf_idle", "cf_forward", "cf_reverse")

  /** The 24 model input features, in model channel order. */
  val FeatureCols: Seq[String] = Seq(
    "speed_meters_per_sec", "erpm", "duty_cycle", "current_in", "current_motor",
    "d_axis_current", "q_axis_current", "d_axis_voltage", "q_axis_voltage",
    "roll", "pitch", "yaw", "accX", "accY", "accZ", "gyroX", "gyroY", "gyroZ",
    "tacho_meters", "tacho_abs_meters",
    "input_voltage", "temp_mos_max", "temp_motor", "battery_level")

  /** Columns never interpolated during resampling
    * (training_preprocessing.py:117-118; sample_idx/fault_code stay null on
    * synthetic rows).
    */
  val ProtectedCols: Seq[String] = Seq("fault_code", "vesc_id", "sample_idx")

  /** Normative column order of a processed training log. */
  val TrainingOutputOrder: Seq[String] = Seq(
    "ride_id", "sample_idx", "_elapsed_ms", "ts_utc", "ts_pst",
    "video_ts_anchor", "ms_today") ++ ConfidenceColsOrdered ++ Seq(
    "speed_meters_per_sec", "erpm", "duty_cycle", "current_in", "current_motor",
    "d_axis_current", "q_axis_current", "roll", "pitch", "yaw", "accX", "accY",
    "accZ", "gyroX", "gyroY", "gyroZ", "gnss_lat", "fault_code",
    "d_axis_voltage", "q_axis_voltage", "tacho_meters", "tacho_abs_meters",
    "gnss_lon", "gnss_alt", "gnss_gVel", "gnss_vVel", "input_voltage",
    "temp_mos_max", "temp_motor", "battery_level")

  /** cf_* order used in the training output header (differs from model
    * order): training_preprocessing.py:221-223.
    */
  private def ConfidenceColsOrdered: Seq[String] = Seq(
    "cf_accel", "cf_brake", "cf_cruise", "cf_turn_left", "cf_turn_right",
    "cf_carve_left", "cf_carve_right", "cf_ascent", "cf_descent",
    "cf_traction_loss", "cf_idle", "cf_forward", "cf_reverse")

  /** Normative column order of a processed production log. */
  val ProdOutputOrder: Seq[String] = Seq(
    "sample_idx", "ts_utc", "ms_today",
    "speed_meters_per_sec", "erpm", "duty_cycle", "current_in", "current_motor",
    "d_axis_current", "q_axis_current", "roll", "pitch", "yaw", "accX", "accY",
    "accZ", "gyroX", "gyroY", "gyroZ", "fault_code", "d_axis_voltage",
    "q_axis_voltage", "tacho_meters", "tacho_abs_meters", "input_voltage",
    "temp_mos_max", "temp_motor", "battery_level")

  /** Internally-exclusive behavior groups
    * (training_apply_behavior_annotations.py:48-52).
    */
  val InternallyExclusiveGroups: Seq[(String, Seq[String])] = Seq(
    "direction" -> Seq("cf_forward", "cf_reverse"),
    "speed_internal" -> Seq("cf_accel", "cf_brake", "cf_cruise"),
    "env_grade" -> Seq("cf_ascent", "cf_descent"))

  /** Cross-exclusive group pairs, applied in order
    * (training_apply_behavior_annotations.py:55-58 over group defs :34-45).
    */
  val CrossExclusivePairs: Seq[(Seq[String], Seq[String])] = Seq(
    (Seq("cf_turn_left", "cf_carve_left"), Seq("cf_turn_right", "cf_carve_right")),
    (Seq("cf_traction_loss"), Seq("cf_accel", "cf_brake", "cf_cruise")),
    (Seq("cf_idle"), Seq("cf_turn_left", "cf_carve_left", "cf_turn_right",
      "cf_carve_right", "cf_traction_loss", "cf_accel", "cf_brake", "cf_cruise",
      "cf_ascent", "cf_descent", "cf_forward", "cf_reverse")))

  /** Display conflict groups, applied sequentially (application/app.py:249-269). */
  val DisplayConflictGroups: Seq[Seq[String]] = Seq(
    Seq("cf_turn_left", "cf_turn_right"),
    Seq("cf_turn_left", "cf_carve_left"),
    Seq("cf_turn_left", "cf_carve_right"),
    Seq("cf_turn_right", "cf_carve_right"),
    Seq("cf_turn_right", "cf_carve_left"),
    Seq("cf_carve_left", "cf_carve_right"),
    Seq("cf_accel", "cf_brake"),
    Seq("cf_ascent", "cf_descent"),
    Seq("cf_forward", "cf_reverse"),
    Seq("cf_idle", "cf_brake"),
    Seq("cf_idle", "cf_forward"),
    Seq("cf_idle", "cf_reverse"),
    Seq("cf_idle", "cf_accel"),
    Seq("cf_idle", "cf_ascent"),
    Seq("cf_idle", "cf_descent"),
    Seq("cf_idle", "cf_turn_left"),
    Seq("cf_idle", "cf_turn_right"),
    Seq("cf_idle", "cf_carve_left"),
    Seq("cf_idle", "cf_carve_right"))

  val StepMs: Long = 100L
  val MaxGapMs: Double = 250.0
  val MinValidRatio: Double = 0.7
  val LocalTz: String = "America/Los_Angeles"
}
