package graft.vesc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Raw VESC Tool log ingestion (reference S1/P1/P2/F1–F3/W2/W3:
  * training_preprocessing.py:45-99, prod_preprocessing.py:10-33).
  *
  * Reads any number of semicolon-delimited logs in one scan; per-file
  * semantics (sample numbering, lag-diff, ride identity) are expressed as
  * window functions partitioned by `ride_id`, so a directory of thousands of
  * logs ingests as a single distributed job — there is no per-file driver
  * loop anywhere.
  */
object RawLogReader {

  /** Read raw logs. Every column is read as string and cast to double
    * with `try_cast` (malformed cells → null, the `errors="coerce"`
    * semantics; a plain cast throws on them under ANSI mode); the
    * ride date comes from the `YYYY-MM-DD` in the filename and the ride id
    * from a `ride log NN` parent directory (overridable).
    */
  def readRaw(spark: SparkSession, paths: Seq[String], channels: Seq[String],
              rideId: Option[String] = None): DataFrame = {
    val raw = spark.read
      .option("sep", ";")
      .option("header", "true")
      .csv(paths: _*)
      .withColumn("__file", input_file_name())

    val present = channels.filter(raw.columns.contains)
    val cast = raw.select(
      present.map(c => col(c).try_cast("double").as(c)) :+ col("__file"): _*)

    // F1: date from filename → midnight UTC; F3: ts_utc = midnight + ms_today
    val datePart = regexp_extract(col("__file"), "(\\d{4})-(\\d{2})-(\\d{2})", 0)
    // F2: ride id from parent folder name, else explicit, else unknown
    val parent = regexp_extract(col("__file"), "([^/]+)/[^/]+$", 1)
    val rideNum = regexp_extract(lower(parent), "ride[\\s_-]*log[\\s_-]*(\\d+)", 1)
    val inferredRide = when(rideNum =!= "",
      format_string("ride_%02d", rideNum.cast("int"))).otherwise("unknown_ride_id")

    val withIds = cast
      .withColumn("ride_id", rideId.map(lit(_): org.apache.spark.sql.Column)
        .getOrElse(inferredRide))
      .withColumn("__log_date", to_timestamp(datePart, "yyyy-MM-dd"))
      .withColumn("ts_utc",
        timestamp_millis(unix_millis(col("__log_date")) + col("ms_today").cast("long")))
      .drop("__log_date")

    // W3: per-log sample numbering in file order. A bare monotonic id is
    // NOT enough: Spark packs file splits into partitions sorted by size
    // (descending), so a ride spanning several CSVs could be numbered with
    // the larger file first regardless of chronology. Ordering by
    // (file name, monotonic id) pins cross-file order to the lexicographic
    // file name (VESC logs embed the timestamp in the name) while the
    // monotonic id preserves line order within a file partition.
    val w = Window.partitionBy(col("ride_id")).orderBy(col("__file"), col("__row"))
    val numbered = withIds
      .withColumn("__row", monotonically_increasing_id())
      .withColumn("sample_idx", (row_number().over(w) - 1).cast("long"))

    // W2: lag diff in ms (float in the reference; double here)
    numbered
      .withColumn("dt_ms", col("ms_today") - lag(col("ms_today"), 1).over(w))
      .drop("__row", "__file")
  }

  /** Training-mode load: adds ts_pst (ms-truncated local wall clock),
    * video_ts_anchor placeholder, and the 13 null cf_* columns
    * (training_preprocessing.py:73-97).
    */
  def readTraining(spark: SparkSession, paths: Seq[String],
                   rideId: Option[String] = None): DataFrame = {
    val base = readRaw(spark, paths, VescSchema.TrainingChannels, rideId)
      .withColumn("video_ts_anchor", lit(null).cast("string"))
      .withColumn("ts_pst", toPstMillis(col("ts_utc")))
    VescSchema.ConfidenceCols.foldLeft(base)(
      (df, c) => df.withColumn(c, lit(null).cast("double")))
  }

  /** Production-mode load: channels only + sample_idx + ts_utc. */
  def readProd(spark: SparkSession, paths: Seq[String]): DataFrame =
    readRaw(spark, paths, VescSchema.ProdChannels)
      .drop("ride_id", "dt_ms")
      .withColumn("ride_id", lit("prod"))

  /** Local wall-clock timestamp truncated to milliseconds — the reference
    * formats with %f then strips to ms (training_preprocessing.py:80-86).
    */
  def toPstMillis(tsUtc: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val us = unix_micros(from_utc_timestamp(tsUtc, VescSchema.LocalTz))
    timestamp_micros(us - pmod(us, lit(1000L)))
  }
}
