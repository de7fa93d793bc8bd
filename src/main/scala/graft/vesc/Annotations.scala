package graft.vesc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Label Studio annotation ingestion and application (reference S4/F9/J2:
  * training_apply_behavior_annotations.py:3-29).
  *
  * Each `conf_<behavior>` CSV cell holds a JSON array of time ranges; ranges
  * are applied onto the 10 Hz log as an interval join where later ranges
  * overwrite earlier ones (the reference iterates and mutates — here the
  * same last-wins semantics come from `max_by(conf, ordinal)` per sample).
  * The annotation side is tiny and broadcast; the fact side never shuffles.
  */
object Annotations {

  private val rangeSchema = ArrayType(StructType(Seq(
    StructField("start", StringType),
    StructField("end", StringType),
    StructField("instant", BooleanType),
    StructField("timeserieslabels", ArrayType(StringType)),
    StructField("number", DoubleType))))

  /** Read a Label Studio export and explode every `conf_*` cell into
    * interval rows: (behavior, start_str, end_str, conf, anno_seq).
    * `anno_seq` reproduces the reference's iteration order (annotation row,
    * then JSON item) per behavior column; items without `number` are
    * dropped (reference :25-26).
    */
  def readAnnotations(spark: SparkSession, path: String): DataFrame = {
    val ls = spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").csv(path)
    val confCols = ls.columns.filter(_.startsWith("conf_")).toSeq
    val perCol = confCols.map { c =>
      val behavior = "cf_" + c.stripPrefix("conf_")
      ls.select(
          col("id").cast(LongType).as("anno_row"),
          from_json(col(c), rangeSchema).as("ranges"))
        .select(col("anno_row"), posexplode(col("ranges")).as(Seq("item_idx", "r")))
        .select(
          lit(behavior).as("behavior"),
          regexp_replace(col("r.start"), "^\\+", "").as("start_str"),
          regexp_replace(col("r.end"), "^\\+", "").as("end_str"),
          col("r.number").as("conf"),
          (col("anno_row") * 100000 + col("item_idx")).as("anno_seq"))
        .filter(col("conf").isNotNull)
    }
    perCol.reduce(_ unionByName _)
  }

  /** Parse an annotation boundary that is either an absolute timestamp
    * (`yyyy-MM-dd HH:mm:ss[.fff]`, any fractional width including none) or
    * a video offset (`H:MM:SS.s`), to microseconds comparable with the
    * log's anchor column.
    *
    * Absolute form is detected by a leading date regex, NOT by whether one
    * fixed pattern parses: `2025-09-30 11:08:03` (no fraction) must still
    * take the timestamp path — falling through to the offset parse would
    * let the date text poison the hour cast and silently null the
    * boundary. An absolute boundary that fails every pattern yields null
    * (visible as a dropped range) rather than a bogus offset.
    */
  def boundaryMicros(s: Column): Column = {
    val isAbsolute = s.rlike("^\\d{4}-\\d{2}-\\d{2}")
    // try_to_timestamp without a pattern uses cast semantics: optional
    // fractional seconds of any width; the explicit .SSS pattern keeps the
    // original exact-3-digit fast path first.
    val asTs = coalesce(
      try_to_timestamp(s, lit("yyyy-MM-dd HH:mm:ss.SSS")),
      try_to_timestamp(s))
    val parts = split(s, ":")
    val secs = element_at(parts, -1).cast(DoubleType)
    val mins = element_at(parts, -2).cast(LongType)
    val hrs = when(size(parts) >= 3, element_at(parts, -3).cast(LongType)).otherwise(0L)
    val offsetUs = ((hrs * 3600 + mins * 60).cast(DoubleType) + secs) * 1e6
    when(isAbsolute, unix_micros(asTs)).otherwise(offsetUs.cast(LongType))
  }

  /** Apply annotation ranges to a processed log: for each sample and
    * behavior, cf_<b> takes the conf of the matching interval with the
    * greatest `anno_seq` (last-wins); unmatched samples keep their existing
    * value. `anchor` is the sample-side time column in micros (ts_pst for
    * absolute annotations, video offset for `+H:MM:SS` exports).
    * `factKey` must uniquely identify log rows — overlap resolution groups
    * on it alone (narrow keys, no double-typed grouping columns); the
    * remaining log columns ride along via `any_value`.
    */
  def applyRanges(log: DataFrame, annotations: DataFrame, anchor: Column,
                  factKey: Seq[String] = Seq("ride_id", "sample_idx")): DataFrame = {
    val annos = annotations
      .withColumn("start_us", boundaryMicros(col("start_str")))
      .withColumn("end_us", boundaryMicros(col("end_str")))
      .select("behavior", "start_us", "end_us", "conf", "anno_seq")

    val fact = log.withColumn("__us", anchor)
    val joined = fact.join(
      broadcast(annos),
      col("__us") >= col("start_us") && col("__us") < col("end_us"),
      "left")

    val logCols = log.columns.toSeq
    val behaviors = annotations.select("behavior").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val aggs = behaviors.map { b =>
      max_by(when(col("behavior") === b, col("conf")),
        when(col("behavior") === b, col("anno_seq"))).as("__new_" + b)
    } ++ logCols.filterNot(factKey.contains).map(c => any_value(col(c)).as(c))
    val grouped = joined
      .groupBy(factKey.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

    val applied = behaviors.foldLeft(grouped) { (df, b) =>
      val existing = if (logCols.contains(b)) col(b) else lit(null).cast(DoubleType)
      df.withColumn(b, coalesce(col("__new_" + b), existing))
    }
    applied.drop(behaviors.map("__new_" + _): _*).drop("__us")
  }
}
