package graft.vesc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end pipelines — the reference's three entry points (SURVEY §3)
  * as single lazy DataFrame DAGs. The reference materializes CSV between
  * stages (app.py:113-120); here Catalyst plans the whole flow at once.
  * [[analyze]] reads its logs in one scan and scores each window once, with
  * no join: its exchanges are the reader's per-log numbering, the
  * keep-first dedup on (ride, ms_today) and the per-ride layout that the
  * grid, windows, scores and display post-processing all share
  * (AnalyzeOnceSpec pins this shape).
  */
object VescPipeline {

  /** Bundled scorer assets (weights exported once from the reference
    * checkpoint to a neutral parquet table, plus the normalization stats) —
    * extracted from the classpath to temp files so `analyze` works out of
    * the box. The temp files are deleted once both are collected.
    */
  def bundled(spark: SparkSession): (CnnScorer.CnnWeights, Array[Double], Array[Double]) = {
    val extracted = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def extract(name: String): String = {
      val in = getClass.getResourceAsStream("/" + name)
      require(in != null, s"bundled resource $name missing")
      try {
        val tmp = java.nio.file.Files.createTempFile("graft_", name)
        extracted += tmp
        java.nio.file.Files.copy(in, tmp,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        tmp.toString
      } finally in.close()
    }
    try {
      val weights = CnnScorer.loadWeights(spark, extract("cnn_weights.parquet"))
      val stats = Normalizer.load(spark, extract("norm_stats.parquet"))
      // channel order must match the assembled window matrix (FeatureCols);
      // `load` is lazy, so the stats file is read here
      val (mean, std) = Normalizer.collectStats(stats, VescSchema.FeatureCols)
      (weights, mean, std)
    } finally extracted.foreach(java.nio.file.Files.deleteIfExists)
  }

  /** Production analysis with the bundled model. */
  def analyze(spark: SparkSession, rawPaths: Seq[String]): DataFrame = {
    val (w, m, s) = bundled(spark)
    analyze(spark, rawPaths, w, m, s)
  }

  /** Production analysis (reference app.py:354-366): raw log(s) → scored,
    * conflict-suppressed, display-downsampled behavior timeline.
    */
  def analyze(spark: SparkSession, rawPaths: Seq[String],
              weights: CnnScorer.CnnWeights,
              mean: Array[Double], std: Array[Double]): DataFrame = {
    val raw = RawLogReader.readProd(spark, rawPaths)
    val grid = Resampler.prodResample(raw.withColumn("ride_id",
      coalesce(col("ride_id"), lit("prod"))))
    val windows = WindowAssembler.assemble(
      grid.withColumn("ride_id", lit("prod")))
    val scored = CnnScorer.score(windows, weights, mean, std)
    Postprocess.displayTimeline(scored)
  }

  /** Training preprocessing (reference training_preprocessing.py:280-324):
    * raw log(s) → 10 Hz processed table (cf_* all null). When both
    * `vidTime` and `logTime` are given — the CLI's `--vid_time/--log_time`
    * synchronization path (:314-316) — `video_ts_anchor` is populated via
    * [[VideoAnchor.insertAnchor]] (W13).
    */
  def preprocessTraining(spark: SparkSession, rawPaths: Seq[String],
                         rideId: Option[String] = None,
                         vidTime: Option[String] = None,
                         logTime: Option[String] = None): DataFrame = {
    val processed =
      Resampler.trainingResample(RawLogReader.readTraining(spark, rawPaths, rideId))
    (vidTime, logTime) match {
      case (Some(v), Some(l)) => VideoAnchor.insertAnchor(processed, v, l)
      case _ => processed
    }
  }

  /** Annotation application (reference
    * training_apply_behavior_annotations.py:103-122): processed log +
    * Label Studio export → labeled table with exclusivity rules applied.
    * Annotations here use absolute `ts_pst` timestamps (the form the
    * shipped fixtures were labeled with).
    */
  def applyAnnotations(spark: SparkSession, processed: DataFrame,
                       annotationCsv: String): DataFrame = {
    val annos = Annotations.readAnnotations(spark, annotationCsv)
    val labeled = Annotations.applyRanges(
      processed, annos, unix_micros(col("ts_pst")))
    ExclusivityRules(labeled)
  }
}
