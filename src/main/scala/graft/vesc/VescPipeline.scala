package graft.vesc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

/** End-to-end pipelines — the reference's three entry points (SURVEY §3)
  * as single lazy DataFrame DAGs. The reference materializes CSV between
  * stages (app.py:113-120); here Catalyst plans the whole flow at once.
  * [[analyze]] reads its logs in one scan and runs the grid, windows,
  * scores and display post-processing in one per-ride pass ([[RidePass]]):
  * no exchange, no window operator and no join (AnalyzeOnceSpec pins this
  * shape).
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
    *
    * One CSV scan ([[RawLogReader.scan]], its header read on the driver),
    * one sort on (ms_today, file, row) and one [[RidePass.perRide]] pass.
    * Every row is ride `prod`, so the call is one ride whatever the number
    * of logs: the scan's splits are coalesced into the pass's single task,
    * the plan has no exchange, and a `collect` is one Spark job of one
    * stage.
    *
    * The pass runs, per ride: keep-first dedup (the sort puts the first row
    * in file order first, so the reader's numbering is not needed), the
    * 10 Hz grid ([[RidePass.resample]] over the model features — the
    * production flavour's interpolated channels),
    * the stride-aligned windows ([[RidePass.windows]]), scoring through
    * [[CnnScorer.normalizedWindow]] and [[CnnScorer.scoreRanges]], and the
    * display post-processing ([[RidePass.timeline]]). The scoring, the
    * largest block of the pass, runs on every core inside the one task:
    * the windows are split into one contiguous index range per core
    * ([[CnnScorer.coreRanges]]), one on the task's thread and one on each
    * worker of the JVM's common pool, each with its own
    * [[CnnScorer.Trunk]]. Every value is
    * bit-identical to composing [[Resampler.prodResample]],
    * [[WindowAssembler.assemble]], [[CnnScorer.score]] and
    * [[Postprocess.displayTimeline]].
    */
  def analyze(spark: SparkSession, rawPaths: Seq[String],
              weights: CnnScorer.CnnWeights,
              mean: Array[Double], std: Array[Double]): DataFrame = {
    val raw = RawLogReader.scan(spark, rawPaths, VescSchema.ProdChannels)
    val feats = VescSchema.FeatureCols.filter(raw.columns.contains)
    val cfCols = VescSchema.ConfidenceCols
    val groups = RidePass.conflictGroups(cfCols)
    val model = spark.sparkContext.broadcast((weights, mean.map(_.toFloat), std.map(_.toFloat)))
    val input = raw.select(Seq(lit("prod").as("ride_id"), col("ms_today"), col("__file"),
      col("__row")) ++ feats.map(col): _*)
    val out = Postprocess.timelineSchema(StructField("ride_id", StringType, nullable = false),
      cfCols)
    val steps = WindowAssembler.Steps
    val order = Seq(col("ms_today"), col("__file"), col("__row"))
    RidePass.perRide(input, order, out, oneRide = true) { rows =>
      val (w, m, s) = model.value
      val (_, g) = RidePass.resample(rows, feats.indices.map(4 + _), VescSchema.StepMs,
        VescSchema.MaxGapMs.toLong)
      val win = RidePass.windows(Array.tabulate(g.length)(_.toLong), 0,
        new RidePass.Col(g.tick.map(_.toDouble), new Array[Boolean](g.length)),
        RidePass.finiteCells(g.channels, g.length), feats.size, steps,
        WindowAssembler.Stride, VescSchema.MinValidRatio)
      val cells = IndexedSeq.tabulate(g.length)(k => g.channels.map(_.get(k)))
      val perWindow = CnnScorer.scoreRanges(w, win.length, CnnScorer.coreRanges) { i =>
        val k = win.start(i)
        CnnScorer.normalizedWindow(cells.slice(k, k + steps), m, s)
      }
      val scores = cfCols.indices.map(c =>
        new RidePass.Col(perWindow.map(_(c).toDouble), new Array[Boolean](win.length)))
      val tMid = new RidePass.Col(win.tMid, new Array[Boolean](win.length))
      RidePass.timeline(rows.head.get(0), tMid, scores, groups, Export.DisplayDt)
    }
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
