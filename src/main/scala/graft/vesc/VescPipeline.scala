package graft.vesc

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

/** End-to-end pipelines — the reference's three entry points (SURVEY §3)
  * as single lazy DataFrame DAGs. The reference materializes CSV between
  * stages (app.py:113-120); here Catalyst plans the whole flow at once.
  * [[analyze]] reads each log's bytes once and runs the parse, grid,
  * windows, scores and display post-processing per log in one
  * `mapPartitions` ([[RidePass]]): no CSV scan, no sort, no exchange, no
  * window operator and no join (AnalyzeOnceSpec pins this shape).
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
    * conflict-suppressed, display-downsampled behavior timeline, one ride
    * per log. The logs are one `binaryFile` read ([[RawLogReader.logs]])
    * handed to [[analyzeLogs]], so a call is one Spark job with no
    * exchange, and each log is read once.
    */
  def analyze(spark: SparkSession, rawPaths: Seq[String],
              weights: CnnScorer.CnnWeights,
              mean: Array[Double], std: Array[Double]): DataFrame =
    analyzeLogs(RawLogReader.logs(spark, rawPaths), weights, mean, std)

  /** The analysis of `logs`, rows of the `binaryFile` source (its `path`
    * and `content` are read, any other column only by `keep`; an upload
    * micro-batch is such a table): one `mapPartitions` over them, each log
    * one ride whose `ride_id` is its path, so `analyzeLogs(a ∪ b)` is
    * `analyzeLogs(a) ∪ analyzeLogs(b)`. `keep` picks, from each
    * partition's rows, the logs to analyze (all by default); a caller
    * that picks among all of `logs` coalesces them into one partition
    * first, as [[App]] does to analyze only the newest upload. Picking
    * inside the pass adds no operator: a Dataset operator of its own would
    * cost a cold upload two more generated classes and a second
    * conversion of every row.
    *
    * Per log, inside the task that holds its row: [[RawLogReader.parse]]
    * reads ms_today and the model features by the log's own header, then
    * the 10 Hz grid ([[RidePass.resampleLog]]: an index sort by (ms_today,
    * line), keep-first dedup, the grid over the model features), the
    * stride-aligned windows ([[RidePass.windows]]), scoring through
    * [[CnnScorer.normalizedWindow]] and [[CnnScorer.scoreRanges]], and the
    * display post-processing ([[RidePass.timeline]]). No row is built per
    * line. The scoring, the largest block of the pass, runs on every core
    * inside the task: the windows are split into one contiguous index
    * range per core ([[CnnScorer.coreRanges]]), one on the task's thread
    * and one on each worker of the JVM's common pool, each with its own
    * [[CnnScorer.Trunk]]. Every value is bit-identical to composing
    * [[RawLogReader.readProd]], [[Resampler.prodResample]],
    * [[WindowAssembler.assemble]], [[CnnScorer.score]] and
    * [[Postprocess.displayTimeline]] on the log alone. A log is one row
    * and one task, so a log is bounded by `binaryFile`'s 2 GB per file
    * (VESC logs are megabytes); a call's logs spread over its tasks.
    */
  def analyzeLogs(logs: DataFrame, weights: CnnScorer.CnnWeights,
                  mean: Array[Double], std: Array[Double],
                  keep: Iterator[Row] => Iterator[Row] = identity): DataFrame = {
    val feats = VescSchema.FeatureCols
    val cfCols = VescSchema.ConfidenceCols
    val groups = RidePass.conflictGroups(cfCols)
    val model = logs.sparkSession.sparkContext
      .broadcast((weights, mean.map(_.toFloat), std.map(_.toFloat)))
    val out = Postprocess.timelineSchema(StructField("ride_id", StringType, nullable = false),
      cfCols)
    val steps = WindowAssembler.Steps
    logs.mapPartitions(rows => keep(rows).flatMap { file =>
      val (w, m, s) = model.value
      val log = RawLogReader.parse(file.getAs[Array[Byte]]("content"), "ms_today" +: feats)
      val (_, g) = RidePass.resampleLog(log.channels.head, log.channels.tail,
        VescSchema.StepMs, VescSchema.MaxGapMs.toLong)
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
      RidePass.timeline(file.getAs[String]("path"), tMid, scores, groups, Export.DisplayDt)
    })(Encoders.row(out))
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
