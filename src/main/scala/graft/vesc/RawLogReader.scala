package graft.vesc

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.io.compress.{CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField,
  StructType}

/** Raw VESC Tool log ingestion (reference S1/P1/P2/F1–F3/W2/W3:
  * training_preprocessing.py:45-99, prod_preprocessing.py:10-33).
  *
  * Reads any number of semicolon-delimited logs in one scan ([[scan]]);
  * per-file semantics (sample numbering, lag-diff, ride identity) are
  * expressed as window functions partitioned by `ride_id`, so a directory
  * of thousands of logs ingests as a single distributed job — nothing
  * loops over the files one by one.
  */
object RawLogReader {

  /** The CSV options of every raw log read. */
  private val Csv = Map("sep" -> ";", "header" -> "true")

  /** The text source's one-column schema, for listing the logs as [[scan]]
    * does.
    */
  private val TextLine = StructType(Seq(StructField("value", StringType)))

  /** The all-string schema Spark's CSV header inference gives `paths`,
    * read on the driver without a Spark job.
    *
    * Header rule: the inference takes the first non-blank line (one with a
    * character other than a space) that its text scan yields, partition by
    * partition. The scan cuts every file into splits of the scan's split
    * size (a file whose codec cannot split is one split), sorts the splits
    * by length, largest first and ties in listing order, and reads from
    * each the lines that start in it. So the header usually is the first
    * non-blank line of the file with the largest first split, but a split
    * of blank lines hands on to the next split in that order, which may be
    * another file's. The files are Spark's own listing of `paths` (globs,
    * directories, hidden and empty files, `PATH_NOT_FOUND` as for the scan
    * itself); the line is tokenized with the scan's CSV settings and the
    * names are made safe with Spark's rules (an empty name becomes `_c<i>`,
    * a case-insensitive duplicate gets its index appended). As with the
    * inference, no file is an error and only blank lines an empty schema.
    *
    * The rule restates Spark's inference, so it holds for the Spark version
    * RawLogReaderSpec checks it against (split sizes included).
    */
  def header(spark: SparkSession, paths: Seq[String]): StructType = {
    val relation = spark.read.schema(TextLine).text(paths: _*).queryExecution.analyzed
      .collectFirst { case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r }.get
    if (relation.location.inputFiles.isEmpty)
      throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "CSV"))
    val listed = relation.location.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(spark, listed)
    val conf = spark.sessionState.newHadoopConf()
    val codecs = new CompressionCodecFactory(conf)
    def splits(f: FileStatus): Seq[FileSplit] = codecs.getCodec(f.getPath) match {
      case null | _: SplittableCompressionCodec => (0L until f.getLen by maxSplit).map(at =>
        new FileSplit(f.getPath, at, math.min(maxSplit, f.getLen - at), Array.empty[String]))
      case _ => Seq(new FileSplit(f.getPath, 0, f.getLen, Array.empty[String]))
    }
    val options = new CSVOptions(Csv, true, spark.sessionState.conf.sessionLocalTimeZone)
    val names = listed.flatMap(_.files.map(_.fileStatus)).flatMap(splits)
      .sortBy(_.getLength)(Ordering[Long].reverse)
      .iterator.flatMap(firstNonBlank(_, conf))
      .nextOption()
      .fold(Array.empty[String]) { line =>
        CSVUtils.makeSafeHeader(new CsvParser(options.asParserSettings).parseLine(line),
          spark.sessionState.conf.caseSensitiveAnalysis, options)
      }
    StructType(names.map(StructField(_, StringType)))
  }

  /** The first line of `split` with a character other than a space, among
    * the lines the text scan reads from it (Hadoop's line reader: those
    * starting in the split, with `\n`, `\r` or `\r\n` line ends).
    */
  private def firstNonBlank(split: FileSplit, conf: Configuration): Option[String] = {
    val reader = new LineRecordReader()
    try {
      reader.initialize(split, new TaskAttemptContextImpl(conf, new TaskAttemptID()))
      Iterator.continually(reader.nextKeyValue()).takeWhile(identity)
        .map(_ => reader.getCurrentValue.toString).find(_.exists(_ != ' '))
    } finally reader.close()
  }

  /** The typed scan of raw logs, in one CSV read with the [[header]]
    * schema (each file's first line skipped as the header): every kept
    * channel read as string and cast to double with `try_cast` (malformed
    * cells → null, the `errors="coerce"` semantics; a plain cast throws on
    * them under ANSI mode), then `__file` (the file's URI) and `__row`, a
    * row id increasing in line order within each scan split. Nothing else:
    * ride identity and `ts_utc` are [[readRaw]]'s.
    *
    * Sort-order contract: within a ride, (`__file`, `__row`) is file
    * order. A bare monotonic id is NOT enough: Spark packs file splits into
    * partitions sorted by size (descending), so a ride spanning several
    * CSVs could be numbered with the larger file first regardless of
    * chronology. Ordering by (file name, monotonic id) pins cross-file
    * order to the lexicographic file name (VESC logs embed the timestamp in
    * the name) while the monotonic id preserves line order within a file
    * partition. [[readRaw]] numbers rows in this order; `VescPipeline`'s
    * analysis sorts by (ms_today, `__file`, `__row`) instead, so its
    * keep-first dedup keeps the first row in file order without numbering.
    */
  def scan(spark: SparkSession, paths: Seq[String], channels: Seq[String]): DataFrame = {
    val raw = spark.read.schema(header(spark, paths)).options(Csv).csv(paths: _*)
    val present = channels.filter(raw.columns.contains)
    raw.select(present.map(c => col(c).try_cast(DoubleType).as(c)) ++
      Seq(input_file_name().as("__file"), monotonically_increasing_id().as("__row")): _*)
  }

  /** Read raw logs: the [[scan]]'s channels, then `ride_id` and `ts_utc`,
    * W3's per-log `sample_idx` in file order and W2's `dt_ms`, the last
    * two as window functions partitioned by `ride_id`. The ride date comes
    * from the `YYYY-MM-DD` in the filename and the ride id from a
    * `ride log NN` parent directory (overridable by `rideId`).
    */
  def readRaw(spark: SparkSession, paths: Seq[String], channels: Seq[String],
              rideId: Option[String] = None): DataFrame = {
    val raw = scan(spark, paths, channels)
    // F1: date from filename → midnight UTC; F3: ts_utc = midnight + ms_today
    val datePart = regexp_extract(col("__file"), "(\\d{4})-(\\d{2})-(\\d{2})", 0)
    // F2: ride id from parent folder name, else explicit, else unknown;
    // input_file_name() is a URI, so a "ride log 7" folder reads "ride%20log%207"
    val parent = regexp_extract(url_decode(col("__file")), "([^/]+)/[^/]+$", 1)
    // (?i) on the raw name instead of lower(): the pattern is ASCII, so the
    // ids are the same, and Spark 4's lower() initializes ICU (~2 s, once
    // per JVM) on the first upload's critical path
    val rideNum = regexp_extract(parent, "(?i)ride[\\s_-]*log[\\s_-]*(\\d+)", 1)
    val inferredRide = when(rideNum =!= "",
      format_string("ride_%02d", rideNum.cast(IntegerType))).otherwise("unknown_ride_id")
    val tsUtc = timestamp_millis(
      unix_millis(to_timestamp(datePart, "yyyy-MM-dd")) + col("ms_today").cast(LongType))
    val w = Window.partitionBy(col("ride_id")).orderBy(col("__file"), col("__row"))
    raw.select(raw.columns.toSeq.diff(Seq("__file", "__row")).map(col) ++ Seq(
        rideId.fold(inferredRide)(lit).as("ride_id"), tsUtc.as("ts_utc"),
        col("__file"), col("__row")): _*)
      .withColumn("sample_idx", (row_number().over(w) - 1).cast(LongType))
      // W2: lag diff in ms (float in the reference; double here)
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
      .withColumn("video_ts_anchor", lit(null).cast(StringType))
      .withColumn("ts_pst", toPstMillis(col("ts_utc")))
    VescSchema.ConfidenceCols.foldLeft(base)(
      (df, c) => df.withColumn(c, lit(null).cast(DoubleType)))
  }

  /** Production-mode load: channels only + sample_idx + ts_utc, every row
    * in ride `prod`. Rows are numbered across the whole call in
    * (`__file`, `__row`) order, so keep-first dedup on `sample_idx` keeps
    * the first row in file order, as `VescPipeline.analyze` does.
    */
  def readProd(spark: SparkSession, paths: Seq[String]): DataFrame =
    readRaw(spark, paths, VescSchema.ProdChannels, rideId = Some("prod")).drop("dt_ms")

  /** Local wall-clock timestamp truncated to milliseconds — the reference
    * formats with %f then strips to ms (training_preprocessing.py:80-86).
    */
  def toPstMillis(tsUtc: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val us = unix_micros(from_utc_timestamp(tsUtc, VescSchema.LocalTz))
    timestamp_micros(us - pmod(us, lit(1000L)))
  }
}
