package graft.vesc

import java.nio.charset.StandardCharsets

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField,
  StructType}

/** Raw VESC Tool log ingestion (reference S1/P1/P2/F1–F3/W2/W3:
  * training_preprocessing.py:45-99, prod_preprocessing.py:10-33).
  *
  * One reader, one read per log: every log is one `binaryFile` row
  * ([[logs]]: its path and its bytes), and [[parse]] turns those bytes
  * into the wanted channels by that file's own header, so logs whose
  * headers order (or lack) channels differently read each value under its
  * own name. The parse runs inside the task that holds the row: the CSV
  * scan, its driver-side header and its cast code are gone. A log is one
  * task's row and one in-memory array, so the `binaryFile` limit of 2 GB
  * per file applies (VESC logs are megabytes).
  */
object RawLogReader {

  /** The logs at `paths` (files, directories or globs, as any Spark file
    * read lists them): one row per file, its `path` (the Hadoop path
    * string) and its `content`.
    */
  def logs(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(BinaryFileFormat.schema).format("binaryFile").load(paths: _*)
      .select(col("path"), col("content"))

  /** One log's channels in line order: `channels(c)` holds the wanted
    * channel c for each of the `rows` data lines.
    */
  final class Log(val rows: Int, val channels: IndexedSeq[RidePass.Col])

  /** A tokenizer of log lines with Spark's CSV reader settings for
    * `sep ";"` and a header; given `picked` (ascending token positions), it
    * returns only those tokens, in that order, as Spark's reader does for
    * the columns a query reads (a picked token past the line's end is
    * empty).
    */
  private def tokenizer(picked: Seq[Int] = Nil): CsvParser = {
    val settings = new CSVOptions(Map("sep" -> ";", "header" -> "true"), true, "UTC")
      .asParserSettings
    if (picked.nonEmpty) settings.selectIndexes(picked.map(Integer.valueOf): _*)
    new CsvParser(settings)
  }

  /** The wanted `channels` of one log's bytes, by the rules of Spark's CSV
    * reader on that one file (`sep ";"`, a header, each cell then
    * `try_cast` to double):
    *
    *  - Lines end at `\n`, `\r` or `\r\n`, as Hadoop's line reader splits
    *    them; a UTF-8 byte-order mark at the start of the file is skipped.
    *  - A line that is empty after `String.trim` (spaces, tabs, other
    *    control characters) is dropped; the first line left is the header,
    *    the others are data lines.
    *  - Each line is tokenized by univocity with Spark's parser settings,
    *    on its own (a quote never spans a line end).
    *  - A channel is the header column whose name equals it ignoring case
    *    (Spark's analyzer resolution). It reads as null in every row when
    *    no column has that name, or when Spark's `makeSafeHeader` would
    *    rename the column: an empty name, or a name that appears twice
    *    ignoring case.
    *  - A data line's cell is its token at the channel's position (a short
    *    line has none; a long line's extra tokens are ignored). An empty
    *    token is null; any other is `java.lang.Double.parseDouble`, else
    *    Spark's special literals (`inf`, `-infinity`, `nan`, … in any case),
    *    else null: `try_cast`'s string → double rule.
    *
    * The bytes are decoded one line at a time, and only the wanted
    * channels' tokens are materialized, so a log's other columns and its
    * blank lines cost a scan of their bytes and nothing more.
    *
    * Departure from Spark, by design: Spark reads the column names from
    * the first line that is not blank after trimming spaces only, but
    * skips as blank, and drops as the header, the first line not blank
    * after `String.trim`. A tab-only line before the header thus becomes
    * Spark's one column name while the real header is dropped; here the
    * header is the real one (RawLogReaderParitySpec).
    */
  def parse(content: Array[Byte], channels: Seq[String]): Log = {
    val bounds = lines(content)
    def line(i: Int) =
      new String(content, bounds(2 * i), bounds(2 * i + 1) - bounds(2 * i), StandardCharsets.UTF_8)
    val n = math.max(bounds.length / 2 - 1, 0)
    val out = channels.map(_ => RidePass.Col(n)).toIndexedSeq
    val at = if (n == 0) channels.map(_ => -1) else columns(tokenizer().parseLine(line(0)), channels)
    val picked = at.filter(_ >= 0).distinct.sorted
    // each channel's place among the picked tokens, or -1
    val slot = at.map(picked.indexOf(_)).toArray
    val csv = if (picked.isEmpty) null else tokenizer(picked)
    var r = 0
    while (r < n) {
      val tokens = if (csv == null) null else csv.parseLine(line(r + 1))
      var c = 0
      while (c < slot.length) {
        val k = slot(c)
        cell(out(c), r, if (k >= 0 && tokens != null && k < tokens.length) tokens(k) else null)
        c += 1
      }
      r += 1
    }
    new Log(n, out)
  }

  /** The lines of `content` that are not blank, as (start, end) byte
    * offsets, pairwise: lines end at `\n`, `\r` or `\r\n`, a leading UTF-8
    * byte-order mark is skipped, and a line is blank when every byte is at
    * most U+0020, which is `String.trim`'s rule on its UTF-8 decoding (a
    * byte of a multi-byte character is never below 0x80).
    */
  private def lines(content: Array[Byte]): Array[Int] = {
    val out = Array.newBuilder[Int]
    var start = if (content.length >= 3 && content(0) == 0xEF.toByte &&
      content(1) == 0xBB.toByte && content(2) == 0xBF.toByte) 3 else 0
    var blank = true
    var i = start
    while (i <= content.length) {
      if (i == content.length || content(i) == '\n' || content(i) == '\r') {
        if (!blank) { out += start; out += i }
        if (i + 1 < content.length && content(i) == '\r' && content(i + 1) == '\n') i += 1
        start = i + 1
        blank = true
      } else if ((content(i) & 0xFF) > 0x20) blank = false
      i += 1
    }
    out.result()
  }

  /** Each channel's position in the header `names`, or −1. */
  private def columns(names: Array[String], channels: Seq[String]): IndexedSeq[Int] = {
    val lower = names.map(n => if (n == null) null else n.toLowerCase)
    def safe(i: Int) = names(i) != null && names(i).nonEmpty && lower.count(_ == lower(i)) == 1
    channels.map(w => names.indices.find(i => safe(i) && names(i).equalsIgnoreCase(w))
      .getOrElse(-1)).toIndexedSeq
  }

  /** Row `r` of `col` := `try_cast(token AS DOUBLE)`, null for a missing
    * or empty token.
    */
  private def cell(col: RidePass.Col, r: Int, token: String): Unit =
    if (token == null || token.isEmpty) col.isNull(r) = true
    else try col.v(r) = java.lang.Double.parseDouble(token)
    catch {
      case _: NumberFormatException =>
        Cast.processFloatingPointSpecialLiterals(token, false) match {
          case d: java.lang.Double => col.v(r) = d
          case _ => col.isNull(r) = true
        }
    }

  /** The typed scan of raw logs: one [[logs]] read, each log [[parse]]d
    * in its task, one row per data line with every wanted channel (null
    * where the log lacks it), then `__file` (the log's path) and `__row`
    * (the line's index among the log's data lines). Nothing else: ride
    * identity and `ts_utc` are [[readRaw]]'s.
    *
    * Sort-order contract: within a ride, (`__file`, `__row`) is file
    * order, the lexicographic path first (VESC logs embed the timestamp in
    * the name), then line order. [[readRaw]] numbers rows in this order.
    */
  def scan(spark: SparkSession, paths: Seq[String], channels: Seq[String]): DataFrame = {
    val out = StructType(channels.map(StructField(_, DoubleType)) ++ Seq(
      StructField("__file", StringType, nullable = false),
      StructField("__row", LongType, nullable = false)))
    logs(spark, paths).mapPartitions(_.flatMap { file =>
      val path = file.getString(0)
      val log = parse(file.getAs[Array[Byte]](1), channels)
      Iterator.range(0, log.rows).map(r =>
        Row.fromSeq(log.channels.map(_.get(r)) :+ path :+ r.toLong))
    })(Encoders.row(out))
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
    // F2: ride id from parent folder name, else explicit, else unknown
    val parent = regexp_extract(col("__file"), "([^/]+)/[^/]+$", 1)
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
    * the first row in file order.
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
