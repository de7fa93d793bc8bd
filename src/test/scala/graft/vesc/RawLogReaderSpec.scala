package graft.vesc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Lower
import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** Malformed numeric cells read as null (the reference's
  * `errors="coerce"`), also under ANSI mode, where a plain cast throws;
  * the ride id comes from a `ride log NN` parent directory in any case,
  * without a `lower()` in the plan. The header read on the driver gives
  * the schema Spark's own CSV inference gives, and the readers keep their
  * columns.
  */
class RawLogReaderSpec extends SparkSuite {

  test("a malformed numeric cell reads as exactly one null") {
    val dir = Files.createTempDirectory("graft_raw_malformed_")
    try {
      val path = SyntheticLog.write(dir, seconds = 10, malformed = true).toString
      val raw = RawLogReader.readProd(spark, Seq(path))
      val c = SyntheticLog.MalformedChannel
      assert(raw.filter(col(c).isNull).count() == 1)
      assert(raw.filter(col("ms_today").isNull).count() == 0)
    } finally FileUtils.deleteDirectory(dir.toFile)
  }

  test("the ride id comes from the parent directory in any case, without lower()") {
    val root = Files.createTempDirectory("graft_raw_ride_id_")
    try {
      Seq("Ride Log 7" -> "ride_07", "RIDE_LOG_12" -> "ride_12",
        "ride-log-03" -> "ride_03", "session 4" -> "unknown_ride_id").foreach {
        case (parent, want) =>
          val dir = Files.createDirectories(root.resolve(parent))
          val path = SyntheticLog.write(dir, seconds = 2).toString
          val raw = RawLogReader.readRaw(spark, Seq(path), VescSchema.ProdChannels)
          assert(raw.select("ride_id").distinct().collect().map(_.getString(0)).toSeq ==
            Seq(want), parent)
          val lowers = raw.queryExecution.analyzed.flatMap(_.expressions.flatMap(
            _.collect { case l: Lower => l }))
          assert(lowers.isEmpty, s"$parent: ${raw.queryExecution.analyzed}")
      }
    } finally FileUtils.deleteDirectory(root.toFile)
  }

  private def write(dir: Path, name: String, lines: String*): Path =
    Files.write(dir.resolve(name), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))

  /** The driver-read schema is Spark's inferred one for `paths`. */
  private def assertInferred(paths: String*): Unit = {
    val inferred = spark.read.option("sep", ";").option("header", "true").csv(paths: _*).schema
    assert(RawLogReader.header(spark, paths) == inferred, paths.mkString(", "))
  }

  test("the driver-read header equals Spark's inferred schema") {
    withTempDir("graft_raw_header_") { dir =>
      assertInferred(SyntheticLog.write(dir, seconds = 2).toString)
      // an empty name, a trailing separator, a case-insensitive and an exact duplicate
      assertInferred(write(dir, "names.csv", "a;;B;b;x;x;", "1;2;3;4;5;6;").toString)
      assertInferred(write(dir, "blank_first.csv", "", "  ", "", "ms_today;erpm", "1;2").toString)
      // a tab is not blank to the inference (it trims spaces only)
      assertInferred(write(dir, "tab_first.csv", "", "\t", "ms_today;erpm", "1;2").toString)
      assertInferred(write(dir, "only_blank.csv", "", " ", "").toString)
      val rides = Files.createDirectories(dir.resolve("ride log 3"))
      SyntheticLog.write(rides, seconds = 2)
      write(rides, "2025-03-04_10-05-00.csv", "ms_today;roll", "1;2")
      write(rides, "_hidden.csv", "hidden;columns", "1;2")
      assertInferred(rides.toString)
      assertInferred(rides.toString + "/*.csv")
      val empty = Files.createDirectories(dir.resolve("empty"))
      Seq(intercept[AnalysisException](RawLogReader.header(spark, Seq(empty.toString))),
        intercept[AnalysisException](spark.read.option("header", "true").csv(empty.toString))
      ).foreach(e => assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA", e.getMessage))
    }
  }

  test("the header comes from the largest split, the first listed among equals, that is not blank") {
    withTempDir("graft_raw_split_") { dir =>
      // different sizes and headers; the largest is neither first nor last by name
      write(dir, "a.csv", "small;x", "1;2")
      write(dir, "b.csv", "large;y" +: Seq.fill(200)("1;2"): _*)
      write(dir, "c.csv", "medium;z" +: Seq.fill(20)("1;2"): _*)
      assertInferred(dir.toString)
      assert(RawLogReader.header(spark, Seq(dir.toString)).fieldNames.toSeq == Seq("large", "y"))
      assertInferred(Seq("a", "b", "c").map(f => dir.resolve(f + ".csv").toString): _*)
      assertInferred(Seq("c", "a").map(f => dir.resolve(f + ".csv").toString): _*)
      // splits capped below every file's size: all first splits tie
      val conf = Seq("spark.sql.files.maxPartitionBytes" -> "8",
        "spark.sql.files.openCostInBytes" -> "0")
      val before = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        assertInferred(dir.toString)
        assertInferred(Seq("c", "b", "a").map(f => dir.resolve(f + ".csv").toString): _*)
        // blank lines filling the first two splits; the header starts in the
        // short last split, so the inference reads on in the next file
        val lead = write(dir, "lead.csv", Seq.fill(17)("") :+ "lead;w": _*).toString
        val leadFirst = lead +: Seq("c", "a").map(f => dir.resolve(f + ".csv").toString)
        assertInferred(leadFirst: _*)
        assert(RawLogReader.header(spark, leadFirst).fieldNames.toSeq == Seq("medium", "z"))
        // the header starts in a full split: it is read from the same file
        val leadFull = write(dir, "lead_full.csv", Seq.fill(12)("") :+ "full;v" :+ "1;2": _*)
        assertInferred(leadFull.toString +: leadFirst.tail: _*)
        assertInferred(dir.toString)
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("readRaw, readProd and readTraining keep their columns, in order") {
    withTempDir("graft_raw_columns_") { dir =>
      val path = Seq(SyntheticLog.write(dir, seconds = 2).toString)
      val prod = VescSchema.ProdChannels
      assert(RawLogReader.readRaw(spark, path, prod).columns.toSeq ==
        prod ++ Seq("ride_id", "ts_utc", "sample_idx", "dt_ms"))
      assert(RawLogReader.readProd(spark, path).columns.toSeq ==
        prod ++ Seq("ride_id", "ts_utc", "sample_idx"))
      assert(RawLogReader.readTraining(spark, path).columns.toSeq ==
        VescSchema.TrainingChannels.filter(prod.contains) ++
          Seq("ride_id", "ts_utc", "sample_idx", "dt_ms", "video_ts_anchor", "ts_pst") ++
          VescSchema.ConfidenceCols)
    }
  }
}
