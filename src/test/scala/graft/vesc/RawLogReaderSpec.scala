package graft.vesc

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.catalyst.expressions.Lower
import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** Malformed numeric cells read as null (the reference's
  * `errors="coerce"`), also under ANSI mode, where a plain cast throws;
  * the ride id comes from a `ride log NN` parent directory in any case,
  * without a `lower()` in the plan. Each log is read by its own header,
  * so logs of one ride that order or lack channels differently read every
  * value under its own name, and the readers keep their columns.
  * ([[RawLogReaderParitySpec]] checks the parser against Spark's CSV
  * reader cell by cell.)
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

  test("each log reads its channels by its own header; a missing channel is null") {
    withTempDir("graft_raw_own_header_") { root =>
      val dir = Files.createDirectories(root.resolve("ride log 5"))
      val prod = VescSchema.ProdChannels
      val shuffled = new scala.util.Random(3).shuffle(prod)
      // one ride of three logs: the default layout, its channels reordered
      // and without roll; the same seed, so the same cells
      Seq(("2025-03-04_10-00-00.csv", prod), ("2025-03-04_11-00-00.csv", shuffled),
        ("2025-03-04_12-00-00.csv", prod.filterNot(_ == "roll"))).foreach {
        case (name, columns) => SyntheticLog.write(dir, seconds = 5, name = name, columns = columns)
      }
      val raw = RawLogReader.readTraining(spark, Seq(dir.toString))
      assert(raw.select("ride_id").distinct().collect().map(_.getString(0)).toSeq == Seq("ride_05"))
      val rows = raw.orderBy("sample_idx").collect()
      assert(rows.length % 3 == 0 && rows.length > 0)
      val n = rows.length / 3
      val (first, reordered, lacking) = (rows.take(n), rows.slice(n, 2 * n), rows.drop(2 * n))
      def cells(rs: Array[org.apache.spark.sql.Row], c: String) = rs.map(_.getAs[Any](c)).toSeq
      prod.foreach { c =>
        assert(cells(reordered, c) == cells(first, c), c)
        if (c != "roll") assert(cells(lacking, c) == cells(first, c), c)
      }
      assert(cells(lacking, "roll").forall(_ == null))
      assert(cells(first, "roll").forall(_ != null))
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
      // every training channel, the GNSS ones the log lacks as nulls
      assert(RawLogReader.readTraining(spark, path).columns.toSeq ==
        VescSchema.TrainingChannels ++
          Seq("ride_id", "ts_utc", "sample_idx", "dt_ms", "video_ts_anchor", "ts_pst") ++
          VescSchema.ConfidenceCols)
    }
  }
}
