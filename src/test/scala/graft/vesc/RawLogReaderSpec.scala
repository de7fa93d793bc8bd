package graft.vesc

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.catalyst.expressions.Lower
import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** Malformed numeric cells read as null (the reference's
  * `errors="coerce"`), also under ANSI mode, where a plain cast throws;
  * the ride id comes from a `ride log NN` parent directory in any case,
  * without a `lower()` in the plan.
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
}
