package graft.vesc

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** Malformed numeric cells read as null (the reference's
  * `errors="coerce"`), also under ANSI mode, where a plain cast throws.
  */
class RawLogReaderSpec extends SparkSuite {

  test("a malformed numeric cell reads as exactly one null") {
    val dir = Files.createTempDirectory("graft_raw_malformed_")
    val path = SyntheticLog.write(dir, seconds = 10, malformed = true).toString
    val raw = RawLogReader.readProd(spark, Seq(path))
    val c = SyntheticLog.MalformedChannel
    assert(raw.filter(col(c).isNull).count() == 1)
    assert(raw.filter(col("ms_today").isNull).count() == 0)
  }
}
