package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run
  * sequentially in the forked test JVM).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** `body` over a fresh directory in `java.io.tmpdir`, deleted afterwards. */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally FileUtils.deleteDirectory(dir.toFile)
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    // the session lives as long as the test JVM, so its warehouse goes
    // when the JVM does
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh_").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(warehouse))
    val s = GraftSession.builder("graft-test", "8")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
