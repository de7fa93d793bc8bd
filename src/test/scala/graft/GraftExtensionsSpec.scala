package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The function catalog: one entry per name, installed on the test session
  * through `spark.sql.extensions` (the same path every main and the
  * perfbench harness take), and inherited by sessions derived from it — a
  * `newSession()` stands in for the clone a streaming query runs each
  * micro-batch on.
  */
class GraftExtensionsSpec extends SparkSuite {

  private val names = GraftExtensions.catalog.map(_._1)

  test("every catalog name is unique") {
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty, s"duplicate catalog names: ${dups.mkString(", ")}")
  }

  test("the test session is built with the GraftExtensions catalog") {
    assert(spark.conf.get("spark.sql.extensions") == "graft.GraftExtensions")
  }

  test("every catalog name resolves on the test session and on a new session") {
    Seq("test" -> spark, "new" -> spark.newSession()).foreach { case (label, s) =>
      val missing = names.filterNot(n =>
        s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
      assert(missing.isEmpty, s"unresolved on the $label session: ${missing.mkString(", ")}")
    }
  }

  test("a catalog function evaluates on a new session") {
    val row = spark.newSession()
      .sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head()
    assert(row.getDouble(0) == 11.0)
  }
}
