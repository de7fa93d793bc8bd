package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator pack; each key has a Spark
  * implementation and (where SQL-expressible) a DuckDB oracle in
  * `oracleSql`. Column aliases match on both sides — the driver sorts
  * columns by name and hash-compares values.
  */
object SparkEntry {

  private val packs: Seq[QueryPack] = Seq(
    RelationalQueries,
    TimeSeriesQueries,
    DataPipelineQueries,
    ExtraQueries,
    RetrievalQueries,
    ScaleQueries,
    SketchQueries,
    VescFixtureQueries,
    CorpusQueries,
    WebQueries,
    LangIdQueries,
    CodeQueries,
    DocExtractQueries,
    LakehouseQueries,
    MediaQueries,
    AudioQueries,
    CurationQueries
  )

  /** Flagship query; driver smoke-checks rows>0. The engine's headline is
    * the reference's production query — raw ride log → scored, suppressed,
    * downsampled behavior timeline with the bundled CNN (app.py:354-366 as
    * one lazy DAG). Falls back to the TPC-H-style pricing summary only when
    * the reference demo log is absent; a failed or empty analysis throws.
    */
  def entry(spark: SparkSession): DataFrame = {
    val demo = "/root/reference/DEMO_LOGS/2025-09-28_13-59-59.csv"
    if (!new java.io.File(demo).exists())
      queries("q1_agg")(spark, "/root/testdata/sf0.001")
    else {
      val t = graft.vesc.VescPipeline.analyze(spark, Seq(demo))
      require(t.limit(1).count() > 0, s"VESC analysis of $demo returned no rows")
      t
    }
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracle).toMap
}
