package graft.vesc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{FileSourceScanExec, MapPartitionsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll

import graft.SparkSuite

/** One upload is analyzed once: the production plan reads the log in one
  * CSV scan, shuffles once and runs the grid, windows, scores and display
  * in one per-ride pass with no window operator and no join, and [[App.refresh]]
  * evaluates the timeline in one query. Runs on a [[SyntheticLog]], so it
  * needs no reference checkout.
  */
class AnalyzeOnceSpec extends SparkSuite with AdaptiveSparkPlanHelper with BeforeAndAfterAll {

  private lazy val dir: Path = Files.createTempDirectory("graft_analyze_once_")
  private lazy val log: String = SyntheticLog.write(dir, seconds = 60).toString

  override def afterAll(): Unit =
    try FileUtils.deleteDirectory(dir.toFile) finally super.afterAll()

  test("analyze's executed plan: one CSV scan, one exchange, one per-ride pass") {
    val timeline = VescPipeline.analyze(spark, Seq(log))
    assert(timeline.collect().nonEmpty)
    val plan: SparkPlan = timeline.queryExecution.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1 && scans.head.relation.fileFormat.isInstanceOf[CSVFileFormat],
      s"scans: ${scans.map(_.nodeName)}")
    assert(collect(plan) { case m: MapPartitionsExec => m }.size == 1, plan.treeString)
    assert(collect(plan) { case j: SortMergeJoinExec => j }.isEmpty, plan.treeString)
    assert(collect(plan) { case b: BroadcastExchangeExec => b }.isEmpty, plan.treeString)
    assert(collect(plan) { case w: WindowExec => w }.isEmpty, plan.treeString)
    val exchanges = collect(plan) { case e: Exchange => e }.size
    assert(exchanges == 1, s"$exchanges exchanges:\n${plan.treeString}")
  }

  test("App.refresh evaluates the timeline once and writes its bar count as rows") {
    val timeline = VescPipeline.analyze(spark, Seq(log))
    val exportDir = dir.resolve("export")
    val queries = new AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        queries.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        queries.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      App.refresh(exportDir, timeline, batchId = 7)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(queries.get == 1, s"refresh ran ${queries.get} queries")

    def read(name: String) =
      new String(Files.readAllBytes(exportDir.resolve(name)), StandardCharsets.UTF_8)
    val figure = read("timeline_bars.json")
    val refreshed = JsonMethods.parse(read("last_refresh.json"))
    val JInt(rows) = refreshed \ "rows": @unchecked
    assert(refreshed \ "batch" == JInt(7))
    val traces = (JsonMethods.parse(figure) \ "data").children
    assert(traces.size == 13)
    traces.foreach(t => assert((t \ "x").children.size == rows.toInt))
    assert(rows > 0)
    // the same figure the batch export renders for the log
    assert(figure == Export.timelineBarsJson(VescPipeline.analyze(spark, Seq(log))))
  }

  test("a second analysis of the same log compiles no new classes") {
    // the generated-class cache holds a whole analysis, so a repeated
    // upload reuses every class the first one compiled
    VescPipeline.analyze(spark, Seq(log)).collect()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    VescPipeline.analyze(spark, Seq(log)).collect()
    val again = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    assert(again == 0, s"$again classes compiled by the second analysis")
  }
}
