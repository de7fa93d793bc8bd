package graft.vesc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{FileSourceScanExec, MapPartitionsExec, QueryExecution, SortExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll

import graft.SparkSuite

/** One upload is analyzed once: the production plan reads each log's
  * bytes in one `binaryFile` scan, shuffles and sorts not at all (each log
  * is its own ride, analyzed inside the task that read it) and runs the
  * parse, grid, windows, scores and display in one pass with no window
  * operator and no join, so an analysis is one Spark job;
  * [[App.refresh]] evaluates the timeline in one query. Runs on
  * [[SyntheticLog]]s, so it needs no reference checkout.
  */
class AnalyzeOnceSpec extends SparkSuite with AdaptiveSparkPlanHelper with BeforeAndAfterAll {

  private lazy val dir: Path = Files.createTempDirectory("graft_analyze_once_")
  private lazy val log: String = SyntheticLog.write(dir, seconds = 60).toString

  override def afterAll(): Unit =
    try FileUtils.deleteDirectory(dir.toFile) finally super.afterAll()

  private lazy val assets = VescPipeline.bundled(spark)

  /** `body`'s value and the number of Spark jobs and tasks it started. */
  private def jobs[T](body: => T): (T, Int, Int) = {
    val (started, tasks) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      (out, started.get, tasks.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The operators every analysis plans once or never, whatever its inputs. */
  private def assertPerRidePass(plan: SparkPlan): Unit = {
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1 && scans.head.relation.fileFormat.isInstanceOf[BinaryFileFormat],
      s"scans: ${scans.map(_.nodeName)}")
    assert(collect(plan) { case s: SortExec => s }.isEmpty, plan.treeString)
    assert(collect(plan) { case m: MapPartitionsExec => m }.size == 1, plan.treeString)
    assert(collect(plan) { case j: SortMergeJoinExec => j }.isEmpty, plan.treeString)
    assert(collect(plan) { case b: BroadcastExchangeExec => b }.isEmpty, plan.treeString)
    assert(collect(plan) { case w: WindowExec => w }.isEmpty, plan.treeString)
  }

  private def exchanges(plan: SparkPlan): Int = collect(plan) { case e: Exchange => e }.size

  test("one log: one binaryFile scan, no exchange, one pass, one task") {
    val (w, m, s) = assets
    val (timeline, started, tasks) = jobs {
      val t = VescPipeline.analyze(spark, Seq(log), w, m, s)
      assert(t.collect().nonEmpty)
      t
    }
    val plan = timeline.queryExecution.executedPlan
    assertPerRidePass(plan)
    assert(exchanges(plan) == 0, s"${exchanges(plan)} exchanges:\n${plan.treeString}")
    assert(started == 1 && tasks == 1,
      s"analyze through collect ran $started Spark jobs of $tasks tasks")
  }

  test("two logs: two rides, no exchange, one Spark job") {
    val (w, m, s) = assets
    withTempDir("graft_analyze_two_") { other =>
      val second = SyntheticLog.write(other, seconds = 30, seed = 2).toString
      val (timeline, started, _) = jobs {
        val t = VescPipeline.analyze(spark, Seq(log, second), w, m, s)
        assert(t.collect().nonEmpty)
        t
      }
      val plan = timeline.queryExecution.executedPlan
      assertPerRidePass(plan)
      assert(exchanges(plan) == 0, s"${exchanges(plan)} exchanges:\n${plan.treeString}")
      assert(started == 1, s"analyze through collect ran $started Spark jobs")
      val rides = timeline.select("ride_id").distinct().collect().map(_.getString(0)).toSet
      assert(rides == RawLogReader.logs(spark, Seq(log, second)).select("path").collect()
        .map(_.getString(0)).toSet)
    }
  }

  test("logs with their own headers: analyze is the union of each log's analysis") {
    val (w, m, s) = assets
    withTempDir("graft_analyze_union_") { other =>
      // the same cells in the default layout, with the channels reordered,
      // and without roll
      val prod = VescSchema.ProdChannels
      def write(name: String, columns: Seq[String]) = SyntheticLog.write(
        Files.createDirectories(other.resolve(name)), seconds = 30, seed = 2, edges = true,
        columns = columns).toString
      val plain = write("plain", prod)
      val reordered = write("reordered", new scala.util.Random(4).shuffle(prod))
      val lacking = write("lacking", prod.filterNot(_ == "roll"))
      /** Each timeline row without its ride id, doubles as raw bits, by ride. */
      def rows(paths: String*): Map[String, Seq[String]] =
        VescPipeline.analyze(spark, paths, w, m, s).collect().toSeq
          .groupBy(_.getString(0)).map { case (ride, rs) =>
            ride.split('/').init.last ->
              rs.map(_.toSeq.tail.map {
                case d: Double => java.lang.Double.doubleToRawLongBits(d)
                case v => v
              }.toString).sorted
          }
      val all = rows(log, plain, reordered, lacking)
      val each = Seq(log, plain, reordered, lacking).map(rows(_)).reduce(_ ++ _)
      assert(all.keySet == each.keySet && all.size == 4, all.keySet)
      all.foreach { case (ride, timeline) => assert(timeline == each(ride), ride) }
      assert(all("plain").nonEmpty && all("reordered") == all("plain"))
      assert(all("lacking").nonEmpty && all("lacking") != all("plain"))
    }
  }

  test("a cold bundled load runs two Spark jobs") {
    // one per asset read; declared schemas leave no parquet footer job
    val (_, started, _) = jobs(VescPipeline.bundled(spark))
    assert(started == 2, s"bundled ran $started Spark jobs")
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
