package graft.vesc

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row

import graft.SparkSuite
import graft.streaming.StreamingPipeline

/** Uploads as the stream sees them, on [[SyntheticLog]]s (no reference
  * checkout): the micro-batch's `binaryFile` rows are the analysis input,
  * so uploads landing in one micro-batch are one Spark job and one ride
  * each, and the app's figure is the newest upload's.
  */
class UploadStreamSpec extends SparkSuite {

  private lazy val assets = VescPipeline.bundled(spark)

  /** Rows as strings, doubles as raw bits, sorted. */
  private def bits(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case v => v
  }.toString).sorted

  test("two uploads in one micro-batch: two timelines, one Spark job") {
    val (w, m, s) = assets
    withTempDir("graft_upload_two_") { uploads =>
      val a = SyntheticLog.write(uploads, seconds = 40, seed = 5, name = "a.csv")
      val b = SyntheticLog.write(uploads, seconds = 20, seed = 6, edges = true, name = "b.csv")
      val streamed = scala.collection.mutable.ArrayBuffer.empty[Array[Row]]
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      val q = StreamingPipeline.uploadAnalysis(spark, uploads.toString,
        logs => VescPipeline.analyzeLogs(logs, w, m, s)) { (timeline, _) =>
        streamed.synchronized(streamed += timeline.collect())
      }
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        q.processAllAvailable()
        ListenerBusDrain(spark.sparkContext)
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        q.stop()
      }
      val batches = streamed.synchronized(streamed.toList)
      assert(batches.size == 1, s"${batches.size} micro-batches")
      assert(jobs.get == 1, s"the micro-batch ran ${jobs.get} Spark jobs")
      val batch = Seq(a, b).map(p =>
        VescPipeline.analyze(spark, Seq(p.toString), w, m, s).collect().toSeq)
      assert(batch.forall(_.nonEmpty))
      assert(batch.map(_.map(_.getString(0)).distinct.size) == Seq(1, 1))
      assert(bits(batches.head.toSeq) == bits(batch.flatten))
    }
  }

  test("App.refresh serves the newest upload (latest modification time, then path), in one job") {
    withTempDir("graft_upload_newest_") { root =>
      val (exportDir, uploads) = (root.resolve("export"), Files.createDirectories(root.resolve("up")))
      // one micro-batch: a and b are the newest, b the greater path of the
      // two; z is the greatest path but older
      val logs = Seq(("a.csv", 7L, 2000L), ("b.csv", 9L, 2000L), ("z.csv", 8L, 1000L))
        .map { case (name, seed, at) =>
          val p = SyntheticLog.write(uploads, seconds = 30, seed = seed, name = name)
          Files.setLastModifiedTime(p, FileTime.fromMillis(1700000000000L + at * 1000))
          p
        }
      // the jobs the stream's thread starts (the query id is its local
      // property), so App.start's asset load does not count
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("sql.streaming.queryId") != null) {
            jobs.incrementAndGet()
          }
      }
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        val handles = App.start(spark, exportDir, uploads)
        try handles.query.processAllAvailable() finally handles.stop()
        ListenerBusDrain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      // the pick is inside the analysis pass: the refresh is the
      // micro-batch's one Spark job
      assert(jobs.get == 1, s"the micro-batch ran ${jobs.get} Spark jobs")
      def read(name: String) =
        new String(Files.readAllBytes(exportDir.resolve(name)), StandardCharsets.UTF_8)
      assert(read("last_refresh.json").startsWith("""{"batch":0,"""))
      assert(read("timeline_bars.json") ==
        Export.timelineBarsJson(VescPipeline.analyze(spark, Seq(logs(1).toString))))
    }
  }
}
