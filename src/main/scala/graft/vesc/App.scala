package graft.vesc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference application's interactive loop, composed end-to-end
  * (application/app.py:96-116 upload handling, :354-366 per-upload
  * re-analysis, then `st.plotly_chart` serving the refreshed figure):
  *
  *   `POST /upload` → watched dir → streaming re-analysis → refreshed
  *   `GET /figure`
  *
  * Every piece already exists as a tested component — [[Serve]] accepts
  * the upload and drops it (atomic rename) into the directory that
  * [[graft.streaming.StreamingPipeline.uploadAnalysis]] watches; each
  * micro-batch's `binaryFile` rows are the input of the EXACT batch
  * pipeline's core, [[VescPipeline.analyzeLogs]] (batch/stream parity by
  * construction, and each upload read once); this object adds the last
  * seam: the foreachBatch callback that re-materializes the [[Export]]
  * artifacts so the next `GET /figure` returns the new ride's scored
  * timeline. The figure shows one ride: when a micro-batch carries
  * several uploads, it is the newest ([[newest]]: the greatest
  * `modificationTime`, then the greatest path). The batch's rows meet in
  * one task, which picks the newest and analyzes it alone, inside the
  * same pass (`analyzeLogs`' `keep`), so the choice costs no Spark job,
  * no exchange and no operator of its own.
  *
  * Scale shape: the serving side stays a dumb file server over
  * already-materialized artifacts (object storage + CDN at real scale);
  * the analysis side is one Structured Streaming query whose per-batch
  * work is the same lazy DataFrame DAG as batch analysis — uploads are
  * the stream, Spark schedules the rest. Nothing here polls, diffs, or
  * re-lists: the file source's own tracking decides what is new.
  */
object App {

  /** Running handles — caller owns shutdown (`stop()`). */
  final case class Handles(server: HttpServer, query: StreamingQuery,
                           uploadDir: Path, exportDir: Path) {
    def port: Int = server.getAddress.getPort
    def stop(): Unit = {
      try query.stop() finally server.stop(0)
    }
  }

  /** Replace-don't-append artifact write: temp file in the same dir then
    * atomic rename, so a concurrent `GET /figure` reads either the old
    * complete figure or the new complete figure, never a torn one.
    */
  private def atomicWrite(target: Path, content: String): Unit = {
    val tmp = Files.createTempFile(target.getParent, ".fig_", ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** One upload batch → refreshed serving artifacts. The timeline is
    * evaluated once: its rows are collected ([[Export.displayRows]]), and
    * both artifacts come from them. The figure is the full Plotly JSON
    * contract ([[Export.renderBars]]); the sidecar `last_refresh.json`
    * (batch id + row count, which is the figure's bar count) is what a
    * client — and the e2e spec — polls to know the refresh landed, instead
    * of diffing figure bytes.
    */
  private[vesc] def refresh(exportDir: Path, timeline: DataFrame,
                            batchId: Long): Unit = {
    Files.createDirectories(exportDir)
    val display = Export.displayRows(timeline)
    atomicWrite(exportDir.resolve("timeline_bars.json"), Export.renderBars(display))
    atomicWrite(exportDir.resolve("last_refresh.json"),
      s"""{"batch":$batchId,"rows":${display.rows.length}}""")
  }

  /** The newest upload among rows of the `binaryFile` source: the file
    * with the greatest `modificationTime`, and among those the greatest
    * `path`.
    */
  private def newest(rows: Iterator[Row]): Iterator[Row] =
    rows.maxByOption(r => (r.getAs[java.sql.Timestamp]("modificationTime").getTime,
      r.getAs[String]("path"))).iterator

  /** Start the loop: serving on `host:port` (0 = ephemeral), uploads
    * into `uploadDir`, artifacts in `exportDir`. The bundled scorer
    * assets are loaded ONCE here — not per upload — so a micro-batch
    * pays only the analysis DAG.
    */
  def start(spark: SparkSession, exportDir: Path, uploadDir: Path,
            port: Int = 0, host: String = "127.0.0.1"): Handles = {
    Files.createDirectories(exportDir)
    Files.createDirectories(uploadDir)
    val (weights, mean, std) = VescPipeline.bundled(spark)
    val query = graft.streaming.StreamingPipeline.uploadAnalysis(
      spark, uploadDir.toString,
      // the batch's rows meet in one task (a coalesce, not an exchange),
      // which analyzes the newest alone
      batch => VescPipeline.analyzeLogs(batch.coalesce(1), weights, mean, std, keep = newest)) {
      (timeline, batchId) => refresh(exportDir, timeline, batchId)
    }
    val server = Serve.start(exportDir, port, host, uploadTo = Some(uploadDir))
    Handles(server, query, uploadDir, exportDir)
  }

  /** `runMain graft.vesc.App <exportDir> <uploadDir> [port] [host]` —
    * run the interactive loop until killed.
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: App <exportDir> <uploadDir> [port] [host]")
    val spark = graft.GraftSession.getOrCreate("vesc-app")
    val handles = start(spark,
      java.nio.file.Paths.get(args(0)), java.nio.file.Paths.get(args(1)),
      if (args.length > 2) args(2).toInt else 8080,
      if (args.length > 3) args(3) else "127.0.0.1")
    println(s"""{"serving":${graft.Json.str(args(0))},""" +
      s""""uploads":${graft.Json.str(args(1))},"port":${handles.port}}""")
    handles.query.awaitTermination()
  }
}
