package graft.vesc

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils

import graft.SparkSuite

/** The interactive loop, end-to-end over a real socket: POST a real
  * DEMO_LOGS csv to `/upload`, the streaming re-analysis runs, and
  * `GET /figure` returns the new ride's scored Plotly timeline —
  * byte-identical to the batch pipeline's figure for the same log
  * (reference app.py:354-366 replayed against the engine).
  */
class AppSpec extends SparkSuite {

  private def http(port: Int, method: String, path: String,
                   body: Array[Byte] = null): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    if (body != null) {
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
    }
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text =
      if (stream == null) "" else new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    (code, text)
  }

  /** Poll `/files/last_refresh.json` until its content satisfies `ok`. */
  private def awaitRefresh(port: Int, timeoutMs: Long)(ok: String => Boolean): String = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var last = ""
    while (System.nanoTime() < deadline) {
      val (code, body) = http(port, "GET", "/files/last_refresh.json")
      last = s"$code $body"
      if (code == 200 && ok(body)) return body
      Thread.sleep(250)
    }
    fail(s"refresh did not land within ${timeoutMs}ms; last=$last")
  }

  test("upload → re-analysis → refreshed figure served, twice, matching batch") {
    val demo1 = "/root/reference/DEMO_LOGS/2025-09-28_13-59-59.csv"
    val demo2 = "/root/reference/DEMO_LOGS/2025-09-28_14-10-31.csv"
    assume(new java.io.File(demo1).exists() && new java.io.File(demo2).exists())

    val exportDir = Files.createTempDirectory("graft_app_export_")
    val uploadDir = Files.createTempDirectory("graft_app_uploads_")
    val handles = App.start(spark, exportDir, uploadDir)
    val port = handles.port
    try {
      // upload guard rails first: bad names are rejected, empty body too
      assert(http(port, "POST", "/upload?name=..%2Fevil.csv", "x".getBytes)._1 == 400)
      assert(http(port, "POST", "/upload?name=notcsv.txt", "x".getBytes)._1 == 400)
      assert(http(port, "POST", "/upload?name=a.csv")._1 == 400)

      // the demo flow: POST the raw log exactly as the browser would
      val name1 = Paths.get(demo1).getFileName.toString
      val (c1, b1) = http(port, "POST", s"/upload?name=$name1", Files.readAllBytes(Paths.get(demo1)))
      assert(c1 == 200 && b1.contains("\"uploaded\""), s"$c1 $b1")

      awaitRefresh(port, 90000)(_ => true)
      val (fc1, figure1) = http(port, "GET", "/figure")
      assert(fc1 == 200)
      // served figure == the batch pipeline's figure for the same log
      val batch1 = Export.timelineBarsJson(
        VescPipeline.analyze(spark, Seq(uploadDir.resolve(name1).toString)))
      assert(figure1 == batch1, "served figure diverges from batch analysis")
      assert(figure1.contains("\"type\":\"bar\""), "figure has no traces")

      // second upload must REFRESH the figure (a new batch id lands and
      // the figure becomes the new ride's timeline)
      val before = http(port, "GET", "/files/last_refresh.json")._2
      val name2 = Paths.get(demo2).getFileName.toString
      val (c2, _) = http(port, "POST", s"/upload?name=$name2", Files.readAllBytes(Paths.get(demo2)))
      assert(c2 == 200)
      awaitRefresh(port, 90000)(_ != before)
      val (fc2, figure2) = http(port, "GET", "/figure")
      val batch2 = Export.timelineBarsJson(
        VescPipeline.analyze(spark, Seq(uploadDir.resolve(name2).toString)))
      assert(fc2 == 200 && figure2 == batch2, "second upload did not refresh the figure")
      assert(figure1 != figure2, "two different rides produced the same figure")
    } finally {
      handles.stop()
      FileUtils.deleteDirectory(exportDir.toFile)
      FileUtils.deleteDirectory(uploadDir.toFile)
    }
  }

  test("POST /upload is 404 when no upload dir is configured") {
    val dir = Files.createTempDirectory("graft_app_noup_")
    val server = Serve.start(dir, 0)
    try {
      val (code, body) = http(server.getAddress.getPort, "POST",
        "/upload?name=a.csv", "x,y\n1,2\n".getBytes(StandardCharsets.UTF_8))
      assert(code == 404 && body.contains("not enabled"), s"$code $body")
    } finally {
      server.stop(0)
      FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
