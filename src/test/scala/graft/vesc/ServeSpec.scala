package graft.vesc

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.SparkSuite

/** The serving boundary: endpoints, content types, 404s, and the path
  * traversal guard — exercised over a real socket with the JDK client.
  * No Spark session starts: serving reads already-materialized export
  * artifacts, and the suite takes only `withTempDir` from [[SparkSuite]].
  * Every test deletes the directories and files it creates.
  */
class ServeSpec extends SparkSuite {

  private def get(port: Int, path: String): (Int, String, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    (code, body, String.valueOf(conn.getContentType))
  }

  private def post(port: Int, path: String, body: Array[Byte]): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    val os = conn.getOutputStream
    try os.write(body) finally os.close()
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    (code, new String(stream.readAllBytes(), StandardCharsets.UTF_8))
  }

  test("health, figure, files, 404, and traversal guard over a real socket") {
    withTempDir("graft_serve_")(dir => withSecret(secret => guarded(dir, secret)))
  }

  private def withSecret[T](body: Path => T): T = {
    val secret = Files.createTempFile("graft_secret_", ".txt")
    try body(secret) finally Files.deleteIfExists(secret)
  }

  private def guarded(dir: Path, secret: Path): Unit = {
    val figure = """{"data":[],"layout":{"barmode":"overlay"}}"""
    Files.write(dir.resolve("timeline_bars.json"),
      figure.getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("mae.csv"),
      "behavior,mae\ncf_brake,0.1\n".getBytes(StandardCharsets.UTF_8))
    // a file OUTSIDE the export dir that traversal must not reach
    Files.write(secret, "nope".getBytes(StandardCharsets.UTF_8))

    val server = Serve.start(dir, 0)
    val port = server.getAddress.getPort
    try {
      val (hc, hb, ht) = get(port, "/health")
      assert(hc == 200 && hb == """{"ok":true}""" && ht.startsWith("application/json"))

      val (fc, fb, ft) = get(port, "/figure")
      assert(fc == 200 && fb == figure && ft.startsWith("application/json"))

      val (cc, cb, ct) = get(port, "/files/mae.csv")
      assert(cc == 200 && cb.startsWith("behavior,mae") && ct.startsWith("text/csv"))

      val (nc, _, _) = get(port, "/files/absent.csv")
      assert(nc == 404)
      val (uc, _, _) = get(port, "/nonsense")
      assert(uc == 404)

      val traverse = s"/files/..%2F..%2F..%2F..%2F..%2F..%2Ftmp%2F${secret.getFileName}"
      val (tc, tb, _) = get(port, traverse)
      assert(tc == 403 || tc == 404, s"traversal must not serve: $tc $tb")
      assert(!tb.contains("nope"), "traversal leaked file contents")

      // a symlink placed INSIDE the export dir pointing outside must not
      // escape either (the guard checks the real path, not just the name)
      Files.createSymbolicLink(dir.resolve("leak"), secret)
      val (sc2, sb2, _) = get(port, "/files/leak")
      assert(sc2 == 403, s"symlink escape must 403: $sc2 $sb2")
      assert(!sb2.contains("nope"), "symlink leaked file contents")
    } finally server.stop(0)
  }

  test("figure display toggles: ?stack + ?classes (app.py:331,347 parity)") {
    withTempDir("graft_serve_fig_")(toggles)
  }

  private def toggles(dir: Path): Unit = {
    // two named traces + one name-less annotation-style entry (must survive
    // class filtering untouched)
    val figure = """{"data":[{"type":"bar","name":"cf_accel","y":[1]},""" +
      """{"type":"bar","name":"cf_brake","y":[2]},{"type":"scatter","y":[3]}],""" +
      """"layout":{"barmode":"overlay","template":"plotly_dark"}}"""
    Files.write(dir.resolve("timeline_bars.json"),
      figure.getBytes(StandardCharsets.UTF_8))
    val server = Serve.start(dir, 0)
    val port = server.getAddress.getPort
    try {
      // no params → byte-identical artifact passthrough
      val (c0, b0, _) = get(port, "/figure")
      assert(c0 == 200 && b0 == figure)

      val (c1, b1, _) = get(port, "/figure?stack=true")
      assert(c1 == 200 && b1.contains("\"barmode\":\"stack\""))
      assert(b1.contains("cf_accel") && b1.contains("cf_brake"))

      val (c2, b2, _) = get(port, "/figure?classes=cf_brake")
      assert(c2 == 200 && !b2.contains("cf_accel") && b2.contains("cf_brake"))
      assert(b2.contains("\"barmode\":\"overlay\""), "classes alone keeps barmode")
      assert(b2.contains("scatter"), "name-less trace survives class filter")

      val (c3, b3, _) = get(port, "/figure?stack=1&classes=cf_accel,cf_brake")
      assert(c3 == 200 && b3.contains("\"barmode\":\"stack\""))
      assert(b3.contains("cf_accel") && b3.contains("cf_brake"))

      val (c4, b4, _) = get(port, "/figure?classes=cf_nope")
      assert(c4 == 200 && !b4.contains("cf_accel") && !b4.contains("cf_brake"))
    } finally server.stop(0)
  }

  test("index page: html shell wiring /figure with stack/classes controls") {
    withTempDir("graft_serve_idx_")(index)
  }

  private def index(dir: Path): Unit = {
    val server = Serve.start(dir, 0)
    try {
      val port = server.getAddress.getPort
      for (path <- Seq("/", "/index.html")) {
        val (code, body, ctype) = get(port, path)
        assert(code == 200 && ctype.startsWith("text/html"), s"$path")
        // the shell fetches the exported figure, never recomputes
        assert(body.contains("/figure"), "page must render from /figure")
        // display controls wired to the query params the server honors
        assert(body.contains("stack=true"), "stacked-bars toggle")
        assert(body.contains("classes="), "class multiselect param")
        assert(body.contains("id=\"stack\"") && body.contains("id=\"classes\""))
        // plotly renders it; class list comes from the figure's traces
        assert(body.contains("Plotly.react") && body.contains("t.name"))
      }
    } finally server.stop(0)
  }

  test("upload names are decoded once and must be a plain .csv name") {
    withTempDir("graft_serve_up_")(dir => withTempDir("graft_serve_uploads_")(upload(dir, _)))
  }

  test("an upload round trip leaves nothing new in java.io.tmpdir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def entries = tmp.list().toSet
    val before = entries
    withTempDir("graft_serve_up_")(dir => withTempDir("graft_serve_uploads_")(upload(dir, _)))
    val left = entries -- before
    assert(left.isEmpty, s"left in $tmp: ${left.mkString(", ")}")
  }

  private def upload(dir: Path, uploads: Path): Unit = {
    val body = "ms_today;voltage\n1;42.0\n".getBytes(StandardCharsets.UTF_8)
    val server = Serve.start(dir, 0, uploadTo = Some(uploads))
    val port = server.getAddress.getPort
    try {
      // `%25` is a literal '%' and `%2B` a literal '+': neither is allowed
      // in a name, and neither is a malformed escape or a space
      for (q <- Seq("a%25.csv", "a%2Bb.csv", "..%2Fevil.csv", "notcsv.txt")) {
        val (code, text) = post(port, s"/upload?name=$q", body)
        assert(code == 400, s"$q: $code $text")
      }
      val (code, text) = post(port, "/upload?name=2025-09-28_13-59-59.csv", body)
      assert(code == 200, text)
      assert(text == """{"uploaded":"2025-09-28_13-59-59.csv","bytes":24}""")
      val stored = Files.list(uploads).iterator()
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      while (stored.hasNext) names += stored.next().getFileName.toString
      assert(names.toList == List("2025-09-28_13-59-59.csv"))
      assert(Files.readAllBytes(uploads.resolve(names.head)).sameElements(body))
    } finally server.stop(0)
  }

  test("figure 404s gracefully when nothing was exported") {
    withTempDir("graft_serve_empty_") { empty =>
      val server = Serve.start(empty, 0)
      try {
        val (code, body, _) = get(server.getAddress.getPort, "/figure")
        assert(code == 404 && body.contains("no figure"))
      } finally server.stop(0)
    }
  }
}
