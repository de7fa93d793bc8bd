package graft.vesc

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The serving boundary of the reference application
  * (application/app.py:96-116,354-366): after an upload is analyzed the
  * app serves the plot-ready figure and metric tables over HTTP. The
  * engine equivalent: [[Export]] materializes the deliverables
  * (timeline_bars.json, timeline/mae/reliability CSVs) to a directory,
  * and this zero-dependency JDK `HttpServer` serves that directory —
  * the last mile from engine output to a browser.
  *
  * Deliberately NOT a Spark process: serving is read-only I/O over
  * already-materialized artifacts, so it needs no session, no executors,
  * and restarts in milliseconds. At real scale the same artifacts sit in
  * object storage behind a CDN; this server is the single-node stand-in
  * with the identical contract.
  *
  * Endpoints:
  *  - `GET /health`           → `{"ok":true}`
  *  - `GET /` (or /index.html)→ the browser shell: a static HTML page
  *                               (plotly.js from its CDN) that renders
  *                               `/figure` with stacked-bars and
  *                               behavior-class controls wired to the
  *                               `stack`/`classes` query params — the
  *                               reference's Streamlit page
  *                               (app.py:247-366) as a served artifact.
  *  - `GET /figure`           → `timeline_bars.json` (the Plotly figure
  *                               [[Export.timelineBarsJson]] wrote;
  *                               always overlay, every behavior).
  *                               `?stack=true` rewrites `layout.barmode`
  *                               to `stack` (the reference's checkbox,
  *                               app.py:331,355); `?classes=cf_a,cf_b`
  *                               keeps only the named traces (the
  *                               multiselect, app.py:347). Both are
  *                               JSON-level transforms of the exported
  *                               artifact — no Spark recompute to serve
  *                               a display toggle.
  *  - `GET /files/<name>`     → any regular file in the export dir
  *                               (csv/json content types); path traversal
  *                               outside the dir is rejected with 403.
  *  - `POST /upload?name=<f>` → (only when an upload dir is configured)
  *                               store the request body as `<f>` in the
  *                               upload directory — the reference's
  *                               upload box (app.py:354-366). The name is
  *                               sanitized to a single `.csv` path
  *                               component; the body lands via
  *                               write-temp-then-atomic-rename so a
  *                               file-source stream watching the dir
  *                               ([[graft.streaming.StreamingPipeline.uploadAnalysis]])
  *                               never observes a half-written log.
  */
object Serve {

  /** Uploaded names must be one plain `.csv` path component — no
    * separators, no traversal, nothing hidden. Anything else is a 400,
    * not a best-effort mangle.
    */
  private[vesc] val SafeCsvName = "^[A-Za-z0-9][A-Za-z0-9._ -]{0,120}\\.csv$".r

  /** Refuse uploads past this size rather than buffering them (the
    * reference's logs are a few MB; 256 MiB is generous headroom).
    */
  private[vesc] val MaxUploadBytes: Long = 256L * 1024 * 1024

  private def parseQuery(raw: String): Map[String, String] =
    Option(raw).toSeq.flatMap(_.split("&")).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }.toMap

  /** Display-toggle transform of an exported figure: filter `data` traces
    * by `name` and/or set `layout.barmode` to `stack`. Operates on the
    * figure JSON itself (json4s, already on Spark's classpath) so the
    * served variants stay byte-consistent with the exporter's contract —
    * numbers, hover strings, and colors pass through untouched.
    */
  private[vesc] def figureVariant(figureJson: String, stack: Boolean,
                                  classes: Option[Set[String]]): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val fig = JsonMethods.parse(figureJson)
    val filtered = classes match {
      case None => fig
      case Some(keep) => fig.transformField {
        case ("data", JArray(traces)) =>
          "data" -> JArray(traces.filter { t =>
            (t \ "name") match {
              case JString(n) => keep.contains(n)
              case _          => true
            }
          })
      }
    }
    val moded =
      if (!stack) filtered
      else filtered.transformField {
        case ("barmode", JString(_)) => "barmode" -> JString("stack")
      }
    JsonMethods.compact(JsonMethods.render(moded))
  }

  /** The browser shell over `GET /figure` — the engine-side equivalent of
    * the reference's Streamlit page (application/app.py:247-366): a
    * stacked/grouped toggle and a behavior-class multiselect, both wired
    * to the `/figure` query params so every display change is served from
    * the exported artifact, never recomputed. plotly.js loads from its
    * public CDN (the one external reference a browser page needs); the
    * class checklist is populated from the figure's own trace names, so
    * the page has no baked-in class list to drift.
    */
  private[vesc] val IndexHtml: String =
    """<!doctype html>
      |<html lang="en">
      |<head>
      |<meta charset="utf-8">
      |<title>graft — ride timeline</title>
      |<script src="https://cdn.plot.ly/plotly-2.35.2.min.js"></script>
      |<style>
      |  body { font-family: system-ui, sans-serif; margin: 1.5rem; }
      |  #controls { margin-bottom: 1rem; display: flex; gap: 1.5rem;
      |              align-items: center; flex-wrap: wrap; }
      |  #classes label { margin-right: .75rem; }
      |  #fig { width: 100%; height: 70vh; }
      |</style>
      |</head>
      |<body>
      |<h2>Ride behavior timeline</h2>
      |<div id="controls">
      |  <label><input type="checkbox" id="stack"> stacked bars</label>
      |  <span id="classes"></span>
      |</div>
      |<div id="fig"></div>
      |<script>
      |const stackBox = document.getElementById('stack');
      |const classBox = document.getElementById('classes');
      |let allClasses = null;
      |function figureUrl() {
      |  const q = [];
      |  if (stackBox.checked) q.push('stack=true');
      |  if (allClasses) {
      |    const picked = [...classBox.querySelectorAll('input:checked')]
      |      .map(b => b.value);
      |    if (picked.length < allClasses.length)
      |      q.push('classes=' + encodeURIComponent(picked.join(',')));
      |  }
      |  return '/figure' + (q.length ? '?' + q.join('&') : '');
      |}
      |async function draw() {
      |  const r = await fetch(figureUrl());
      |  if (!r.ok) {
      |    document.getElementById('fig').textContent = 'no figure exported';
      |    return;
      |  }
      |  const fig = await r.json();
      |  if (allClasses === null) {
      |    allClasses = fig.data.map(t => t.name).filter(n => n);
      |    classBox.innerHTML = allClasses.map(n =>
      |      `<label><input type="checkbox" value="${n}" checked> ${n}</label>`
      |    ).join('');
      |    classBox.querySelectorAll('input')
      |      .forEach(b => b.addEventListener('change', draw));
      |  }
      |  Plotly.react('fig', fig.data, fig.layout, {responsive: true});
      |}
      |stackBox.addEventListener('change', draw);
      |draw();
      |</script>
      |</body>
      |</html>
      |""".stripMargin

  private def contentType(name: String): String =
    if (name.endsWith(".json")) "application/json"
    else if (name.endsWith(".csv")) "text/csv"
    else if (name.endsWith(".html")) "text/html"
    else if (name.endsWith(".png")) "image/png"
    else "application/octet-stream"

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
                      ctype: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, body.length.toLong)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
  }

  private def respondJson(ex: HttpExchange, code: Int, json: String): Unit =
    respond(ex, code, json.getBytes(StandardCharsets.UTF_8), "application/json")

  /** Start serving `dir` on `host:port` (port 0 = ephemeral; read the
    * bound port from the returned server). The default bind is LOOPBACK —
    * exposing the server beyond the machine is an explicit opt-in, not a
    * default. Non-blocking — caller owns stop().
    */
  def start(dir: Path, port: Int, host: String = "127.0.0.1",
            uploadTo: Option[Path] = None): HttpServer = {
    val root = dir.toAbsolutePath.normalize
    val server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.createContext("/", (ex: HttpExchange) => {
      try {
        val path = ex.getRequestURI.getPath
        if (ex.getRequestMethod == "POST" && path == "/upload") {
          handleUpload(ex, uploadTo)
        } else if (ex.getRequestMethod != "GET") {
          respondJson(ex, 405, """{"error":"method not allowed"}""")
        } else if (path == "/health") {
          respondJson(ex, 200, """{"ok":true}""")
        } else if (path == "/" || path == "/index.html") {
          respond(ex, 200, IndexHtml.getBytes(StandardCharsets.UTF_8),
            "text/html")
        } else if (path == "/figure") {
          val f = root.resolve("timeline_bars.json")
          if (Files.isRegularFile(f)) {
            val params = parseQuery(ex.getRequestURI.getRawQuery)
            val stack = params.get("stack").exists(v => v == "true" || v == "1")
            val classes = params.get("classes")
              .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
            val body =
              if (!stack && classes.isEmpty) Files.readAllBytes(f)
              else figureVariant(
                new String(Files.readAllBytes(f), StandardCharsets.UTF_8),
                stack, classes).getBytes(StandardCharsets.UTF_8)
            respond(ex, 200, body, "application/json")
          } else respondJson(ex, 404, """{"error":"no figure exported"}""")
        } else if (path.startsWith("/files/")) {
          // resolve, then REQUIRE the REAL path (symlinks resolved) stays
          // inside the export dir — a syntactic normalize alone lets a
          // symlink placed in the dir escape it
          val f = root.resolve(path.stripPrefix("/files/")).normalize
          val real =
            try Some(f.toRealPath()) catch { case _: java.io.IOException => None }
          real match {
            case Some(r) if !r.startsWith(root.toRealPath()) =>
              respondJson(ex, 403, """{"error":"forbidden"}""")
            case Some(r) if Files.isRegularFile(r) =>
              respond(ex, 200, Files.readAllBytes(r), contentType(r.toString))
            case _ =>
              respondJson(ex, 404, """{"error":"not found"}""")
          }
        } else {
          respondJson(ex, 404, """{"error":"not found"}""")
        }
      } catch {
        // a file vanishing between check and read must yield a response,
        // not an aborted exchange
        case _: Throwable =>
          try respondJson(ex, 500, """{"error":"internal"}""")
          catch { case _: Throwable => () }
      } finally ex.close()
    })
    server.start()
    server
  }

  /** Accept one uploaded raw log. The filename arrives as `?name=` (the
    * reference keeps the original name because the ride date is inferred
    * from it — app.py:107 `infer_log_date_from_filename`); the body is
    * the raw CSV bytes. The write is temp-file + atomic rename INTO the
    * watched directory, with the temp name carrying no `.csv` suffix, so
    * the streaming file source only ever lists complete logs.
    */
  private def handleUpload(ex: HttpExchange, uploadTo: Option[Path]): Unit =
    uploadTo match {
      case None =>
        respondJson(ex, 404, """{"error":"uploads not enabled"}""")
      case Some(dirRaw) =>
        val dir = dirRaw.toAbsolutePath.normalize
        // the raw query is decoded exactly once: `%25` is a literal '%'
        // and `%2B` a literal '+', both refused by SafeCsvName
        val name = parseQuery(ex.getRequestURI.getRawQuery).getOrElse("name", "")
        if (SafeCsvName.findFirstIn(name).isEmpty) {
          respondJson(ex, 400, """{"error":"name must be a plain .csv filename"}""")
        } else {
          val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
            .flatMap(s => scala.util.Try(s.toLong).toOption)
          if (declared.exists(_ > MaxUploadBytes)) {
            respondJson(ex, 413, """{"error":"upload too large"}""")
          } else {
            val body = ex.getRequestBody.readNBytes((MaxUploadBytes + 1).toInt)
            if (body.length.toLong > MaxUploadBytes) {
              respondJson(ex, 413, """{"error":"upload too large"}""")
            } else if (body.isEmpty) {
              respondJson(ex, 400, """{"error":"empty body"}""")
            } else {
              Files.createDirectories(dir)
              val tmp = Files.createTempFile(dir, ".part_", ".tmp")
              Files.write(tmp, body)
              Files.move(tmp, dir.resolve(name),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              respondJson(ex, 200,
                s"""{"uploaded":${graft.Json.str(name)},"bytes":${body.length}}""")
            }
          }
        }
    }

  /** `runMain graft.vesc.Serve <exportDir> [port] [host]` — serve an
    * [[Export]] output directory until killed (loopback unless a host is
    * given explicitly).
    */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Serve <exportDir> [port] [host]")
    val dir = Paths.get(args(0))
    val port = if (args.length > 1) args(1).toInt else 8080
    val host = if (args.length > 2) args(2) else "127.0.0.1"
    val server = start(dir, port, host)
    println(s"""{"serving":${graft.Json.str(dir.toAbsolutePath.toString)},""" +
      s""""port":${server.getAddress.getPort}}""")
    Thread.currentThread.join() // serve until killed
  }
}
