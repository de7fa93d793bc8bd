package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.vesc._
import Timing.{step, time}

/** The workloads. Each one: its set-up, as a user of the engine pays it
  * once (`setup.assets_s` or `setup.app_s`), then either operations for
  * `seconds` (`latency_s` is the first, which pays the engine's code
  * generation and JIT; later ones are `warm_latency_s`), or, traced, a
  * first operation, a traced and an untraced warm operation, and the
  * per-layer cuts.
  */
object Workloads {
  def apply(name: String): Ctx => Unit = name match {
    case "ride_upload" => RideUpload.run
    case "long_ride" => LongRide.run
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The scorer's weights and the normalization means and deviations. */
  type Assets = (CnnScorer.CnnWeights, Array[Double], Array[Double])

  /** Runs the workload's operations. `op` gets its index and the tracer,
    * and returns its end-to-end seconds (None when it failed).
    */
  def drive(c: Ctx)(op: (Int, Option[Trace]) => Option[Double])(cuts: => Unit): Unit =
    if (!c.trace) {
      val t0 = System.nanoTime
      var i = 0
      while (i == 0 || Timing.since(t0) < c.seconds) {
        step(s"op $i")(op(i, None)).foreach(
          c.rec.sample(if (i == 0) "latency_s" else "warm_latency_s", _))
        i += 1
      }
    } else {
      step("first op")(op(0, None))
      val tr = new Trace(c.spark)
      tr.start()
      HeapPeak.reset()
      val before = tr.counters()
      val (traced, wall) = step("traced op")(time(op(1, Some(tr))))
      val d = tr.counters() - before
      val heap = HeapPeak.mb()
      tr.stop()
      // after the traced op, so JIT warm-up still in progress inflates the
      // overhead rather than hiding it
      val untraced = step("untraced op")(op(2, None))
      val r = c.rec
      r.layer("spark.analysis_s", d.analysisMs / 1e3, "s")
      r.layer("spark.planning_s", d.planningMs / 1e3, "s")
      r.layer("spark.jobs", d.jobs, "count")
      r.layer("spark.stages", d.stages, "count")
      r.layer("spark.tasks", d.tasks, "count")
      r.layer("spark.executor_run_s", d.executorRunMs / 1e3, "s")
      r.layer("spark.parallelism", d.executorRunMs / 1e3 / (wall * c.cores), "ratio")
      r.layer("spark.shuffle_write_bytes", d.shuffleWriteBytes, "bytes")
      r.layer("spark.spill_bytes", d.spillBytes, "bytes")
      r.layer("spark.gc_s", d.gcMs / 1e3, "s")
      r.layer("spark.plan_nodes", d.planNodes, "count")
      r.layer("spark.queries", d.queries, "count")
      r.layer("jvm.heap_peak_mb", heap, "MB")
      for (u <- untraced; t <- traced) {
        r.layer("trace.warm_latency_s", t, "s")
        r.layer("trace.overhead_s", t - u, "s")
      }
      cuts
      malformedProbe(c)
    }

  def noop(df: DataFrame): Double =
    time(df.write.format("noop").mode("overwrite").save())._2

  /** Materializes `df` through the noop sink, counting its rows on the way. */
  def counted(df: DataFrame): (Long, Double) = {
    val o = new Observation()
    val s = noop(df.observe(o, count(lit(1)).as("n")))
    (o.get("n").asInstanceOf[Long], s)
  }

  /** Collects `df` through a Dataset of its own: collecting `df` itself a
    * second time would reuse the shuffle output of its first, adaptive,
    * execution.
    */
  def collected(df: DataFrame): (Array[Row], Double) = time(df.select("*").collect())

  /** Windows the assembler considers for a ride of `gridRows` rows. */
  def candidates(gridRows: Long): Long =
    if (gridRows < 30) 0 else (gridRows - 30) / 5 + 1

  /** Per-layer cuts of the production path on the workload's first ride.
    *
    * Lazy layers are cut into prefixes of [[VescPipeline.analyze]]'s body,
    * one public call per layer: `<layer>.analysis_s` is the time of the
    * call that builds the layer's DataFrame, and `<layer>.self_s` is what
    * materializing the prefix ending in that layer adds to materializing
    * the prefix before it. A prefix is projected to the columns the next
    * layer reads ([[windowInput]]), so it materializes only what `analyze`
    * materializes: the window assembler prunes every other column up the
    * plan. With `training`, the training path's layers are cut too:
    * annotations and normalization hang off the 10 Hz grid (the ride
    * labeled on its `ts_utc` clock, and the ride's normalization stats),
    * so their self times are relative to the grid prefix. Each prefix is
    * timed by [[cut]]. Export is a terminal call; it runs on the collected
    * timeline.
    */
  def cuts(c: Ctx, assets: Assets, training: Boolean): Unit =
    c.rec.op("layer_cuts") { ck =>
      val (w, mean, std) = assets
      val r = c.rec
      val ride = c.inputs.rides.head
      val (raw, aRaw) = time(RawLogReader.readProd(c.spark, Seq(ride.path)))
      val (nRaw, tRaw) = cut("raw")(counted(windowInput(raw)))
      val (grid, aGrid) = time(Resampler.prodResample(
        raw.withColumn("ride_id", coalesce(col("ride_id"), lit("prod")))))
      val (nGrid, tGrid) = cut("grid")(counted(windowInput(grid)))

      if (training) trainingCuts(c, ck, grid, tGrid)

      val (win, aWin) = time(WindowAssembler.assemble(grid.withColumn("ride_id", lit("prod"))))
      val (nWin, tWin) = cut("windows")(counted(win))
      val scored = CnnScorer.score(win, w, mean, std)
      val (_, tScored) = cut("scored")(((), noop(scored)))
      val timeline = Postprocess.displayTimeline(scored)
      val (rows, tTimeline) = cut("timeline")(collected(timeline))
      val local = c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), timeline.schema)
      val (_, tExport) = step("cut export")(time(Export.timelineBarsJson(local)))

      r.layer("raw_log_reader.analysis_s", aRaw, "s")
      r.layer("raw_log_reader.self_s", tRaw, "s")
      r.layer("raw_log_reader.rows", nRaw, "count")
      r.layer("resampler.analysis_s", aGrid, "s")
      r.layer("resampler.self_s", tGrid - tRaw, "s")
      r.layer("resampler.grid_rows", nGrid, "count")
      r.layer("window_assembler.analysis_s", aWin, "s")
      r.layer("window_assembler.self_s", tWin - tGrid, "s")
      r.layer("window_assembler.windows", nWin, "count")
      r.layer("window_assembler.kept_ratio", nWin.toDouble / candidates(nGrid), "ratio")
      r.layer("cnn_scorer.self_s", tScored - tWin, "s")
      r.layer("postprocess.self_s", tTimeline - tScored, "s")
      r.layer("postprocess.timeline_rows", rows.length, "count")
      r.layer("export.self_s", tExport, "s")
      ck(nRaw == ride.rawRows, s"raw rows $nRaw != ${ride.rawRows}")
      ck(nGrid == ride.gridRows, s"grid rows $nGrid != ${ride.gridRows}")
      ck(nWin == ride.windows, s"windows $nWin != ${ride.windows}")
      checkTimeline(ck, rows, timeline.columns.toSeq, ride)
      scorer(c, w)
    }

  /** The training path's layers on the cut ride's grid, whose prefix took
    * `tGrid`: the ride labeled with the generated Label Studio export, and
    * its normalization stats.
    */
  def trainingCuts(c: Ctx, ck: Checks, grid: DataFrame, tGrid: Double): Unit = {
    val ride = c.inputs.rides.head
    val csv = c.inputs.annotations.get
    val (labeled, aAnn) = time {
      val annos = Annotations.readAnnotations(c.spark, csv)
      ExclusivityRules(Annotations.applyRanges(grid, annos, unix_micros(col("ts_utc"))))
    }
    val (nLabeled, tLabeled) = cut("labeled")(counted(windowInput(labeled)))
    val ranges = Annotations.readAnnotations(c.spark, csv).count()
    // fit aggregates eagerly; its result is a small local table
    val (stats, tFit) = cut("fit")(time(Normalizer.fit(grid).collect()))
    val r = c.rec
    r.layer("annotations.analysis_s", aAnn, "s")
    r.layer("annotations.self_s", tLabeled - tGrid, "s")
    r.layer("annotations.ranges", ranges, "count")
    r.layer("normalizer.self_s", tFit - tGrid, "s")
    ck(nLabeled == ride.gridRows, s"labeled rows $nLabeled != ${ride.gridRows}")
    ck(ranges == c.inputs.ranges.get, s"annotation ranges $ranges != ${c.inputs.ranges.get}")
    checkStats(ck, stats, ride.gridRows - ride.voidedRows)
  }

  /** Materializes a prefix twice and keeps the faster time: one
    * materialization on a busy host is noisy, and a self time is the
    * difference of two of them.
    */
  def cut[T](name: String)(body: => (T, Double)): (T, Double) = {
    val runs = (1 to 2).map(k => step(s"cut $name #$k")(body))
    (runs.last._1, runs.map(_._2).min)
  }

  /** `df` projected to the columns [[WindowAssembler.assemble]] reads: the
    * ride key, sample order and clock, the model features and, on a
    * labeled table, the behavior labels. The resampler reads the same
    * columns of the raw log to produce them.
    */
  def windowInput(df: DataFrame): DataFrame =
    df.select((Seq("ride_id", "sample_idx", "ms_today") ++ VescSchema.FeatureCols ++
      VescSchema.ConfidenceCols).filter(df.columns.contains).map(col): _*)

  /** Forward-pass time of one window, and its multiply-accumulates counted
    * from the weight shapes.
    */
  def scorer(c: Ctx, w: CnnScorer.CnnWeights): Unit = {
    val rnd = new scala.util.Random(7)
    val window = Array.fill(30, w.conv1.w(0).length)(rnd.nextGaussian().toFloat)
    var sink = 0f
    for (_ <- 1 to 200) sink += CnnScorer.forward(window, w)(0)
    val n = 1000
    val (_, s) = time { for (_ <- 1 to n) sink += CnnScorer.forward(window, w)(0) }
    c.rec.layer("cnn_scorer.forward_us", s / n * 1e6, "us")
    if (sink.isNaN) c.rec.notes += "forward pass produced NaN"

    val convs = Seq(w.conv1, w.resConv1, w.resConv2, w.conv2, w.conv3, w.conv4)
    val (convMacs, _) = convs.foldLeft((0L, 30L)) { case ((macs, t), cw) =>
      val k = cw.w(0)(0).length
      val tOut = t + 2 * cw.padding - cw.dilation * (k - 1)
      (macs + cw.w.length.toLong * cw.w(0).length * k * tOut, tOut)
    }
    val headMacs = w.head.w.length.toLong * w.head.w(0).length
    c.rec.layer("cnn_scorer.macs_per_window", (convMacs + headMacs).toDouble, "count")
  }

  /** Reads the probe log, whose one malformed numeric cell the reader
    * should turn into null. Reported, not counted as a failed operation:
    * the reader fails on it (perfbench/LAYERS.md, "Known defect"), so the
    * timed inputs leave the malformed cell out.
    */
  def malformedProbe(c: Ctx): Unit = {
    val errors =
      try {
        val nulls = RawLogReader.readProd(c.spark, Seq(c.probe.rides.head.path))
          .filter(col("current_motor").isNull).count()
        c.rec.notes += s"malformed-cell probe: read, $nulls null cell(s) (expected 1)"
        if (nulls == 1) 0 else 1
      } catch {
        case t: Throwable =>
          c.rec.notes += "known defect: RawLogReader fails on a malformed numeric cell: " +
            s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).linesIterator.next()}"
          1
      }
    c.rec.layer("raw_log_reader.malformed_errors", errors, "count")
  }

  /** Normalization stats: one finite row per feature, each counting the
    * ride's grid rows outside voided gaps.
    */
  def checkStats(ck: Checks, stats: Array[Row], finite: Long): Unit = {
    ck(stats.length == VescSchema.FeatureCols.size, s"${stats.length} norm stats rows")
    stats.foreach { r =>
      val (mean, std, n) = (r.getDouble(1), r.getDouble(2), r.getLong(3))
      ck(!mean.isNaN && !mean.isInfinite && std > 0 && !std.isInfinite,
        s"${r.getString(0)}: mean $mean std $std")
      ck(n == finite, s"${r.getString(0)}: $n finite values, expected $finite")
    }
  }

  /** A collected display timeline: one row per kept window, 13 scores in
    * [0, 1].
    */
  def checkTimeline(ck: Checks, rows: Array[Row], columns: Seq[String], ride: Ride): Unit = {
    val cf = columns.filter(_.startsWith("cf_"))
    ck(rows.length == ride.timelineRows, s"timeline rows ${rows.length} != ${ride.timelineRows}")
    ck(cf.size == 13, s"${cf.size} score columns")
    val idx = cf.map(columns.indexOf)
    val bad = rows.count(r => idx.exists { i =>
      !r.isNullAt(i) && { val v = r.getDouble(i); !(v >= 0.0 && v <= 1.0) }
    })
    ck(bad == 0, s"$bad timeline rows with a score outside [0, 1]")
  }
}

/** Closed loop, one client: POST a fresh ride to the running app, wait
  * until GET /figure serves its timeline, then send the next.
  */
object RideUpload {
  import Workloads._

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def get(base: String, path: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  /** (batch id, timeline rows) of the last refresh, once there is one. */
  private def lastRefresh(base: String): Option[(Long, Long)] = {
    val r = get(base, "/files/last_refresh.json")
    if (r.statusCode != 200) None
    else {
      val j = JsonMethods.parse(r.body)
      val JInt(b) = j \ "batch": @unchecked
      val JInt(n) = j \ "rows": @unchecked
      Some((b.toLong, n.toLong))
    }
  }

  def run(c: Ctx): Unit = {
    // started once, cold: it loads the scorer assets itself; stopping an
    // app, to start it again, takes seconds
    val (handles, appS) = time(App.start(c.spark, c.dir("app/export"), c.dir("app/upload")))
    c.rec.sample("setup.app_s", appS)
    val base = s"http://127.0.0.1:${handles.port}"
    var uploads = 0

    /** One upload → refreshed figure; seconds from POST to figure. */
    def upload(ride: Ride, tr: Option[Trace]): Option[Double] =
      c.rec.op("upload") { ck =>
        uploads += 1
        val name = ride.name.stripSuffix(".csv") + f"_u$uploads%03d.csv"
        val body = Files.readAllBytes(Paths.get(ride.path))
        val prev = lastRefresh(base).map(_._1).getOrElse(-1L)
        val jobs0 = tr.map(_.counters().jobs)
        val t0 = System.nanoTime
        val post = http.send(
          HttpRequest.newBuilder(URI.create(s"$base/upload?name=$name"))
            .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        val postS = Timing.since(t0)
        val postEndMs = System.currentTimeMillis
        ck(post.statusCode == 200, s"POST /upload returned ${post.statusCode}")
        var seen = lastRefresh(base)
        while (!seen.exists(_._1 > prev)) {
          if (Timing.since(t0) > 150) throw new RuntimeException("no refresh within 150 s")
          LockSupport.parkNanos(2000000L)
          seen = lastRefresh(base)
        }
        val tFig = System.nanoTime
        val fig = get(base, "/figure")
        val end = System.nanoTime

        val rows = seen.get._2
        ck(rows == ride.timelineRows, s"refresh rows $rows != ${ride.timelineRows}")
        ck(fig.statusCode == 200, s"GET /figure returned ${fig.statusCode}")
        val traces = (JsonMethods.parse(fig.body) \ "data").children
        ck(traces.size == 13, s"figure has ${traces.size} traces")
        traces.foreach { t =>
          val xs = (t \ "x").children
          ck(xs.size == rows, s"trace has ${xs.size} bars for $rows rows")
          val ys = (t \ "y").children.collect { case JDouble(v) => v; case JInt(v) => v.toDouble }
          ck(ys.forall(v => v > 0.1 && v <= 1.0), "bar height outside (0.1, 1]")
        }

        for (t <- tr) {
          val r = c.rec
          r.layer("app.jobs_per_upload", (t.counters().jobs - jobs0.get).toDouble, "count")
          r.layer("serve.post_s", postS, "s")
          r.layer("serve.figure_get_s", (end - tFig) / 1e9, "s")
          t.streamBatches().lastOption.foreach { b =>
            r.layer("app.refresh_s", b.durationMs.getOrElse("addBatch", 0L) / 1e3, "s")
            r.layer("streaming.trigger_wait_s",
              math.max(0L, b.startEpochMs - postEndMs) / 1e3, "s")
          }
        }
        (end - t0) / 1e9
      }

    // the app keeps running until the harness halts the JVM
    val rides = c.inputs.rides
    // the cuts need the assets too: loaded again, untimed, only when traced
    drive(c)((i, tr) => upload(rides(i % rides.size), tr))(
      cuts(c, VescPipeline.bundled(c.spark), training = true))
  }
}

/** One long ride through [[VescPipeline.analyze]] with preloaded weights,
  * collected.
  */
object LongRide {
  import Workloads._

  def run(c: Ctx): Unit = {
    // one cold load, as the first analysis in a JVM pays it
    val (assets, assetsS) = time(VescPipeline.bundled(c.spark))
    c.rec.sample("setup.assets_s", assetsS)
    val (w, m, s) = assets

    def analyze(ride: Ride): Option[Double] = c.rec.op("analyze") { ck =>
      val ((rows, columns), t) = time {
        val df = VescPipeline.analyze(c.spark, Seq(ride.path), w, m, s)
        (df.collect(), df.columns.toSeq)
      }
      checkTimeline(ck, rows, columns, ride)
      t
    }

    // the traced run's first operation only warms up: it takes the short ride
    val (ride, short) = (c.inputs.rides.head, c.inputs.rides.last)
    drive(c)((i, _) => analyze(if (c.trace && i == 0) short else ride))(
      // the training layers are cut on ride_upload's short ride only: on
      // this ride they would take the traced run past its time limit
      cuts(c, assets, training = false))
  }
}
