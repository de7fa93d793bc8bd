package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SparkSession
import graft.streaming.{NearDupBench, StreamBench, StreamMeter}

/** Benchmark entry: runs every SparkEntry query against
  * $SPARK_GRAFT_SF_DIR, forcing full evaluation through the noop sink
  * (a bare count() lets Catalyst prune the projections being measured).
  *
  * Each query runs up to `SPARK_GRAFT_BENCH_RUNS` times (default 5) and
  * reports the per-query MEDIAN — single runs on a shared VM have shown
  * 10-20× wall-clock spikes, so n=1 numbers are meaningless. A query that
  * throws is recorded as -1 with its error listed under "errors" (never
  * silently counted as ~0 s).
  *
  * CRASH/TIMEOUT SAFETY (the r13-r15 lesson — three driver artifacts in a
  * row were unusable, first from a stdout flood, then from a wall-clock
  * kill mid-suite):
  *  - the full JSON line is re-written ATOMICALLY to $SPARK_GRAFT_BENCH_OUT
  *    after EVERY query execution, so a kill at any instant leaves a
  *    parseable artifact covering everything measured so far;
  *  - a JVM shutdown hook flushes once more AND prints the compact stdout
  *    line, so even a SIGTERM'd run emits both artifacts;
  *  - a wall budget ($SPARK_GRAFT_BENCH_BUDGET_S, default 2400 s) degrades
  *    the pass schedule gracefully (full set → cheap rows → stop) instead
  *    of letting the external timeout kill the run mid-suite: pass 1
  *    always completes so every query gets ≥1 timed sample.
  *
  * stdout gets ONLY a compact one-liner (aggregate, error count, slowest
  * queries, state-soundness flags, md5 of the full line): round 14 showed
  * the harness's stdout capture is byte-capped and the ~12 KB full map
  * flooded it. Because sbt decorates the forked process's stdout with
  * `[info]` prefixes (which defeated the driver's parse in r16), the SAME
  * compact line is also written to $SPARK_GRAFT_BENCH_SUMMARY
  * (BENCH_SUMMARY.json) — a bare file no log framework can decorate.
  *
  * PER-QUERY ADAPTIVE PASSES (the r16 verdict's budget ask). Pass 1 IS
  * the warm-up — it is timed and counted: the JIT/codegen-inflated first
  * sample is exactly what a ≥3-sample median discards, and folding it in
  * saves a whole untimed pass of budget (the r16 gate spent ~580 s
  * warming up and then could only fit 2 timed passes in 2400 s). When a
  * row ends the run with EXACTLY 2 samples (budget exhausted) the pass-1
  * sample is dropped whenever it exceeds 2× the warm sample — a
  * 2-sample "median" is the mean of (cold, warm), which inflated dozens
  * of r17 driver rows 1.5-2.5× (the r17 verdict's gate ask). Later
  * passes are gated on per-query COST ESTIMATES (min sample so far —
  * stall-robust): a pass runs the FULL set while that fits the remaining
  * budget, degrades to the cheap rows only (est ≤
  * $SPARK_GRAFT_BENCH_HEAVY_S, default 5 s) once the heavy tail no
  * longer fits — heavy rows keep their ≥3 samples, cheap rows keep
  * accumulating stall margin — and stops when even that won't fit.
  * A quiet run with a generous budget still executes every pass over the
  * full set, so committed baselines stay comparable across rounds.
  *
  * `--remeasure <names...>`: the stripe protocol, mechanized. Re-runs the
  * named rows NEXT TO the two control queries (o3_topk_per_group,
  * j1_grid_align), patches their medians into the existing
  * $SPARK_GRAFT_BENCH_OUT artifact with `patched_rows`/`patch_note`
  * recorded in-band (control ratios included), and prints the patch block.
  */
object Bench {
  /** The stripe-protocol controls: cheap, code-stable queries whose
    * quiet-vs-artifact ratio calibrates the box band for a re-measure. */
  private val ControlQueries = Seq("o3_topk_per_group", "j1_grid_align")

  /** Median of `xs`; -1 (the no-sample marker) when empty. */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Per-row reported value. Pass 1 doubles as the warm-up and is
    * TIMED; a ≥3-sample median discards its JIT/codegen inflation, but
    * when the budget only fits 2 samples the "median" is the MEAN of
    * (cold, warm) — the r17 driver artifact carried dozens of rows
    * 1.5-2.5× inflated this way (text_rouge_eval 67 s vs 5.4 s quiet).
    * Samples are stored most-recent-first, so the LAST element is the
    * pass-1 sample: with exactly 2 samples, drop pass-1 whenever it
    * exceeds 2× the warm sample and report the warm one alone.
    */
  private[graft] def rowValue(times: List[Double]): Double =
    if (times.isEmpty) -1.0
    else if (times.size == 2 && times.last > 2 * times.head) times.head
    else median(times)

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--remeasure")) {
      remeasure(args.tail)
      return
    }
    val wallStart = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - wallStart) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 5 interleaved passes by default: this VM stalls for minutes at a
    // stretch, and a median needs ⌈runs/2⌉ clean samples per query to
    // survive a stall stripe — 3 passes leave no margin for two stalls
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt.max(1)
    // Wall budget. The r15 driver gate killed the suite at rc=124: 318
    // entries × (warmup + 5 passes) outgrew the external wall limit. 2400 s
    // sits comfortably inside the observed driver budget while still
    // fitting warmup + ≥3 full passes on a quiet box.
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "2400").toDouble
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_latest.json")
    val summaryPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", "BENCH_SUMMARY.json")
    // rows estimated above this keep only min(3, runs) passes; the rest
    // keep the full count — 3 clean samples median a heavy row fine, and
    // the saved budget buys the cheap rows their stall margin
    val heavyS = sys.env.getOrElse("SPARK_GRAFT_BENCH_HEAVY_S", "5").toDouble
    val spark = GraftSession.getOrCreate("graft-bench")

    // Warm-up: touch every table once so first-query numbers measure the
    // query, not parquet footer reads + codegen classloading.
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      try Tables.load(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    try Tables.events(spark, sfDir).count() catch { case _: Throwable => () }

    val wanted = args.toSet
    // v_* are fixed-size fixture-correctness queries (ride-101 golden
    // parity) — they don't scale with sf and would only add constant noise
    // to the throughput headline, so the default set excludes them.
    val selected =
      if (wanted.isEmpty)
        SparkEntry.queries.toSeq.filterNot(_._1.startsWith("v_")).sortBy(_._1)
      else SparkEntry.queries.filter(kv => wanted.contains(kv._1)).toSeq.sortBy(_._1)

    // ---- shared mutable state read by the flusher / shutdown hook ----
    @volatile var shuttingDown = false
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val errorOrder = scala.collection.mutable.ArrayBuffer.empty[String]
    def recordError(name: String, e: Throwable): Unit = if (!shuttingDown) {
      // During JVM shutdown Spark's own hook stops the context under the
      // in-flight query; that query's "stopped SparkContext" failure is an
      // artifact of the kill, not a bench error — don't record it.
      val msg = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(200)
      if (errors.putIfAbsent(name, msg) == null) errorOrder.synchronized { errorOrder += name }
    }
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    @volatile var streaming: Option[StreamBench.Result] = None
    @volatile var neardup: Option[NearDupBench.Result] = None
    @volatile var passesCompleted = 0
    @volatile var budgetHit = false

    /** Render the full JSON line from current state. Thread-safe enough for
      * the shutdown-hook reader: worst case it sees a pass count one behind
      * the sample map, which only makes the artifact slightly conservative.
      */
    def renderFull(): String = {
      val results = samples.synchronized {
        selected.map { case (name, _) => name -> rowValue(samples(name)) }
      } ++ streaming.map(r => "streaming_resample" -> r.seconds) ++
        neardup.map(r => "streaming_neardup" -> r.seconds)
      val qs = results.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
      val errJson = errorOrder.synchronized {
        errorOrder.map(k => Json.str(k) + ":" + Json.str(errors.get(k))).mkString("{", ",", "}")
      }
      val streamJson = streaming.map(r =>
        s""","streaming":{"input_rows":${r.inputRows},"output_rows":${r.outputRows},""" +
          s""""rows_per_sec":${math.round(r.rowsPerSec)},"max_state_rows":${r.maxStateRows},""" +
          s""""active_ride_bound":${r.activeRideBound},"watermark_cycles":${r.watermarkCycles},""" +
          s""""state_bounded":${r.maxStateRows <= r.activeRideBound}}""").getOrElse("") +
        neardup.map(r =>
          s""","streaming_neardup":{"input_docs":${r.inputDocs},"band_rows":${r.bandRows},""" +
            s""""docs_per_sec":${math.round(r.docsPerSec)},"max_state_rows":${r.maxStateRows},""" +
            s""""band_key_bound":${r.bandKeyBound},"horizon_cycles":${r.horizonCycles},""" +
            s""""state_bounded":${r.maxStateRows <= r.bandKeyBound}}""").getOrElse("")
      val total = results.collect { case (_, v) if v >= 0 => v }.sum
      val counts = samples.synchronized {
        selected.map { case (name, _) => samples(name).size }
      }
      val sMin = if (counts.isEmpty) 0 else counts.min
      val sMax = if (counts.isEmpty) 0 else counts.max
      s"""{"metric":"total","value":$total,"unit":"sec","runs_per_query":$runs,""" +
        s""""passes_completed":$passesCompleted,"samples_min":$sMin,""" +
        s""""samples_max":$sMax,"budget_s":$budgetS,"budget_hit":$budgetHit,""" +
        s""""wall_s":${math.floor(elapsedS * 10) / 10},""" +
        s""""queries":$qs,"errors":$errJson$streamJson,"sf":${Json.str(sfDir)}}"""
    }

    /** Atomic flush: write to a sibling tmp file, then ATOMIC_MOVE over the
      * target, so a kill mid-write can never leave a torn half-line.
      * Once shutdown starts, only the hook's own forced flush may write:
      * shutdown hooks run CONCURRENTLY with application threads, and the
      * main loop racing through insta-failing passes during the hook
      * window would otherwise overwrite the artifact with an inflated
      * pass count after the hook flushed the true state.
      */
    def flush(force: Boolean = false): Unit = {
      if (shuttingDown && !force) return
      val line = renderFull()
      try writeAtomic(outPath, line)
      catch { case e: Throwable =>
        System.err.println(s"bench: could not write $outPath: $e")
      }
    }

    def renderCompact(): String = {
      val line = renderFull()
      val results = samples.synchronized {
        selected.map { case (name, _) => name -> rowValue(samples(name)) }
      } ++ streaming.map(r => "streaming_resample" -> r.seconds) ++
        neardup.map(r => "streaming_neardup" -> r.seconds)
      val total = results.collect { case (_, v) if v >= 0 => v }.sum
      val slow = results.filter(_._2 >= 0).sortBy(-_._2).take(12)
        .map { case (k, v) => Json.str(k) + ":" + (math.floor(v * 1000) / 1000) }
        .mkString("{", ",", "}")
      val fullMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest(line.getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      s"""{"metric":"total","value":${math.floor(total * 1000) / 1000},""" +
        s""""unit":"sec","runs_per_query":$runs,"passes_completed":$passesCompleted,""" +
        s""""budget_hit":$budgetHit,"n_queries":${results.size},""" +
        s""""n_errors":${errors.size},"queries":$slow""" +
        streaming.map(r => s""","streaming_state_bounded":${r.maxStateRows <= r.activeRideBound}""").getOrElse("") +
        neardup.map(r => s""","neardup_state_bounded":${r.maxStateRows <= r.bandKeyBound}""").getOrElse("") +
        s""","full":${Json.str(outPath)},"full_md5":${Json.str(fullMd5)},"sf":${Json.str(sfDir)}}"""
    }

    // Printed exactly once — by the shutdown hook on SIGTERM, or at the end
    // of a normal run (the hook no-ops after the normal-path print). The
    // same line lands in the summary FILE: sbt prefixes every forked-stdout
    // line with `[info]`, which broke the driver's parse in r16 — a bare
    // file is decoration-proof.
    val printed = new AtomicBoolean(false)
    def printCompactOnce(): Unit =
      if (printed.compareAndSet(false, true)) {
        val compact = renderCompact()
        try writeAtomic(summaryPath, compact)
        catch { case e: Throwable =>
          System.err.println(s"bench: could not write $summaryPath: $e")
        }
        println(compact)
      }
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      shuttingDown = true
      flush(force = true)
      printCompactOnce()
      System.out.flush()
    }, "bench-flush"))

    // Streaming rows run BEFORE the timed passes so they land in the
    // artifact even when the budget (or an external kill) truncates the
    // pass loop. MEDIAN OF 3 RUNS each (SPARK_GRAFT_BENCH_STREAM_RUNS;
    // measurement fix, r18 verdict item 6): these were single-run rows
    // with no stall protection, and both landed inside multi-minute box
    // stall stripes in r17/r18 driver artifacts (streaming_resample
    // 60.3 s in-stripe vs 15.8 s quiet). The reported row is the run
    // with the median wall time; the state-soundness ceiling is the MAX
    // across runs — a strictly harder bound than any single run's.
    //  - streaming_resample: stateful watermark-expiring resampler over a
    //    memory source — rows/s + the MEASURED state ceiling across
    //    watermark cycles (bounded-state evidence in the artifact itself).
    //  - streaming_neardup: the LSH band-registry near-dup stream — docs/s
    //    + band-key state ceiling vs the analytic bound.
    val streamRuns =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_STREAM_RUNS", "3").toInt.max(1)
    def streamRow[R <: StreamMeter.Row](name: String, run: SparkSession => R, keep: R => Unit)
                                       (withCeiling: (R, Long) => R): Unit =
      if (wanted.isEmpty || wanted.contains(name)) {
        try {
          val rs = (1 to streamRuns).map { _ =>
            val r = run(spark)
            keep(r); flush() // keep a kill-surviving partial row
            r
          }
          val mid = rs.sortBy(_.seconds).apply((rs.size - 1) / 2)
          keep(withCeiling(mid, rs.map(_.maxStateRows).max))
        } catch { case e: Throwable => recordError(name, e) }
        flush()
      }
    streamRow[StreamBench.Result]("streaming_resample", StreamBench.run(_),
      r => streaming = Some(r))((r, max) => r.copy(maxStateRows = max))
    streamRow[NearDupBench.Result]("streaming_neardup", NearDupBench.run(_),
      r => neardup = Some(r))((r, max) => r.copy(maxStateRows = max))

    // INTERLEAVED passes: whole query set per pass, median per query ACROSS
    // passes. This VM stalls for minutes at a time; with back-to-back runs
    // one stall poisons all `runs` samples of a query and the median lies.
    // Interleaved, a stall inflates a stripe of different queries in ONE
    // pass each, and per-query medians stay clean.
    //
    // Budget discipline: pass 1 ALWAYS completes — it doubles as the
    // warm-up (every query needs ≥1 sample for a non-(-1) median, and
    // the JIT-inflated first sample is median-discarded once later
    // passes land). Each later pass runs the FULL set while the
    // estimates fit the remaining budget; once the heavy tail no longer
    // fits, the pass degrades to the cheap rows (est ≤ heavyS) —
    // provided heavy rows already hold ≥3 samples — and the loop stops
    // when even the cheap pass won't fit. 1.15 margin throughout:
    // estimates are stall-free minimums.
    def estimate(name: String): Double = samples.synchronized {
      val xs = samples(name)
      if (xs.isEmpty) 0.0 else xs.min
    }
    def sampleCount(name: String): Int =
      samples.synchronized(samples(name).size)
    var pass = 1
    var continue = true
    while (continue && pass <= runs && !shuttingDown) {
      val schedule =
        if (pass == 1) selected
        else {
          val fullCost = selected.map(e => estimate(e._1)).sum
          if (elapsedS + fullCost * 1.15 <= budgetS) selected
          else {
            budgetHit = true
            val cheap = selected.filter(e => estimate(e._1) <= heavyS)
            val heavyCovered = selected.forall(e =>
              estimate(e._1) <= heavyS || sampleCount(e._1) >= 3)
            val cheapCost = cheap.map(e => estimate(e._1)).sum
            if (heavyCovered && cheap.nonEmpty &&
                elapsedS + cheapCost * 1.15 <= budgetS) cheap
            else Seq.empty
          }
        }
      if (schedule.isEmpty) continue = false
      else {
        schedule.foreach { case (name, fn) =>
          if (!shuttingDown) {
            val t0 = System.nanoTime()
            val ok =
              try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
              catch { case e: Throwable => recordError(name, e); false }
            val dt = (System.nanoTime() - t0) / 1e9
            // drop per-query persisted intermediates (dedup band tables
            // etc.) so cached blocks from earlier queries can't
            // GC-pressure later ones
            spark.catalog.clearCache()
            if (ok && !shuttingDown)
              samples.synchronized { samples(name) = dt :: samples(name) }
            flush()
          }
        }
        if (!shuttingDown) {
          passesCompleted = pass
          flush()
        }
        pass += 1
      }
    }
    flush()
    printCompactOnce()
    spark.stop()
  }

  /** Write `line` to `path` via tmp-file + atomic move: a kill mid-write
    * can never leave a torn half-line. */
  private def writeAtomic(path: String, line: String): Unit = {
    val target = Paths.get(path)
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, (line + "\n").getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch { case _: Throwable =>
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** The stripe protocol (BASELINE.md r15/r16), mechanized: re-run the
    * named rows and the two control queries quiet, patch the named rows'
    * fresh medians into $SPARK_GRAFT_BENCH_OUT, and record the patch
    * IN-BAND (`patched_rows` union + `patch_note` carrying the control
    * ratios) so the artifact explains its own provenance. Prints one
    * JSON patch block. Controls are never patched — they are the
    * box-band evidence, not the measurement.
    */
  private def remeasure(names: Array[String]): Unit = {
    require(names.nonEmpty, "--remeasure needs at least one query name")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt.max(1)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_latest.json")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val targets = names.toSeq.distinct.sorted
    val controls = ControlQueries.filter(SparkEntry.queries.contains)
      .filterNot(targets.contains)
    val spark = GraftSession.getOrCreate("graft-bench")
    val all = (targets ++ controls).map(n => n -> SparkEntry.queries(n))
    // untimed warm-up, then interleaved passes — same discipline as the
    // full suite, on a set small enough to stay quiet
    all.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    (1 to runs).foreach { _ =>
      all.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          samples(name) = dt :: samples(name)
        } catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
    }
    spark.stop()
    val medians = (targets ++ controls).map(n => n -> median(samples(n))).toMap
    // patch the artifact in place, preserving everything else
    val m = Json.mapper
    val rootNode = m.readTree(Files.readAllBytes(Paths.get(outPath)))
    val root = rootNode.asInstanceOf[
      com.fasterxml.jackson.databind.node.ObjectNode]
    val qs = root.get("queries").asInstanceOf[
      com.fasterxml.jackson.databind.node.ObjectNode]
    val controlRatios = controls.map { c =>
      val old = Option(qs.get(c)).map(_.asDouble()).getOrElse(-1.0)
      val ratio = if (old > 0) medians(c) / old else -1.0
      c -> (math.floor(ratio * 100) / 100)
    }
    val patched = targets.map { t =>
      val old = Option(qs.get(t)).map(_.asDouble()).getOrElse(-1.0)
      qs.put(t, medians(t))
      (t, old, medians(t))
    }
    // recompute the headline total from the patched per-query map
    var total = 0.0
    val it = qs.elements()
    while (it.hasNext) { val v = it.next().asDouble(); if (v >= 0) total += v }
    root.put("value", total)
    val prevPatched = Option(root.get("patched_rows")).toSeq
      .flatMap(n => (0 until n.size()).map(n.get(_).asText()))
    val arr = root.putArray("patched_rows")
    (prevPatched ++ targets).distinct.sorted.foreach(arr.add)
    root.put("patch_note",
      s"--remeasure quiet ${runs}-pass medians for ${targets.mkString(",")}; " +
        s"controls ${controlRatios.map { case (c, r) => s"$c ${r}x" }
          .mkString(", ")} of artifact (box band)")
    writeAtomic(outPath, m.writeValueAsString(root))
    val block = targets.map { t =>
      val (_, old, nw) = patched.find(_._1 == t).get
      s"""${Json.str(t)}:{"old":${math.floor(old * 1000) / 1000},"new":${
        math.floor(nw * 1000) / 1000}}"""
    }.mkString("{", ",", "}")
    val ctrlJson = controlRatios.map { case (c, r) => s"""${Json.str(c)}:$r""" }
      .mkString("{", ",", "}")
    println(s"""{"remeasure":$block,"control_ratios":$ctrlJson,""" +
      s""""runs":$runs,"artifact":${Json.str(outPath)}}""")
  }
}
