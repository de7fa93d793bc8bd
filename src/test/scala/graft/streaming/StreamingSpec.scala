package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, element_at, max}
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSuite
import StreamingPipeline.{GridRow, TimedSample}

/** Streaming-mode tests: the stateful 10 Hz resampler and the near-dup band
  * registry over a MemoryStream, exercised across micro-batches (state
  * carries between batches), and the upload directory's per-upload
  * re-analysis.
  */
class StreamingSpec extends SparkSuite {

  test("stateful resampler emits the grid incrementally across batches") {
    implicit val s = spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // a watermark far wider than the samples' span: no sample is late and
    // no ride closes, so only the incremental grid is under test
    val input = MemoryStream[TimedSample]
    val q = StreamingPipeline.resampleStreamExpiring(input.toDS(), watermark = "1 minute")
      .writeStream.format("memory").queryName("grid_out")
      .outputMode(OutputMode.Append()).start()

    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    def at(ms: Long, v: Double) = TimedSample("r1", new java.sql.Timestamp(base + ms), v)
    input.addData(at(0L, 0.0), at(200L, 2.0))
    q.processAllAvailable()
    input.addData(at(300L, 3.0), at(700L, 7.0))
    q.processAllAvailable()

    // grid ms are absolute epoch ms (ts.getTime)
    val out = spark.table("grid_out").as[GridRow].collect()
      .map(r => r.copy(ms = r.ms - base)).sortBy(_.ms).toList
    q.stop()

    // grid: 0(real) 100(interp 1.0) 200(real) 300(real) 400..600(interp,
    // span 400 > 250 → voided) 700(real)
    assert(out.map(_.ms) == List(0L, 100L, 200L, 300L, 400L, 500L, 600L, 700L))
    val byMs = out.map(r => r.ms -> r.value).toMap
    assert(byMs(0L).contains(0.0))
    assert(byMs(100L).exists(v => math.abs(v - 1.0) < 1e-12))
    assert(byMs(200L).contains(2.0))
    assert(byMs(300L).contains(3.0))
    assert(byMs(400L).isEmpty && byMs(500L).isEmpty && byMs(600L).isEmpty)
    assert(byMs(700L).contains(7.0))
    assert(out.count(!_.interpolated) == 4)
  }

  test("resampler state expires on watermark silence; post-close samples start fresh") {
    implicit val s = spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[TimedSample]
    val q = StreamingPipeline
      .resampleStreamExpiring(input.toDS(), watermark = "5 seconds", closeAfterMs = 2000L)
      .writeStream.format("memory").queryName("exp_grid_out")
      .outputMode(OutputMode.Append()).start()

    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val base = t0.getTime // grid ms are absolute epoch ms (ts.getTime)
    def at(ms: Long) = new java.sql.Timestamp(base + ms)
    def r1Ms() = spark.table("exp_grid_out").as[GridRow].collect()
      .filter(_.rideId == "r1").map(_.ms - base).sorted.toList

    // r1's first segment: 0(real) 100(interp) 200(real)
    input.addData(TimedSample("r1", at(0), 0.0),
      TimedSample("r1", at(200), 2.0))
    q.processAllAvailable()
    assert(r1Ms() == List(0L, 100L, 200L))

    // another ride advances the watermark to 55 s — far past r1's
    // last-sample + closeAfter (2.2 s), so r1's state times out and is
    // removed (bounded state: closed rides hold nothing)
    input.addData(TimedSample("r2", at(60000), 1.0))
    q.processAllAvailable()

    // a sample behind the watermark is ignored entirely (no splice)
    input.addData(TimedSample("r1", at(1000), 10.0))
    q.processAllAvailable()
    assert(r1Ms() == List(0L, 100L, 200L),
      "late sample behind the watermark must not add grid rows")

    // a live sample after close starts a FRESH grid: exactly one real row,
    // no voided bridge rows spanning 300 ms..59 s (which surviving state
    // would have emitted)
    input.addData(TimedSample("r1", at(59000), 5.0))
    q.processAllAvailable()
    val ms = r1Ms()
    val fresh = spark.table("exp_grid_out").as[GridRow].collect()
      .filter(r => r.rideId == "r1" && r.ms == base + 59000L)
    q.stop()
    assert(ms == List(0L, 100L, 200L, 59000L),
      s"expected a fresh single-row restart, got $ms")
    assert(fresh.length == 1 && fresh.head.value.contains(5.0) && !fresh.head.interpolated)
  }

  test("streaming near-dup: band registry flags any-band matches, expires horizon") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamingPipeline
      .nearDupStream(input.toDF().toDF("doc_id", "ts", "text"),
        "ts", "doc_id", "text", watermark = "5 seconds", retainMs = 2000L)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append()).start()

    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    def at(ms: Long) = new java.sql.Timestamp(base + ms)
    // per-doc verdict: a doc is near-dup iff any of its bands matched
    def verdicts(): Map[Long, Boolean] = spark.table("neardup_out")
      .groupBy(col("docId")).agg(max(col("bandSeen")))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap

    val textA = "the quick brown fox jumps over the lazy dog tonight"
    val textB = "completely different content about spark catalyst planning"

    // batch 1: two novel docs + an in-batch duplicate pair (5 before 6)
    input.addData((1L, at(0), textA), (2L, at(0), textB),
      (5L, at(100), "alpha beta gamma delta epsilon zeta"),
      (6L, at(100), "alpha beta gamma delta epsilon zeta"))
    q.processAllAvailable()
    assert(verdicts() == Map(1L -> false, 2L -> false, 5L -> false, 6L -> true),
      s"got ${verdicts()}")

    // batch 2: exact re-ingest of A's content -> every band matches;
    // a genuinely novel doc stays novel; a 2-token doc has no shingles,
    // emits no bands, and gets no verdict row at all
    input.addData((3L, at(1000), textA), (4L, at(1000), "fresh novel words entirely"),
      (7L, at(1000), "too short"))
    q.processAllAvailable()
    val v2 = verdicts()
    assert(v2(3L) && !v2(4L) && !v2.contains(7L), s"got $v2")

    // advance the watermark far past every band's retention horizon...
    input.addData((8L, at(60000), "watermark advancing sentinel document here"))
    q.processAllAvailable()
    // ...then re-ingest A's content again: its bands expired, so it
    // re-registers as NOVEL — the explicit horizon/recall trade
    input.addData((9L, at(58000), textA))
    q.processAllAvailable()
    q.stop()
    val v3 = verdicts()
    assert(v3(9L) == false,
      s"bands past the horizon must re-register, got $v3")
    // every doc emitted exactly its band count (4 bands configured)
    val counts = spark.table("neardup_out").groupBy("docId").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ == 4L), s"band rows per doc: $counts")
  }

  test("row-wise minhash signature matches the batch aggregate signature") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf("sf0.001")).limit(200)
    val batchSig = graft.ops.DedupOps
      .minhashSignature(docs, "doc_id", "text", shingleN = 3, numHashes = 8)
    val rowSig = docs.select(col("doc_id"),
      graft.ops.DedupOps.minhashSignatureRow(col("text"), 3, 8).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +: (0 until 8).map(i =>
        element_at(col("sig"), i + 1).as(s"mh$i")): _*)
    assert(batchSig.count() > 0)
    assert(batchSig.exceptAll(rowSig).count() == 0 &&
      rowSig.exceptAll(batchSig).count() == 0,
      "row-wise and aggregate signatures must be identical")
  }

  test("upload-dir foreachBatch re-analysis matches the batch pipeline e2e") {
    val demo = "/root/reference/DEMO_LOGS/2025-09-28_13-59-59.csv"
    assume(new java.io.File(demo).exists())

    withTempDir("graft_uploads_") { uploads =>
      val results = scala.collection.mutable.ArrayBuffer
        .empty[Array[org.apache.spark.sql.Row]]
      val (w, m, s) = graft.vesc.VescPipeline.bundled(spark)
      val q = StreamingPipeline.uploadAnalysis(spark, uploads.toString,
        logs => graft.vesc.VescPipeline.analyzeLogs(logs, w, m, s)) {
        (timeline, _) => results.synchronized { results += timeline.collect() }
      }
      try {
        // the "upload": drop the demo log into the watched directory
        java.nio.file.Files.copy(java.nio.file.Paths.get(demo),
          uploads.resolve("2025-09-28_13-59-59.csv"))
        q.processAllAvailable()
      } finally q.stop()

      val streamed = results.synchronized { results.flatten }
      val batch = graft.vesc.VescPipeline.analyze(spark, Seq(demo)).collect()
      assert(streamed.nonEmpty, "stream produced no scored timeline")
      assert(streamed.length == batch.length,
        s"stream=${streamed.length} batch=${batch.length}")
      // identical scored, suppressed, downsampled timelines (exact rows)
      assert(streamed.map(_.toString).sorted.toSeq ==
        batch.map(_.toString).sorted.toSeq)
    }
  }

  test("upload micro-batch: its one scan is the upload's only read") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val uploads = java.nio.file.Files.createTempDirectory("graft_uploads_")
    val (w, m, s) = graft.vesc.VescPipeline.bundled(spark)
    val timelines = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val rides = scala.collection.mutable.ArrayBuffer.empty[String]
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val micro = try {
      graft.vesc.SyntheticLog.write(uploads, seconds = 10, name = "a.csv")
      java.nio.file.Files.write(uploads.resolve("skip.txt"), "not a log".getBytes("UTF-8"))
      val q = StreamingPipeline.uploadAnalysis(spark, uploads.toString,
        logs => graft.vesc.VescPipeline.analyzeLogs(logs, w, m, s)) { (timeline, _) =>
        timelines.synchronized {
          timelines += timeline
          rides ++= timeline.collect().map(_.getString(0))
        }
      }
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        q.processAllAvailable()
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        // the micro-batch that carried the upload
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        q.stop()
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(uploads.toFile)
    val (batches, names) = timelines.synchronized((timelines.toList, rides.toList))
    assert(batches.size == 1 && names.nonEmpty && names.forall(_.endsWith("/a.csv")), names)
    assert(jobs.get == 1, s"the upload's micro-batch ran ${jobs.get} Spark jobs")
    // the micro-batch scan reads each new file once, body included, and
    // the analysis reads the micro-batch's rows, no file
    val scans = micro.collect { case s: FileSourceScanExec => s }
    assert(scans.map(s => (s.relation.fileFormat.isInstanceOf[BinaryFileFormat],
      s.requiredSchema.fieldNames.toSeq.sorted)) ==
      Seq((true, Seq("content", "length", "modificationTime", "path"))), micro.treeString)
    val analysis = batches.head.queryExecution.executedPlan
    assert(analysis.collect { case s: FileSourceScanExec => s }.isEmpty, analysis.treeString)
    Seq(micro, analysis).foreach(p =>
      assert(p.collect { case e: Exchange => e }.isEmpty, p.treeString))
  }
}
