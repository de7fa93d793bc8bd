package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{call_function, col, element_at, lit, when}
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSuite
import StreamingPipeline.{GridRow, Sample}

/** Streaming-mode tests: the stateful 10 Hz resampler over a MemoryStream,
  * exercised across multiple micro-batches (state carries between batches).
  */
class StreamingSpec extends SparkSuite {

  test("stateful resampler emits the grid incrementally across batches") {
    implicit val s = spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Sample]
    val q = StreamingPipeline.resampleStream(input.toDS())
      .writeStream.format("memory").queryName("grid_out")
      .outputMode(OutputMode.Append()).start()

    input.addData(Sample("r1", 0L, 0.0), Sample("r1", 200L, 2.0))
    q.processAllAvailable()
    input.addData(Sample("r1", 300L, 3.0), Sample("r1", 700L, 7.0))
    q.processAllAvailable()

    val out = spark.table("grid_out").as[GridRow].collect()
      .sortBy(_.ms).toList
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

  test("sliding window aggregation over a bounded stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(String, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("ride_id", "ts", "value")
    val q = StreamingPipeline.slidingCounts(df, "ts")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append()).start()

    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(ms: Long) = new java.sql.Timestamp(t0.getTime + ms)
    input.addData(("r1", at(0), 1.0), ("r1", at(1000), 2.0), ("r1", at(2000), 3.0))
    q.processAllAvailable()
    // advance watermark far enough to close the early windows
    input.addData(("r1", at(60000), 0.0))
    q.processAllAvailable()
    val n = spark.table("win_out").count()
    q.stop()
    // each event lands in 6 sliding windows (3 s / 500 ms)
    assert(n > 0, "closed windows should have been emitted")
  }

  test("watermarked streaming dedup keeps first occurrence, expires old keys") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "text")
    val q = StreamingPipeline.dedupStream(df, "ts", "text", watermark = "1 minute")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()

    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(ms: Long) = new java.sql.Timestamp(t0.getTime + ms)
    // duplicates inside the watermark window: whitespace/case-normalized
    input.addData((at(0), "Hello  World"), (at(100), "hello world"), (at(200), "other doc"))
    q.processAllAvailable()
    // advance event time far past the watermark so the old keys expire...
    input.addData((at(10 * 60 * 1000), "advance"))
    q.processAllAvailable()
    // ...then the same content arrives again and is NOT suppressed
    input.addData((at(10 * 60 * 1000 + 100), "HELLO   world"))
    q.processAllAvailable()
    val texts = spark.table("dedup_out").select("text").as[String].collect().toSeq
    q.stop()
    assert(texts.count(t => t.toLowerCase.contains("hello")) == 2,
      s"one inside the window (first wins) + one after expiry; got $texts")
    assert(!texts.contains("hello world"), "the later in-window duplicate is dropped")
  }

  test("late rows behind the watermark are dropped from windowed aggregation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(String, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("ride_id", "ts", "value")
    val q = StreamingPipeline.slidingCounts(df, "ts")
      .writeStream.format("memory").queryName("late_win_out")
      .outputMode(OutputMode.Append()).start()

    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(ms: Long) = new java.sql.Timestamp(t0.getTime + ms)
    input.addData(("r1", at(0), 1.0), ("r1", at(1000), 2.0))
    q.processAllAvailable()
    // advance the watermark to ~110 s, closing every early window
    input.addData(("r1", at(120000), 0.0))
    q.processAllAvailable()
    val closed = spark.table("late_win_out").count()
    assert(closed > 0, "advancing the watermark should close the early windows")
    // a row 100+ s behind the watermark: reference-style ignore-late — it
    // must not re-open closed windows or append new ones
    input.addData(("r1", at(5000), 99.0))
    q.processAllAvailable()
    val after = spark.table("late_win_out").count()
    q.stop()
    assert(after == closed, s"late row must be dropped (closed=$closed after=$after)")
    assert(spark.table("late_win_out").where($"win_avg" === 99.0).count() == 0,
      "late row's value must not appear in any window")
  }

  test("resampler state expires on watermark silence; post-close samples start fresh") {
    implicit val s = spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[StreamingPipeline.TimedSample]
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
    input.addData(StreamingPipeline.TimedSample("r1", at(0), 0.0),
      StreamingPipeline.TimedSample("r1", at(200), 2.0))
    q.processAllAvailable()
    assert(r1Ms() == List(0L, 100L, 200L))

    // another ride advances the watermark to 55 s — far past r1's
    // last-sample + closeAfter (2.2 s), so r1's state times out and is
    // removed (bounded state: closed rides hold nothing)
    input.addData(StreamingPipeline.TimedSample("r2", at(60000), 1.0))
    q.processAllAvailable()

    // a sample behind the watermark is ignored entirely (no splice)
    input.addData(StreamingPipeline.TimedSample("r1", at(1000), 10.0))
    q.processAllAvailable()
    assert(r1Ms() == List(0L, 100L, 200L),
      "late sample behind the watermark must not add grid rows")

    // a live sample after close starts a FRESH grid: exactly one real row,
    // no voided bridge rows spanning 300 ms..59 s (which surviving state
    // would have emitted)
    input.addData(StreamingPipeline.TimedSample("r1", at(59000), 5.0))
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
    def verdicts(): Map[Long, Boolean] = StreamingPipeline
      .nearDupVerdicts(spark.table("neardup_out"))
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

  test("streaming corpus ingest dedupes, scrubs PII, and counts tokens") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "text")
    val q = StreamingPipeline.corpusIngest(df, "ts", "text", watermark = "1 minute")
      .writeStream.format("memory").queryName("corpus_out")
      .outputMode(OutputMode.Append()).start()

    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(ms: Long) = new java.sql.Timestamp(t0.getTime + ms)
    input.addData(
      (at(0), "mail me at bob@example.com today"),
      (at(10), "mail me at  bob@example.com  today"), // whitespace-normalized dup
      (at(20), "clean doc with five tokens"))
    q.processAllAvailable()
    val rows = spark.table("corpus_out")
      .select("clean_text", "n_tokens").as[(String, Long)].collect().toList
    q.stop()
    assert(rows.length == 2, s"dup must collapse: $rows")
    assert(rows.exists(_._1 == "mail me at <EMAIL> today"), rows.toString)
    assert(rows.exists(r => r._1 == "clean doc with five tokens" && r._2 == 5L))
  }

  test("streaming release gate: full PII layer + decontam flag, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.{DecontamOps, PiiOps}

    val bench = Seq("quick brown fox jumps over").toDF("q")
    val hashes = DecontamOps.benchNgramHashes(bench, "q", n = 5).toSeq
    assert(hashes.length == 1)

    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "text")
    val q = StreamingPipeline.releaseGate(df, "ts", "text", hashes,
      decontamN = 5, watermark = "1 minute")
      .writeStream.format("memory").queryName("gate_out")
      .outputMode(OutputMode.Append()).start()

    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(ms: Long) = new java.sql.Timestamp(t0.getTime + ms)
    val rows = Seq(
      "card 4111111111111111 and mail bob@example.com",
      "the quick brown fox jumps over the lazy dog",
      "card 4111111111111111 and mail bob@example.com", // exact dup
      "totally clean and benchmark free sentence here")
    input.addData(rows.zipWithIndex.map { case (t, i) => (at(i * 10L), t) }: _*)
    q.processAllAvailable()
    val got = spark.table("gate_out")
      .select("text", "clean_text", "n_card_luhn", "pii_total",
        "is_contaminated")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toList
    q.stop()

    assert(got.length == 3, s"exact dup must collapse: $got")
    val dirty = got.find(_._1.startsWith("card")).get
    assert(dirty._2 == "card <CARD> and mail <EMAIL>", dirty.toString)
    assert(dirty._3 == 1L && dirty._4 == 2L && !dirty._5)
    val contaminated = got.find(_._1.contains("quick brown")).get
    assert(contaminated._5 && contaminated._4 == 0L)
    val clean = got.find(_._1.startsWith("totally")).get
    assert(!clean._5 && clean._4 == 0L &&
      clean._2 == "totally clean and benchmark free sentence here")

    // batch parity: the same rows through the batch ops, row for row
    val batchIn = rows.distinct.toDF("text")
    val batchPii = PiiOps.detect(batchIn, "text")
      .withColumn("clean_text",
        org.apache.spark.sql.functions.expr(
          PiiOps.sql.redacted("text", duck = false)))
      .withColumn("is_contaminated",
        DecontamOps.ngramFlagRow("text", hashes, 5))
      .select("text", "clean_text", "n_card_luhn", "pii_total",
        "is_contaminated")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet
    assert(got.toSet == batchPii, "stream and batch gate must agree")
  }

  test("upload-dir foreachBatch re-analysis matches the batch pipeline e2e") {
    val demo = "/root/reference/DEMO_LOGS/2025-09-28_13-59-59.csv"
    assume(new java.io.File(demo).exists())

    val uploads = java.nio.file.Files.createTempDirectory("graft_uploads_")
    val results = scala.collection.mutable.ArrayBuffer
      .empty[Array[org.apache.spark.sql.Row]]
    val (w, m, s) = graft.vesc.VescPipeline.bundled(spark)
    val q = StreamingPipeline.uploadAnalysis(spark, uploads.toString,
      logs => graft.vesc.VescPipeline.analyzeLogs(logs, w, m, s)) {
      (timeline, _) => results.synchronized { results += timeline.collect() }
    }

    // the "upload": drop the demo log into the watched directory
    java.nio.file.Files.copy(java.nio.file.Paths.get(demo),
      uploads.resolve("2025-09-28_13-59-59.csv"))
    q.processAllAvailable()
    q.stop()

    val streamed = results.synchronized { results.flatten }
    val batch = graft.vesc.VescPipeline.analyze(spark, Seq(demo)).collect()
    assert(streamed.nonEmpty, "stream produced no scored timeline")
    assert(streamed.length == batch.length,
      s"stream=${streamed.length} batch=${batch.length}")
    // identical scored, suppressed, downsampled timelines (exact rows)
    assert(streamed.map(_.toString).sorted.toSeq ==
      batch.map(_.toString).sorted.toSeq)
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

  test("sft ingest stream: assembleChat + pack per drop matches batch exactly") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("sft_drops_")
    // two conversation drops (whole conversations per file, the upload
    // contract): 3 convs of 3 turns, one conv over the token budget
    def turn(c: Long, t: Long, role: String, txt: String): String =
      s"""{"conv_id":$c,"turn_idx":$t,"role":"$role","text":"$txt"}"""
    val drop = Seq(
      turn(0, 0, "system", "be helpful"),
      turn(0, 1, "user", "what is spark"),
      turn(0, 2, "assistant", "a distributed engine"),
      turn(1, 0, "user", "count to three"),
      turn(1, 1, "assistant", "one two three"),
      turn(2, 0, "user", ("very " * 30).trim), // over budget → drops whole
      turn(2, 1, "assistant", "too long anyway"))
    java.nio.file.Files.write(dir.resolve("drop0.jsonl"),
      drop.mkString("\n").getBytes("UTF-8"))

    val results = scala.collection.mutable.ArrayBuffer
      .empty[Array[org.apache.spark.sql.Row]]
    val q = StreamingPipeline.sftIngest(spark, dir.toString,
      maxTokens = 30, packBudget = 16, shards = 4) { (rows, _) =>
      results.synchronized { results += rows.collect() }
    }
    q.processAllAvailable()
    q.stop()

    val streamed = results.synchronized { results.flatten }
    // the batch pipeline over the same file, operator for operator
    val batch = {
      val turns = spark.read.schema(
        "conv_id long, turn_idx long, role string, text string")
        .json(dir.toString)
      val chats = graft.ops.SftOps.assembleChat(turns,
        "conv_id", "turn_idx", "role", "text", maxTokens = 30)
      val convs = chats.select(col("conv_id"), col("conv_tokens")).distinct()
      val packed = graft.ops.PackingOps.packTokenStream(convs,
        "conv_id", "conv_tokens", budget = 16, shards = 4)
        .select(col("conv_id"), col("pack_id"), col("pack_offset"))
      chats.join(packed, "conv_id").collect()
    }
    assert(streamed.nonEmpty, "stream produced no assembled turns")
    assert(streamed.map(_.toString).sorted.toSeq ==
      batch.map(_.toString).sorted.toSeq)
    // the over-budget conversation dropped whole on both sides
    assert(!streamed.exists(_.getLong(0) == 2L))
  }

  test("frontier stream: outlinks discovered once across segments, canonical variants collapse") {
    import spark.implicits._
    import graft.ops.WebOps
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("frontier_in_")
    def page(id: Long, links: Seq[String]): (Long, String) =
      id -> links.map(l => s"""<a href="$l">x</a>""").mkString(
        "<html><body>", "\n", "</body></html>")
    // segment 0: two pages; /b is linked twice (once as a tracking variant)
    val seg0 = Seq(
      page(0L, Seq("/a", "https://h.example.com/b?utm_source=x")),
      page(1L, Seq("/b", "/c#frag")))
    // segment 1: an already-seen link plus one genuinely new
    val seg1 = Seq(page(2L, Seq("/a", "/new")))
    def blobOf(pages: Seq[(Long, String)]): Array[Byte] = {
      val df = pages.toDF("doc_id", "html")
      val recs = df.select(col("doc_id"), WebOps.buildRecord(col("doc_id"),
        lit("https://h.example.com/p"), col("html")).as("rec"))
      WebOps.buildCrawlFiles(recs, col("doc_id"), col("rec"), perFile = 10)
        .head.getAs[Array[Byte]]("blob")
    }
    java.nio.file.Files.write(dir.resolve("seg0.warc.gz"), blobOf(seg0))
    val q = StreamingPipeline.frontierStream(spark, dir.toString)
      .writeStream.format("memory").queryName("frontier_out")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val first = spark.table("frontier_out").select(col("url")).as[String].collect().toSet
      // /b's tracking variant and plain /b collapse to ONE canonical url
      assert(first == Set("https://h.example.com/a", "https://h.example.com/b",
        "https://h.example.com/c"))
      java.nio.file.Files.write(dir.resolve("seg1.warc.gz"), blobOf(seg1))
      q.processAllAvailable()
      val all = spark.table("frontier_out").select(col("url")).as[String].collect()
      // /a arrived again in segment 1 but was already discovered — only /new is emitted
      assert(all.length == 4 && all.count(_.endsWith("/a")) == 1)
      assert(all.toSet.contains("https://h.example.com/new"))
    } finally q.stop()
  }

  test("polite frontier: robots-disallowed URLs never emit, capped domains stop, state bounded") {
    import spark.implicits._
    import graft.ops.WebOps
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("polite_in_")
    def page(id: Long, links: Seq[String]): (Long, String) =
      id -> links.map(l => s"""<a href="$l">x</a>""").mkString(
        "<html><body>", "\n", "</body></html>")
    def blobOf(pages: Seq[(Long, String)]): Array[Byte] = {
      val df = pages.toDF("doc_id", "html")
      val recs = df.select(col("doc_id"), WebOps.buildRecord(col("doc_id"),
        lit("https://h.example.com/p"), col("html")).as("rec"))
      WebOps.buildCrawlFiles(recs, col("doc_id"), col("rec"), perFile = 10)
        .head.getAs[Array[Byte]]("blob")
    }
    val robots = Seq(
      ("h.example.com", "User-agent: *\nDisallow: /secret"))
      .toDF("host", "txt")
    // segment 0: /a /p1 /p2 fill example.com's cap of 3; /secret/x is
    // robots-disallowed; one cross-domain link
    java.nio.file.Files.write(dir.resolve("seg0.warc.gz"), blobOf(Seq(
      page(0L, Seq("/a", "/secret/x", "/p1", "/p2", "https://w.other.org/q1")))))
    val q = StreamingPipeline.politeFrontierStream(spark, dir.toString,
        robots, "graftbot", perDomainCap = 3)
      .writeStream.format("memory").queryName("polite_out")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val first = spark.table("polite_out").select(col("url")).as[String]
        .collect().toSet
      assert(first == Set("https://h.example.com/a", "https://h.example.com/p1",
        "https://h.example.com/p2", "https://w.other.org/q1"), s"got $first")
      // segment 1: a disallowed URL discovered CROSS-segment must never
      // emit; /p3 is new but example.com's budget is exhausted; /a is a
      // dup; the other domain still has budget
      java.nio.file.Files.write(dir.resolve("seg1.warc.gz"), blobOf(Seq(
        page(1L, Seq("/secret/y", "/p3", "/a", "https://w.other.org/q2")))))
      q.processAllAvailable()
      val all = spark.table("polite_out").select(col("url")).as[String].collect()
      assert(all.length == 5, s"got ${all.toSeq.sorted}")
      assert(all.toSet.contains("https://w.other.org/q2"))
      assert(!all.exists(_.contains("/secret")), "disallowed URL emitted")
      assert(!all.toSet.contains("https://h.example.com/p3"),
        "capped domain kept emitting")
      assert(all.count(_.endsWith("/a")) == 1, "dedup across segments broke")
      // politeness state is per-DOMAIN (2 domains), never frontier-sized
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows <= 2, s"state rows $stateRows exceed the domain count")
    } finally q.stop()
  }

  test("crawl ingestion stream: gzip AND zstd WARC segments arrive → page text, incrementally") {
    import spark.implicits._
    import graft.ops.WebOps
    val dir = java.nio.file.Files.createTempDirectory("crawl_in_")
    val docs = (0L until 10L).map(i => (i, s"crawl body $i words"))
      .toDF("doc_id", "text")
    val recs = docs.select(col("doc_id"),
      WebOps.buildRecord(col("doc_id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("https://h.example.com/doc/"),
          col("doc_id").cast("string")),
        col("text")).as("rec"))
    val blobs = WebOps.buildCrawlFiles(recs, col("doc_id"), col("rec"), perFile = 5)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("blob")).toMap
    val zblobs = WebOps.buildCrawlFiles(recs, col("doc_id"), col("rec"),
        perFile = 5, codec = "zstd")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("blob")).toMap
    java.nio.file.Files.write(dir.resolve("seg0.warc.gz"), blobs(0L))

    val q = StreamingPipeline.crawlStream(spark, dir.toString)
      .writeStream.format("memory").queryName("crawl_out")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(spark.table("crawl_out").count() == 5)
      // a second segment lands later — as a ZSTD segment (the mixed-codec
      // dir newer crawl stores ship): decompress_any routes it through
      // the from-spec decoder inside the SAME running query
      java.nio.file.Files.write(dir.resolve("seg1.warc.zst"), zblobs(1L))
      q.processAllAvailable()
      val got = spark.table("crawl_out")
        .select(col("text")).as[String].collect().toSet
      assert(got == (0 until 10).map(i => s"crawl body $i words").toSet)
      val uris = spark.table("crawl_out")
        .select(col("target_uri")).as[String].collect().toSet
      assert(uris == (0 until 10).map(i => s"https://h.example.com/doc/$i").toSet)
    } finally q.stop()
  }

  test("format-dispatch stream: html/pdf/docx/xlsx/pptx route incrementally") {
    import spark.implicits._
    import graft.ops.WebOps
    val dir = java.nio.file.Files.createTempDirectory("fmt_in_")
    val docs = (0L until 10L).map(i => (i, s"dispatch body $i words"))
      .toDF("doc_id", "text")
    val m = col("doc_id") % 5
    val oox = "application/vnd.openxmlformats-officedocument"
    val ctype = when(m === 0, lit("text/html; charset=utf-8"))
      .when(m === 1, lit("application/pdf"))
      .when(m === 2, lit(s"$oox.wordprocessingml.document"))
      .when(m === 3, lit(s"$oox.spreadsheetml.sheet"))
      .otherwise(lit(s"$oox.presentationml.presentation"))
    val body = when(m === 0,
        org.apache.spark.sql.functions.concat(lit("<html><body><p>"),
          col("text"), lit("</p></body></html>")).cast("binary"))
      .when(m === 1, call_function("pdf_doc", col("text").cast("binary")))
      .when(m === 2, call_function("docx_doc", col("text").cast("binary")))
      .when(m === 3, call_function("xlsx_doc", col("text").cast("binary")))
      .otherwise(call_function("pptx_doc", col("text").cast("binary")))
    val recs = docs.select(col("doc_id"),
      WebOps.buildBinaryRecord(col("doc_id"),
        org.apache.spark.sql.functions.concat(
          lit("https://h.example.com/doc/"), col("doc_id").cast("string")),
        body, ctype).as("rec"))
    val blobs = WebOps.buildCrawlFiles(recs, col("doc_id"), col("rec"), perFile = 5)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("blob")).toMap
    java.nio.file.Files.write(dir.resolve("seg0.warc.gz"), blobs(0L))

    val q = StreamingPipeline.docFormatsStream(spark, dir.toString)
      .writeStream.format("memory").queryName("fmt_out")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(spark.table("fmt_out").count() == 5)
      java.nio.file.Files.write(dir.resolve("seg1.warc.gz"), blobs(1L))
      q.processAllAvailable()
      val rows = spark.table("fmt_out")
        .select(col("fmt"), col("doc_text")).as[(String, String)]
        .collect().toSet
      assert(rows == (0 until 10).map { i =>
        (Seq("html", "pdf", "docx", "xlsx", "pptx")(i % 5),
          s"dispatch body $i words")
      }.toSet)
    } finally q.stop()
  }

  test("streaming shard ingestion: arrow + tfrecord across micro-batches, batch parity") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("shard_in_")
    def res(path: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(path)
      assert(in != null, s"missing $path")
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close()
      out.toByteArray
    }
    val arrow = res("/arrow_fixtures/stream_basic.arrow")
    val torn = res("/arrow_fixtures/torn.arrow")
    val tfrec = res("/tfrecord_fixtures/three_examples.tfrecord")
    java.nio.file.Files.write(dir.resolve("shard0.arrow"), arrow)

    val q = StreamingPipeline.shardStream(spark, dir.toString)
      .writeStream.format("memory").queryName("shard_out")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(spark.table("shard_out").count() == 1)
      // micro-batch 2: a TFRecord shard and a torn (quarantined) arrow one
      java.nio.file.Files.write(dir.resolve("shard1.tfrecord"), tfrec)
      java.nio.file.Files.write(dir.resolve("shard2.arrow"), torn)
      q.processAllAvailable()
      val streamed = spark.table("shard_out")
        .select(col("src"), col("fmt"), col("n_rows"))
        .as[(String, String, Long)].collect().toSet
      assert(streamed == Set(
        ("shard0.arrow", "arrow", 6L),
        ("shard1.tfrecord", "tfrecord", 3L),
        ("shard2.arrow", "arrow", -1L))) // torn: quarantined, counted
      // row-for-row batch parity through the same projection
      val batch = StreamingPipeline.shardProject(
        spark.read.format("binaryFile").load(dir.toString))
        .as[(String, String, Long)].collect().toSet
      assert(batch == streamed)
    } finally q.stop()
  }

  test("streaming iceberg ingest: one snapshot per batch, time-travelable, batch parity") {
    implicit val s = spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("iceberg_ing_")
      .toString
    val input = MemoryStream[(Long, String)]
    val next = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingPipeline.icebergIngest(
      input.toDS().toDF("id", "v").as[(Long, String)], dir, next,
      statsCols = Seq("id")).start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData() // an empty batch must NOT burn a snapshot
      q.processAllAvailable()
      input.addData((30L, "c"))
      q.processAllAvailable()
      assert(next.get() == 2)
      // snapshot 0 = batch 1; snapshot 1 = batches 1+2 (append history)
      assert(graft.ops.IcebergOps.readIcebergSnapshot(spark, dir, 0)
        .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      assert(graft.ops.IcebergOps.readIcebergSnapshot(spark, dir, 1)
        .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 30L))
      // the manifest chain carries both data directories at snapshot 1
      assert(graft.ops.IcebergOps.icebergFiles(spark, dir, 1).toSet ==
        Set("data/snap-0", "data/snap-1"))
      // streamed snapshots stamp the SAME footer-derived bounds as the
      // batch writer: value-range pruning works mid-ingestion
      assert(graft.ops.IcebergOps.boundsPrunedFiles(dir, 1, "id", 20L, 40L)
        == Seq("data/snap-1"))
      assert(graft.ops.IcebergOps
        .readIcebergBoundsPruned(spark, dir, 1, "id", 0L, 10L)
        .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming SCD2 backfill: foreachBatch increments equal the batch fold") {
    implicit val s = spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingPipeline.ChangeRow

    val base = Seq((1L, "a"), (2L, "b"), (5L, "e")).toDF("id", "v")
    val init = graft.ops.SnapshotOps.scd2History(base,
      Seq.empty[(Long, Long, String, String)].toDF("id", "seq", "op", "v"),
      "id", "seq", "op")
    val state = new java.util.concurrent.atomic.AtomicReference(init)
    val input = MemoryStream[ChangeRow]
    val q = StreamingPipeline.scd2Ingest(input.toDS(), state).start()
    try {
      // batch 1: chain on id 1, delete id 2, insert id 3
      input.addData(ChangeRow(1L, 1L, "upsert", "a1"),
        ChangeRow(1L, 2L, "upsert", "a2"),
        ChangeRow(2L, 3L, "delete", "b"),
        ChangeRow(3L, 1L, "upsert", "c1"))
      q.processAllAvailable()
      // batch 2: id 2 REOPENS after its batch-1 delete, id 1 chains on
      input.addData(ChangeRow(2L, 5L, "upsert", "b2"),
        ChangeRow(1L, 6L, "upsert", "a6"))
      q.processAllAvailable()

      val streamed = state.get()
        .orderBy("id", "valid_from").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
        .toSeq
      // the batch fold over the concatenated log
      val fullLog = Seq(
        (1L, 1L, "upsert", "a1"), (1L, 2L, "upsert", "a2"),
        (2L, 3L, "delete", "b"), (3L, 1L, "upsert", "c1"),
        (2L, 5L, "upsert", "b2"), (1L, 6L, "upsert", "a6"))
        .toDF("id", "seq", "op", "v")
      val batch = graft.ops.SnapshotOps
        .scd2History(base, fullLog, "id", "seq", "op")
        .orderBy("id", "valid_from").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
        .toSeq
      assert(streamed == batch, s"\nstream: $streamed\nbatch:  $batch")
      // the untouched id 5 stays current from seq 0
      assert(streamed.contains((5L, "e", 0L, -1L, true)))

      // cross-batch disorder refuses loudly: a seq at or below id 1's
      // latest interval must raise, not interleave
      input.addData(ChangeRow(1L, 6L, "upsert", "stale"))
      val e = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
          msgs(x.getCause))
      assert(msgs(e).exists(_.contains("is not after")), e.toString)
    } finally q.stop()
  }

  test("streaming CDC apply: latest-wins heads, batch parity, idempotence") {
    implicit val s = spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingPipeline.{ChangeRow, CdcOut}

    val input = MemoryStream[ChangeRow]
    val q = StreamingPipeline.cdcApplyStream(input.toDS())
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      // batch 1: two keys
      input.addData(ChangeRow(1L, 1L, "upsert", "a1"),
        ChangeRow(2L, 1L, "upsert", "b1"))
      q.processAllAvailable()
      // batch 2: key 1 upgraded, key 2 deleted, key 3 born; an OUT-OF-
      // ORDER lower-seq row for key 1 arrives too and must be absorbed
      input.addData(ChangeRow(1L, 3L, "upsert", "a3"),
        ChangeRow(1L, 2L, "upsert", "a2"),
        ChangeRow(2L, 2L, "delete", "b1"),
        ChangeRow(3L, 1L, "upsert", "c1"))
      q.processAllAvailable()
      // batch 3: pure replay of batch 2 — idempotent, emits NOTHING
      input.addData(ChangeRow(1L, 3L, "upsert", "a3"),
        ChangeRow(2L, 2L, "delete", "b1"))
      q.processAllAvailable()

      val emitted = spark.table("cdc_out").as[CdcOut].collect().toSeq
      // heads = last emission per id
      val heads = emitted.groupBy(_.id).map { case (k, v) =>
        k -> v.maxBy(_.seq)
      }
      assert(heads(1L).payload == "a3" && heads(1L).op == "upsert")
      assert(heads(2L).op == "delete")
      assert(heads(3L).payload == "c1")
      // key 1 emitted exactly twice (a1, a3) — the out-of-order a2 and
      // the batch-3 replays were absorbed
      assert(emitted.count(_.id == 1L) == 2)
      assert(emitted.size == 5)

      // BATCH PARITY: compacting the live heads like a consumer would
      // equals SnapshotOps.applyChangelog on the same log over an
      // empty base
      val log = Seq(
        (1L, 1L, "upsert", "a1"), (2L, 1L, "upsert", "b1"),
        (1L, 3L, "upsert", "a3"), (1L, 2L, "upsert", "a2"),
        (2L, 2L, "delete", "b1"), (3L, 1L, "upsert", "c1"))
        .toDF("id", "seq", "op", "v")
      val base = Seq.empty[(Long, String)].toDF("id", "v")
      val batch = graft.ops.SnapshotOps
        .applyChangelog(base, log, "id", "seq", "op")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val streamAlive = heads.collect {
        case (k, v) if v.op == "upsert" => k -> v.payload
      }
      assert(streamAlive == batch)
    } finally q.stop()
  }
}
