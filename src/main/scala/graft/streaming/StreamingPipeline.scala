package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import graft.vesc.VescSchema

/** Structured Streaming mode (SURVEY §2.11): the batch operators re-expressed
  * over unbounded input. The reference has no streaming — each upload re-runs
  * the batch pipeline (application/app.py:354-366); here the upload directory
  * becomes a file source and the per-ride resampler becomes keyed state.
  */
object StreamingPipeline {

  /** Event-time sliding windows with watermark (reference W11 in streaming
    * form): 3 s window / 500 ms slide per ride, late data beyond the
    * watermark dropped (the batch reference simply sorts + dedups — P6/W1 —
    * i.e. ignores lateness entirely).
    */
  def slidingCounts(events: DataFrame, tsCol: String, watermark: String = "10 seconds"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col("ride_id"), window(col(tsCol), "3 seconds", "500 milliseconds"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("win_avg"))

  /** Streaming exact dedup with bounded state (beyond-reference: the
    * training-data pipeline's dedup over an unbounded stream). Content key
    * = md5 of the normalized payload; `dropDuplicatesWithinWatermark`
    * keeps one row per key and lets the engine EXPIRE keys older than the
    * watermark — without it, streaming dedup state grows forever, the
    * classic unbounded-state bug at ingest scale.
    */
  def dedupStream(docs: DataFrame, tsCol: String, contentCol: String,
                  watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("__key", md5(regexp_replace(trim(lower(col(contentCol))), "\\s+", " ")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__key")
      .drop("__key")

  // ---- stateful 10 Hz resampler ----

  final case class Sample(rideId: String, ms: Long, value: Double)
  final case class GridRow(rideId: String, ms: Long, value: Option[Double], interpolated: Boolean)

  /** Per-ride resampler state: the last emitted grid position and the last
    * real sample carried across micro-batches.
    */
  final case class ResampleState(lastRealMs: Long, lastRealValue: Double, nextGridMs: Long)

  /** Emit 100 ms grid rows between consecutive real samples as they arrive;
    * gaps > maxGapMs yield null rows (the batch pipeline's voiding,
    * expressed incrementally). Buffering is O(1) per ride — the streaming
    * replacement for the batch pipeline's unbounded-both-directions
    * interpolation is forward-only interpolation between the retained last
    * sample and each newly arrived one, which is exact for in-order data
    * and bounded-state by construction.
    */
  def resampleFlatMap(stepMs: Long = VescSchema.StepMs,
                      maxGapMs: Double = VescSchema.MaxGapMs)(
      rideId: String, samples: Iterator[Sample],
      state: GroupState[ResampleState]): Iterator[GridRow] = {
    val sorted = samples.toSeq.sortBy(s => (s.ms))
    if (sorted.isEmpty) return Iterator.empty
    val out = scala.collection.mutable.ArrayBuffer[GridRow]()
    var st = state.getOption.getOrElse {
      val first = sorted.head
      out += GridRow(rideId, first.ms, Some(first.value), interpolated = false)
      ResampleState(first.ms, first.value, first.ms + stepMs)
    }
    val rest = if (state.exists) sorted else sorted.tail
    for (s <- rest; if s.ms > st.lastRealMs) {
      val span = s.ms - st.lastRealMs
      var g = st.nextGridMs
      while (g < s.ms) {
        val v =
          if (span > maxGapMs) None
          else Some(st.lastRealValue +
            (s.value - st.lastRealValue) * ((g - st.lastRealMs).toDouble / span))
        out += GridRow(rideId, g, v, interpolated = true)
        g += stepMs
      }
      if (g == s.ms) {
        out += GridRow(rideId, g, Some(s.value), interpolated = false)
        g += stepMs
      }
      st = ResampleState(s.ms, s.value, g)
    }
    state.update(st)
    out.iterator
  }

  /** Wire the stateful resampler over a stream of samples. */
  def resampleStream(samples: org.apache.spark.sql.Dataset[Sample])
                    (implicit spark: SparkSession): org.apache.spark.sql.Dataset[GridRow] = {
    import spark.implicits._
    samples
      .groupByKey(_.rideId)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        resampleFlatMap())
  }

  /** A sample with a real event-time column, so a watermark can be defined
    * on the stream (the ms-Long [[Sample]] variant has no event-time clock
    * for Spark to track).
    */
  final case class TimedSample(rideId: String, ts: java.sql.Timestamp, value: Double)

  /** Watermark-aware resampler: same forward-only grid as
    * [[resampleFlatMap]], plus the two late-data semantics the unbounded
    * variant leaves implicit:
    *
    *  - '''ignore-late''': samples at or behind the current watermark are
    *    dropped before touching state. The batch reference never revisits
    *    already-emitted rows (it sorts once and processes in order,
    *    training_preprocessing.py sort+dedup), so a late sample must not
    *    splice new grid rows into a region the stream already emitted —
    *    dropping it is the only append-mode-consistent behavior. The guard
    *    is explicit (`getCurrentWatermarkMs`) so the semantics do not
    *    depend on which Spark versions pre-filter late rows ahead of
    *    flatMapGroupsWithState.
    *  - '''ride-close expiry''': when the watermark passes the ride's last
    *    sample by `closeAfterMs`, the per-ride state is REMOVED. State
    *    stays bounded by the number of ACTIVE rides, not all rides ever
    *    seen — the difference between O(concurrent uploads) and O(history)
    *    state at ingest scale — and a sample arriving after close starts a
    *    fresh grid instead of bridging a multi-hour voided gap across the
    *    closure (the batch pipeline equally treats separate files as
    *    separate rides, RawLogReader ride-id inference).
    */
  def resampleExpiringFlatMap(stepMs: Long = VescSchema.StepMs,
                              maxGapMs: Double = VescSchema.MaxGapMs,
                              closeAfterMs: Long = 10000L)(
      rideId: String, rows: Iterator[TimedSample],
      state: GroupState[ResampleState]): Iterator[GridRow] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val wm = state.getCurrentWatermarkMs()
    val live = rows.collect {
      case t if t.ts.getTime > wm => Sample(t.rideId, t.ts.getTime, t.value)
    }
    val out = resampleFlatMap(stepMs, maxGapMs)(rideId, live, state)
    if (state.exists)
      // must stay ahead of the watermark or Spark rejects the timestamp
      state.setTimeoutTimestamp(math.max(wm + 1, state.get.lastRealMs + closeAfterMs))
    out
  }

  /** Wire the expiring resampler over an event-timed stream. `watermark`
    * bounds how late a sample may arrive and still be processed;
    * `closeAfterMs` is the event-time silence after which a ride is closed
    * and its state dropped.
    */
  def resampleStreamExpiring(samples: org.apache.spark.sql.Dataset[TimedSample],
                             watermark: String = "10 seconds",
                             closeAfterMs: Long = 10000L)
                            (implicit spark: SparkSession): org.apache.spark.sql.Dataset[GridRow] = {
    import spark.implicits._
    samples
      .withWatermark("ts", watermark)
      .groupByKey(_.rideId)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        resampleExpiringFlatMap(closeAfterMs = closeAfterMs))
  }

  /** Streaming corpus ingest: the training-data hygiene pipeline in
    * Structured Streaming form — watermark-bounded exact dedup, PII scrub,
    * and per-row quality/language signals, all of which are pure
    * codegen'd expressions and therefore stream with zero extra state
    * beyond the dedup keys. (The multi-aggregation repetition stats stay a
    * batch op — streaming append mode allows one stateful aggregation per
    * query; run them on the sink table.)
    */
  def corpusIngest(docs: DataFrame, tsCol: String, textCol: String,
                   watermark: String = "10 minutes"): DataFrame = {
    import graft.ops.TextOps
    dedupStream(docs, tsCol, textCol, watermark)
      .withColumn("clean_text", TextOps.scrubPii(col(textCol)))
      .withColumn("n_tokens", size(TextOps.tokens(col("clean_text"))).cast("long"))
  }

  /** Streaming RELEASE GATE — [[corpusIngest]] upgraded to the full
    * curation contract: watermark-bounded exact dedup, then the
    * checksum-validating PII layer ([[graft.ops.PiiOps]] — Luhn cards,
    * mod-97 IBANs, octet-checked IPs, full typed redaction) and the
    * benchmark-decontamination flag against a driver-collected capped
    * n-gram set ([[graft.ops.DecontamOps.ngramFlagRow]]). Everything
    * after the dedup is a scan-side projection, so the query keeps
    * exactly ONE stateful operator — the append-mode limit — and the
    * output matches the batch ops row for row (StreamingSpec pins it).
    */
  def releaseGate(docs: DataFrame, tsCol: String, textCol: String,
                  benchHashes: Seq[String], decontamN: Int,
                  watermark: String = "10 minutes"): DataFrame = {
    import graft.ops.{DecontamOps, PiiOps}
    val deduped = dedupStream(docs, tsCol, textCol, watermark)
    PiiOps.detect(deduped, textCol)
      .withColumn("clean_text",
        expr(PiiOps.sql.redacted(textCol, duck = false)))
      .withColumn("is_contaminated",
        DecontamOps.ngramFlagRow(textCol, benchHashes, decontamN))
  }

  // ---- streaming CDC apply (the stream side of MERGE INTO) ----

  final case class ChangeRow(id: Long, seq: Long, op: String, payload: String)
  /** Per-id resolved head: the winning (seq, op, payload). */
  final case class CdcState(seq: Long, op: String, payload: String)
  final case class CdcOut(id: Long, seq: Long, op: String, payload: String)

  private def cdcGreater(a: CdcState, b: CdcState): Boolean =
    a.seq > b.seq || (a.seq == b.seq &&
      (a.op > b.op || (a.op == b.op && a.payload > b.payload)))

  /** Streaming CDC APPLY — [[graft.ops.SnapshotOps.applyChangelog]]'s
    * stream side: keyed latest-wins resolution over an unbounded
    * changelog. State is ONE resolved head per LIVE key (the analytic
    * bound for any CDC consumer — you cannot resolve latest-wins with
    * less); a key emits only when its head CHANGES, so out-of-order
    * lower-seq arrivals are absorbed silently and replays/duplicates
    * are idempotent. The tie-break is the same lexicographic
    * (seq, op, payload) order as the batch fold, so a suffix of the
    * emitted stream compacted by max-seq equals the batch result —
    * the parity StreamingSpec asserts.
    */
  def cdcApplyFlatMap(id: Long, rows: Iterator[ChangeRow],
                      state: GroupState[CdcState]): Iterator[CdcOut] = {
    val before = state.getOption
    var best = before
    rows.foreach { r =>
      val cand = CdcState(r.seq, r.op, r.payload)
      if (best.isEmpty || cdcGreater(cand, best.get)) best = Some(cand)
    }
    if (best != before) {
      state.update(best.get)
      val b = best.get
      Iterator(CdcOut(id, b.seq, b.op, b.payload))
    } else Iterator.empty
  }

  def cdcApplyStream(changes: org.apache.spark.sql.Dataset[ChangeRow])
      : org.apache.spark.sql.Dataset[CdcOut] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        cdcApplyFlatMap)
  }

  /** Streaming SCD2 BACKFILL — [[graft.ops.SnapshotOps.scd2History]]'s
    * stream side: each micro-batch of changelog rows is folded onto
    * the running history table via
    * [[graft.ops.SnapshotOps.scd2Apply]] inside foreachBatch (history
    * is table-state, not operator-state — the warehouse pattern for
    * CDC backfill). Applying batches in arrival order is row-equal to
    * one batch scd2History over the concatenated log; StreamingSpec
    * pins that parity across micro-batches, including an id whose
    * interval closes in one batch and reopens in the next.
    *
    * `state` holds the current history; each batch swaps in the new
    * fold `localCheckpoint`ed so lineage doesn't accumulate across an
    * unbounded stream.
    */
  def scd2Ingest(changes: org.apache.spark.sql.Dataset[ChangeRow],
                 state: java.util.concurrent.atomic.AtomicReference[DataFrame])
      : org.apache.spark.sql.streaming.DataStreamWriter[ChangeRow] =
    changes.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[ChangeRow],
                       _: Long) =>
        if (!batch.isEmpty) {
          val log = batch.toDF()
            .withColumnRenamed("payload", "v")
          val next = graft.ops.SnapshotOps
            .scd2Apply(state.get(), log, "id", "seq", "op")
            .localCheckpoint(true)
          state.set(next)
        }
      }

  /** Streaming ICEBERG ingestion — the lakehouse landing pattern: each
    * non-empty micro-batch becomes ONE Iceberg snapshot (batch rows →
    * a fresh data directory → `icebergCommit` append), so every batch
    * boundary is a time-travelable, atomically-published table version
    * and a downstream batch reader sees exactly the rows of batches
    * 0..k through the metadata chain — never a half-written directory
    * ([[graft.ops.IcebergOps]] publishes version-hint last). Snapshot
    * ids are the engine's own consecutive counter, not the micro-batch
    * id (empty batches must not burn a snapshot).
    *
    * Scale shape: the commit path is O(live files) of driver-side
    * metadata per batch; the data write is the normal partitioned
    * parquet write. Restart discipline: this is the fixture-scale seam
    * (like deltaCommit); a production restart would re-derive
    * `nextSnapshot` from version-hint.
    */
  def icebergIngest[T](rows: org.apache.spark.sql.Dataset[T],
      tableDir: String,
      nextSnapshot: java.util.concurrent.atomic.AtomicLong,
      statsCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.DataStreamWriter[T] =
    rows.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[T], _: Long) =>
        if (!batch.isEmpty) {
          val sid = nextSnapshot.get()
          val rel = s"data/snap-$sid"
          batch.toDF().write.mode("overwrite")
            .parquet(new java.io.File(tableDir, rel).getAbsolutePath)
          // statsCols: each streamed snapshot stamps the same
          // footer-derived column bounds as the batch writer, so
          // value-range pruning works on a table that is STILL being
          // ingested — no compaction or re-stat pass needed
          graft.ops.IcebergOps.icebergCommit(tableDir, sid, Seq(rel),
            statsCols = statsCols)
          nextSnapshot.incrementAndGet()
          ()
        }
      }

  // ---- streaming NEAR-dup (MinHash/LSH band registry) ----

  final case class BandRow(docId: Long, ts: java.sql.Timestamp,
                           bandIdx: Int, bandKey: String)
  final case class BandHit(docId: Long, ts: java.sql.Timestamp,
                           bandIdx: Int, bandSeen: Boolean)
  /** Per-band-key state: the last event time this band was touched. */
  final case class BandState(lastSeenMs: Long)

  /** Band-registry transition: every incoming (doc, band) row reports
    * whether its band key was already registered — by a previous batch or
    * by an earlier doc of THIS batch (docs ordered by (docId, ts) within
    * the group, so within-batch semantics are deterministic and match
    * the batch family's id-ordered canonicalization). Late rows at or
    * behind the watermark are dropped before touching state (same
    * ignore-late contract as the resampler). State expires when the
    * watermark passes the band's last touch by `retainMs` — the dedup
    * HORIZON: a near-dup arriving later than the horizon re-registers
    * instead of matching, which is the explicit boundedness/recall
    * trade every streaming dedup at ingest scale must choose.
    */
  def nearDupFlatMap(retainMs: Long)(
      bandKey: String, rows: Iterator[BandRow],
      state: GroupState[BandState]): Iterator[BandHit] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val wm = state.getCurrentWatermarkMs()
    val live = rows.filter(_.ts.getTime > wm).toSeq.sortBy(r => (r.docId, r.ts.getTime))
    if (live.isEmpty) return Iterator.empty
    var seen = state.exists
    val out = live.map { r =>
      val hit = BandHit(r.docId, r.ts, r.bandIdx, seen)
      seen = true
      hit
    }
    val maxTs = math.max(live.map(_.ts.getTime).max,
      state.getOption.map(_.lastSeenMs).getOrElse(Long.MinValue))
    state.update(BandState(maxTs))
    state.setTimeoutTimestamp(math.max(wm + 1, maxTs + retainMs))
    out.iterator
  }

  /** Streaming MinHash/LSH near-dup detection — the streaming analog of
    * [[graft.ops.DedupOps.minhashCandidates]]: is each arriving document
    * a near-duplicate of ANYTHING already ingested (within the retention
    * horizon)?
    *
    * Shape: the signature is a pure scan-side expression
    * ([[graft.ops.DedupOps.minhashSignatureRow]], backed by the native
    * [[graft.functions.MinHashSig]] codegen'd expression — the earlier
    * higher-order-function formulation was rejected as a CodegenFallback
    * hot-path anti-pattern; no aggregation, so it does not consume append
    * mode's stateful-operator budget), bands explode to (doc, band) rows, and
    * the ONLY stateful op is the band-key registry above — state is one
    * row per DISTINCT band key seen within the horizon, never a function
    * of corpus size, and never the documents themselves. Emits one row
    * per (doc, band) with the band's seen-verdict; fold to per-doc
    * verdicts with [[nearDupVerdicts]] in the sink (a doc is near-dup
    * iff ANY band matched — the same any-band rule as the batch
    * candidate join).
    */
  def nearDupStream(docs: DataFrame, tsCol: String, idCol: String,
                    textCol: String, shingleN: Int = 3, numHashes: Int = 8,
                    bands: Int = 4, watermark: String = "10 minutes",
                    retainMs: Long = 600000L)
                   (implicit spark: SparkSession): org.apache.spark.sql.Dataset[BandHit] = {
    import spark.implicits._
    docs
      .select(col(idCol).cast("long").as("docId"),
        col(tsCol).cast("timestamp").as("ts"),
        explode(graft.ops.DedupOps.minhashBandsRow(
          col(textCol), shingleN, numHashes, bands)).as("band"))
      .select(col("docId"), col("ts"),
        col("band.band_idx").as("bandIdx"), col("band.band_key").as("bandKey"))
      .as[BandRow]
      .withWatermark("ts", watermark)
      .groupByKey(_.bandKey)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        nearDupFlatMap(retainMs))
  }

  /** Batch-side fold of [[nearDupStream]] output (run it in the sink /
    * foreachBatch): per-doc any-band verdict.
    */
  def nearDupVerdicts(bandHits: DataFrame): DataFrame =
    bandHits.groupBy(col("docId").as("doc_id"))
      .agg(max(col("bandSeen")).as("is_near_dup"),
        count(lit(1)).as("n_bands"))

  /** The files arriving under `glob`, one row each (`path`,
    * `modificationTime`, `length`, `content`): the `binaryFile` source with
    * its own fixed schema, since a streaming file source needs its schema
    * up front. A column that is never selected is never read.
    */
  private def binaryFiles(spark: SparkSession, glob: String): DataFrame =
    spark.readStream.format("binaryFile").schema(BinaryFileFormat.schema).load(glob)

  /** Per-upload re-analysis, end-to-end (reference app.py:354-366: every
    * upload triggers a fresh raw → resample → window → score → timeline
    * run). The upload directory is a file-source stream of `binaryFile`
    * rows (`path`, `modificationTime`, `length`, `content`); each
    * micro-batch's rows ARE `analyze`'s input (the exact batch pipeline's
    * core, [[graft.vesc.VescPipeline.analyzeLogs]]: batch/stream parity by
    * construction), and `onBatch` gets the scored timeline. The
    * micro-batch's scan is each upload's only read: no job lists the new
    * paths first and nothing reads a file twice, so an upload costs the one
    * Spark job `onBatch` runs.
    */
  def uploadAnalysis(spark: SparkSession, uploadDir: String,
                     analyze: DataFrame => DataFrame)
                    (onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    binaryFiles(spark, uploadDir + "/*.csv")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        onBatch(analyze(batch), id)
      }
      .start()

  /** Streaming SFT/packing last mile — [[uploadAnalysis]]'s posture on
    * the post-training surface: a watched directory of conversation
    * drops (JSON-lines turn rows: conv_id, turn_idx, role, text), each
    * micro-batch running the EXACT batch operators —
    * [[graft.ops.SftOps.assembleChat]] (ChatML render, exact offsets,
    * assistant-only loss masks, over-budget conversations dropped
    * whole) then [[graft.ops.PackingOps.packTokenStream]] over the
    * assembled conversations — via foreachBatch, so batch/stream parity
    * is definitional. The drop contract is the upload loop's: a file
    * carries WHOLE conversations (assembleChat's ordering-key contract;
    * a split conversation would assemble twice), and each drop packs
    * independently — incremental SFT data lands as self-contained pack
    * groups. No state survives a batch, so streaming state is bounded
    * at zero by construction.
    *
    * `onBatch` receives the per-turn rows (assembleChat's output joined
    * with the conversation's pack_id/pack_offset) and the batch id.
    */
  def sftIngest(spark: SparkSession, dir: String, maxTokens: Long,
                packBudget: Long = 512, shards: Int = 8)
               (onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField("conv_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("turn_idx",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("role",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    spark.readStream.format("json").schema(schema).load(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        val chats = graft.ops.SftOps.assembleChat(batch,
          "conv_id", "turn_idx", "role", "text", maxTokens)
        val convs = chats.select(col("conv_id"), col("conv_tokens"))
          .distinct()
        val packed = graft.ops.PackingOps.packTokenStream(convs,
          "conv_id", "conv_tokens", packBudget, shards)
          .select(col("conv_id"), col("pack_id"), col("pack_offset"))
        onBatch(chats.join(packed, "conv_id"), id)
      }
      .start()
  }

  /** Streaming crawl ingestion: the batch first mile
    * ([[graft.ops.WebOps.extractPages]] — gzip members → WARC records →
    * HTTP split → HTML text) over a file-watched directory of crawl
    * segments. Drop a `.warc.gz` in, get page-text rows in the next
    * micro-batch.
    *
    * STATELESS by construction — the whole chain is projections and one
    * explode, no aggregation, no watermark, so it runs append-mode with
    * the EXACT batch operators (batch/stream parity is definitional,
    * per-file) and state never grows with the crawl. At cluster scale
    * the same query runs against a bucket notification source; each
    * ~1 GiB segment is one task, which is the parallelism crawl dumps
    * are sized for.
    */
  def crawlStream(spark: SparkSession, dir: String): DataFrame = {
    graft.ops.WebOps.extractPages(binaryFiles(spark, dir), col("content"))
  }

  /** Streaming FORMAT-DISPATCH ingestion — [[crawlStream]] widened to
    * the multi-format first mile: as mixed segments land, each record's
    * HTTP Content-Type routes its body to the right extractor
    * (html_to_text / pdf_text / docx_text / xlsx_text / pptx_text —
    * the `web_doc_formats_e2e` dispatch, streaming). STATELESS like
    * [[crawlStream]] (projections + one explode, no watermark), so
    * append mode runs the EXACT batch operators and per-file
    * batch/stream parity is definitional; state never grows with the
    * crawl. Output: (uri, fmt, doc_text).
    */
  def docFormatsStream(spark: SparkSession, dir: String): DataFrame = {
    val recs = binaryFiles(spark, dir)
      .select(explode(call_function("warc_records",
        call_function("decompress_any", col("content")))).as("rec"))
      .select(col("rec.target_uri").as("uri"),
        call_function("http_body", col("rec.payload")).as("body"),
        call_function("http_header", col("rec.payload"), lit("Content-Type"))
          .as("ct"))
    recs
      .withColumn("fmt",
        when(col("ct").contains("text/html"), "html")
          .when(col("ct") === "application/pdf", "pdf")
          .when(col("ct").contains("spreadsheetml"), "xlsx")
          .when(col("ct").contains("presentationml"), "pptx")
          .otherwise("docx"))
      .withColumn("doc_text",
        when(col("fmt") === "html",
          call_function("html_to_text", col("body").cast("string")))
          .when(col("fmt") === "pdf", call_function("pdf_text", col("body")))
          .when(col("fmt") === "xlsx", call_function("xlsx_text", col("body")))
          .when(col("fmt") === "pptx", call_function("pptx_text", col("body")))
          .otherwise(call_function("docx_text", col("body"))))
      .select(col("uri"), col("fmt"), col("doc_text"))
  }

  /** Streaming ML-SHARD ingestion — the interchange readers
    * ([[graft.functions.ArrowIpc]], [[graft.functions.TfRecord]]) as a
    * file-watched source: as Arrow IPC / TFRecord shards land in a
    * drop directory, each is audited scan-side (row counts, torn-shard
    * quarantine) and dispatched by extension — the docFormatsStream
    * posture for training-data drops instead of crawl segments.
    * STATELESS (pure projections, no watermark), so append mode runs
    * the EXACT batch expressions and per-shard batch/stream parity is
    * definitional. A shard outside its format's subset surfaces
    * n_rows = -1 ("quarantined"), never a silent skip.
    *
    * Output: (src, fmt, n_rows) — one row per shard file.
    */
  def shardStream(spark: SparkSession, dir: String): DataFrame = {
    shardProject(binaryFiles(spark, dir))
  }

  /** The shared batch/stream projection behind [[shardStream]]. */
  def shardProject(files: DataFrame): DataFrame =
    files
      .select(element_at(split(col("path"), "/"), -1).as("src"),
        col("content"))
      .withColumn("fmt",
        when(col("src").endsWith(".arrow"), "arrow")
          .when(col("src").endsWith(".tfrecord"), "tfrecord")
          .otherwise("unknown"))
      .withColumn("n_rows",
        when(col("fmt") === "arrow",
          coalesce(call_function("arrow_audit", col("content"))
            .getField("n_rows"), lit(-1L)))
          .when(col("fmt") === "tfrecord",
            coalesce(size(call_function("tfrecord_entries",
              col("content"))).cast("long"), lit(-1L)))
          .otherwise(lit(-1L)))
      .select(col("src"), col("fmt"), col("n_rows"))

  /** Streaming FRONTIER discovery — the loop that makes a crawler: as
    * crawl segments land, every fetched page's outlinks are extracted
    * (`html_links`, [[graft.functions.HtmlLinks.extract]]), resolved against their page
    * ([[graft.ops.UrlOps.resolveUrl]]), canonicalized
    * ([[graft.ops.UrlOps.canonicalizeUrl]] — scheme/tracking/fragment
    * variants of one page must not enqueue twice), and emitted ONCE:
    * `dropDuplicatesWithinWatermark` on the canonical url keyed by the
    * segment's file time, so dedup state is bounded by the retention
    * horizon, never frontier-sized — the same bounded-state posture as
    * [[nearDupStream]].
    *
    * Output: append-mode stream of (url, first_seen) — newly discovered
    * canonical URLs, the feed a fetch scheduler consumes.
    */
  def frontierStream(spark: SparkSession, dir: String,
                     retention: String = "10 minutes"): DataFrame = {
    discoveredUrls(spark, dir)
      .withWatermark("seg_time", retention)
      .dropDuplicatesWithinWatermark("url")
      .select(col("url"), col("seg_time").as("first_seen"))
  }

  /** Shared discovery head: crawl segments → fetched pages → resolved,
    * canonicalized outlink rows (seg_time, url). The record explode is
    * inlined (rather than WebOps.extractRecords) so the segment's file
    * time survives next to each record — it is the event-time column
    * that bounds every downstream state.
    */
  private def discoveredUrls(spark: SparkSession, dir: String): DataFrame = {
    val pages = binaryFiles(spark, dir)
      .select(col("modificationTime").as("seg_time"), col("content"))
      .select(col("seg_time"), explode(
        call_function("warc_records", call_function("gunzip_all", col("content"))))
        .as("rec"))
      .filter(call_function("http_status", col("rec.payload")) === 200)
      .select(col("seg_time"), col("rec.target_uri").as("base_url"),
        call_function("http_body", col("rec.payload")).cast("string").as("html"))
    pages
      .select(col("seg_time"), col("base_url"),
        explode(call_function("html_links", col("html"))).as("href"))
      .select(col("seg_time"),
        graft.ops.UrlOps.canonicalizeUrl(
          graft.ops.UrlOps.resolveUrl(col("base_url"), col("href"))).as("url"))
  }

  /** `"10 minutes"`-style watermark interval → milliseconds (the units
    * streaming retention strings actually use).
    */
  private def intervalMs(s: String): Long = {
    val parts = s.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    require(parts.length == 2, s"unsupported interval: '$s'")
    val v = parts(0).toLong
    parts(1) match {
      case u if u.startsWith("milli")  => v
      case u if u.startsWith("second") => v * 1000L
      case u if u.startsWith("minute") => v * 60000L
      case u if u.startsWith("hour")   => v * 3600000L
      case u if u.startsWith("day")    => v * 86400000L
      case u => throw new IllegalArgumentException(s"unsupported unit: $u")
    }
  }

  final case class FrontierRow(domain: String, url: String,
                               ts: java.sql.Timestamp)
  final case class FrontierOut(url: String, domain: String,
                               ts: java.sql.Timestamp)

  /** Per-domain politeness state: URLs emitted within the horizon (the
    * rate budget) plus the recently-seen canonical URL set (the dedup
    * registry, pruned to the horizon) and the last touch time. Both
    * members are horizon-bounded — the counter is one int and the map
    * holds only URLs seen inside `retainMs`, never the frontier.
    */
  final case class DomainState(emitted: Int, seen: Map[String, Long],
                               lastSeenMs: Long)

  /** Politeness transition for one registered domain: canonical-URL
    * dedup against the horizon-bounded registry, then the per-domain
    * emission cap — a domain that exhausts its budget keeps REGISTERING
    * discoveries (so re-links inside the horizon stay deduped) but
    * stops emitting until the horizon passes and its state expires,
    * which is exactly a crawl rate limit per politeness window. Rows
    * ordered by (url, ts) within the group so within-batch semantics
    * are deterministic; late rows at or behind the watermark drop
    * before touching state.
    */
  def politeFlatMap(retainMs: Long, perDomainCap: Int)(
      domain: String, rows: Iterator[FrontierRow],
      state: GroupState[DomainState]): Iterator[FrontierOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val wm = state.getCurrentWatermarkMs()
    val live = rows.filter(_.ts.getTime > wm).toSeq
      .sortBy(r => (r.url, r.ts.getTime))
    if (live.isEmpty) return Iterator.empty
    val st = state.getOption.getOrElse(DomainState(0, Map.empty, Long.MinValue))
    var seen = st.seen.filter { case (_, t) => t > wm - retainMs }
    var emitted = st.emitted
    val out = scala.collection.mutable.ArrayBuffer.empty[FrontierOut]
    live.foreach { r =>
      val isNew = !seen.contains(r.url)
      seen += (r.url ->
        math.max(r.ts.getTime, seen.getOrElse(r.url, Long.MinValue)))
      if (isNew && emitted < perDomainCap) {
        out += FrontierOut(r.url, domain, r.ts)
        emitted += 1
      }
    }
    val maxTs = math.max(live.map(_.ts.getTime).max, st.lastSeenMs)
    state.update(DomainState(emitted, seen, maxTs))
    state.setTimeoutTimestamp(math.max(wm + 1, maxTs + retainMs))
    out.iterator
  }

  /** The COMPOSED streaming crawl loop — discover → robots-filter →
    * per-domain cap → emit — in one query, because the individually
    * gated stages are not the thing a user runs: composition bugs
    * (a disallowed URL sneaking through cross-segment, a capped domain
    * still emitting) are invisible to per-stage gates (the repo's own
    * `web_corpus_e2e` lesson).
    *
    * Shape: discovery is stateless projections; the robots gate is a
    * STREAM-STATIC join against the broadcastable per-host rule arrays
    * ([[graft.ops.WebOps.robotsRuleArrays]]) with the best-match
    * verdict computed scan-side by array HOFs (longest-match rule, tie
    * → allow — the same semantics as the batch
    * [[graft.ops.WebOps.robotsFilter]], machine-checked in
    * StreamingSpec); the ONLY stateful operator is the per-domain
    * [[politeFlatMap]], whose state is horizon-bounded (dedup registry
    * pruned to the watermark horizon, one emission counter). Append
    * mode, one stateful op — same budget discipline as every stream
    * here.
    *
    * Output: append-mode (url, domain, first_seen) — the deduped,
    * robots-allowed, rate-capped fetch feed.
    */
  def politeFrontierStream(spark: SparkSession, dir: String,
                           robots: DataFrame, agent: String,
                           perDomainCap: Int,
                           retention: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    val retainMs = intervalMs(retention)
    val ruleArrays = broadcast(
      graft.ops.WebOps.robotsRuleArrays(robots, agent))
    val gated = discoveredUrls(spark, dir)
      .withColumn("host", graft.ops.UrlOps.hostOf(col("url")))
      .withColumn("path",
        regexp_extract(col("url"), "^[a-z]+://[^/]+(/.*)$", 1))
      .join(ruleArrays, Seq("host"), "left")
      .withColumn("__best", array_max(expr(
        """filter(transform(rules, r ->
          |  struct(robots_match_len(r.rule_path, path) AS mlen,
          |         CAST(r.allow AS INT) AS allow_i)),
          |  h -> h.mlen >= 0)""".stripMargin)))
      .filter(coalesce(col("__best.allow_i") === 1, lit(true)))
      .withColumn("domain",
        graft.ops.UrlOps.registeredDomain(col("host")))
      .withWatermark("seg_time", retention)
      .select(col("domain"), col("url"), col("seg_time").as("ts"))
      .as[FrontierRow]
    gated
      .groupByKey(_.domain)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout())(
        politeFlatMap(retainMs, perDomainCap))
      .toDF()
      .select(col("url"), col("domain"), col("ts").as("first_seen"))
  }
}
