package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming throughput micro-bench: drives the watermark-aware stateful
  * resampler ([[StreamingPipeline.resampleStreamExpiring]]) through several
  * generations of rides whose event times advance past the watermark, so
  * the run exercises the full state lifecycle — create, carry across
  * micro-batches, expire on ride close — and the state-size ceiling is
  * MEASURED, not assumed: `maxStateRows` must stay at the active-ride
  * bound (≈ one generation + the not-yet-expired previous one), never the
  * total ride count. Deterministic input (fixed epoch base, fixed
  * cadence), memory-source → noop sink, throughput = input rows / wall
  * seconds over `processAllAvailable` barriers ([[StreamMeter]]).
  */
object StreamBench {

  final case class Result(inputRows: Long, outputRows: Long, seconds: Double,
                          rowsPerSec: Double, maxStateRows: Long,
                          activeRideBound: Long, watermarkCycles: Int) extends StreamMeter.Row

  def run(spark: SparkSession, ridesPerGen: Int = 80, samplesPerRide: Int = 800,
          gens: Int = 4): Result = {
    implicit val s: SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[StreamingPipeline.TimedSample]
    val base = 1700000000000L // fixed epoch ms — deterministic event time
    val stepMs = 300L         // 300 ms cadence → ~3 grid rows per sample pair
    val m = StreamMeter.measure(spark, gens)(StreamingPipeline
      .resampleStreamExpiring(input.toDS(), watermark = "2 seconds",
        closeAfterMs = 2000L)
      .writeStream.format("noop")
      .outputMode(OutputMode.Append())
      .start()) { g =>
      // generation g: its own ride keys, event time 60 s past generation
      // g-1 — the first sample of gen g pushes the watermark far beyond
      // gen g-1's last sample + closeAfter, expiring all of its state
      val genStart = base + g * 60000L
      val rows = for {
        r <- 0 until ridesPerGen
        i <- 0 until samplesPerRide
      } yield StreamingPipeline.TimedSample(
        s"g${g}_r$r", new java.sql.Timestamp(genStart + i * stepMs),
        (i % 17).toDouble)
      input.addData(rows)
      rows.size.toLong
    }

    Result(m.inputRows, m.outputRows, m.seconds,
      rowsPerSec = m.inputRows / math.max(m.seconds, 1e-9),
      maxStateRows = m.maxStateRows,
      activeRideBound = 2L * ridesPerGen,
      watermarkCycles = gens - 1)
  }
}
