package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming near-dup throughput micro-bench: drives
  * [[StreamingPipeline.nearDupStream]] through generations of documents
  * whose event times advance past the retention horizon, so the band-key
  * registry exercises its full lifecycle — register, match duplicates
  * across micro-batches, expire on horizon — and the state ceiling is
  * MEASURED against the analytic bound (4 bands × distinct texts in the
  * ≤2 generations the watermark keeps live), not assumed. Every 10th
  * document repeats an earlier text so the duplicate path does real work.
  */
object NearDupBench {

  final case class Result(inputDocs: Long, bandRows: Long, seconds: Double,
                          docsPerSec: Double, maxStateRows: Long,
                          bandKeyBound: Long, horizonCycles: Int) extends StreamMeter.Row

  def run(spark: SparkSession, docsPerGen: Int = 4000, gens: Int = 4): Result = {
    implicit val s: SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    // ~40-token synthetic docs; every 10th repeats base text (i - i%10) so
    // each batch carries real duplicate hits, and the +gen salt keeps
    // generations textually disjoint (their bands must re-register, not
    // match across an expired horizon)
    def text(g: Int, i: Int): String = {
      val base = if (i % 10 == 9) i - (i % 10) else i
      (0 until 40).map(t => s"w${(base * 31 + t * 7) % 4096}_g$g").mkString(" ")
    }

    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val baseMs = 1700000000000L
    val m = StreamMeter.measure(spark, gens)(StreamingPipeline
      .nearDupStream(input.toDF().toDF("doc_id", "ts", "text"),
        "ts", "doc_id", "text", watermark = "2 seconds", retainMs = 2000L)
      .writeStream.format("noop")
      .outputMode(OutputMode.Append())
      .start()) { g =>
      val genStart = baseMs + g * 60000L
      val rows = (0 until docsPerGen).map { i =>
        ((g.toLong * docsPerGen + i),
          new java.sql.Timestamp(genStart + i), text(g, i))
      }
      input.addData(rows)
      rows.size.toLong
    }

    // distinct texts per generation = docsPerGen·0.9 (every 10th repeats);
    // the watermark keeps ≤ 2 generations of band keys live
    val bound = 2L * 4L * math.ceil(docsPerGen * 0.9).toLong
    Result(m.inputRows, m.outputRows, m.seconds,
      docsPerSec = m.inputRows / math.max(m.seconds, 1e-9),
      maxStateRows = m.maxStateRows,
      bandKeyBound = bound,
      horizonCycles = gens - 1)
  }
}
