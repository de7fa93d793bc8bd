package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** The measuring loop of the stream micro-benches ([[StreamBench]],
  * [[NearDupBench]]): generations of input fed through
  * `processAllAvailable` barriers, timed as one wall span, with the state
  * ceiling and the sink's row count taken from EVERY progress event.
  */
object StreamMeter {

  /** A bench row's wall time and state ceiling, the two fields `Bench`
    * reports a median-of-runs row by.
    */
  trait Row {
    def seconds: Double
    def maxStateRows: Long
  }

  final case class Measured(inputRows: Long, outputRows: Long, seconds: Double,
                            maxStateRows: Long)

  /** Start `query`, then for each generation `g < gens` add its input
    * (`feed(g)` returns its row count) and wait for the stream to drain it.
    *
    * Every progress event flows through a listener, so the state ceiling is
    * measured over ALL micro-batches — `recentProgress` alone is a bounded
    * rolling buffer (default 100 entries) and could silently drop early
    * batches from the "measured" claim. AtomicLongs because the listener
    * runs on the event-bus thread and the calling thread reads the totals
    * after `stop()`: plain vars carry no visibility guarantee across that
    * handoff.
    */
  def measure(spark: SparkSession, gens: Int)(query: => StreamingQuery)
             (feed: Int => Long): Measured = {
    val maxState = new AtomicLong(0L)
    val outputRows = new AtomicLong(0L)
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        e.progress.stateOperators.foreach(so =>
          maxState.getAndAccumulate(so.numRowsTotal, math.max _))
        if (e.progress.sink.numOutputRows > 0)
          outputRows.addAndGet(e.progress.sink.numOutputRows)
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val q = try query catch {
      case e: Throwable => spark.streams.removeListener(listener); throw e
    }
    var inputRows = 0L
    val t0 = System.nanoTime()
    var seconds = 0.0
    try {
      (0 until gens).foreach { g =>
        inputRows += feed(g)
        q.processAllAvailable()
      }
      seconds = (System.nanoTime() - t0) / 1e9
    } finally {
      q.stop()
      // listener events are delivered asynchronously; give the bus a
      // moment, then also fold in recentProgress as a backstop
      Thread.sleep(200)
      q.recentProgress.foreach(p => p.stateOperators.foreach(so =>
        maxState.getAndAccumulate(so.numRowsTotal, math.max _)))
      spark.streams.removeListener(listener)
    }
    Measured(inputRows, outputRows.get(), seconds, maxState.get())
  }
}
