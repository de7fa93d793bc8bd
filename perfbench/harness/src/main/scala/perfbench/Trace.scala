package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters, read from Spark's public listener interfaces only. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    executorRunMs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    queries: Long = 0, analysisMs: Long = 0, planningMs: Long = 0,
    planNodes: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    executorRunMs - o.executorRunMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    queries - o.queries, analysisMs - o.analysisMs, planningMs - o.planningMs,
    planNodes - o.planNodes)
}

/** One streaming micro-batch that read input. */
final case class Batch(id: Long, startEpochMs: Long, durationMs: Map[String, Long])

private object PlanSize extends AdaptiveSparkPlanHelper {
  def apply(p: SparkPlan): Long = collectWithSubqueries(p) { case n => n }.size.toLong
}

/** Collectors for the traced run: a SparkListener (jobs, stages, task
  * metrics), a QueryExecutionListener (analysis/planning phases, plan
  * size) and a StreamingQueryListener (micro-batch phases).
  */
final class Trace(spark: SparkSession) {
  private val jobs, stages, tasks, runMs, gcMs, shuffleW, spill = new AtomicLong
  private val queries, analysisMs, planningMs, planNodes = new AtomicLong
  @volatile private var batches = Vector.empty[Batch]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      queries.incrementAndGet()
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      analysisMs.addAndGet(ms("analysis"))
      planningMs.addAndGet(ms("optimization") + ms("planning"))
      planNodes.addAndGet(PlanSize(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        batches :+= Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, d)
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = BusDrain(spark.sparkContext)

  /** Counters so far (drains the listener bus first). */
  def counters(): Counters = {
    drain()
    Counters(jobs.get, stages.get, tasks.get, runMs.get, gcMs.get, shuffleW.get,
      spill.get, queries.get, analysisMs.get, planningMs.get, planNodes.get)
  }

  def streamBatches(): Vector[Batch] = { drain(); batches }
}

/** Peak JVM heap in use over an interval, from the heap pools' peaks. */
object HeapPeak {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def mb(): Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
