package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One ride's generated log and the facts its outputs must agree with. */
final case class Ride(path: String, name: String, rawRows: Long, gridRows: Long,
                      voidedRows: Long, windows: Long, timelineRows: Long)

/** A set of rides; the measured set also carries a Label Studio export. */
final case class Group(rides: Seq[Ride], annotations: Option[String], ranges: Option[Long])

/** Everything a workload needs: the session, its inputs and the recorder. */
final case class Ctx(spark: SparkSession, rec: Recorder, inputs: Group, probe: Group,
                     seconds: Double, trace: Boolean, work: Path, cores: Int) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** Harness entry point, started by `perfbench/run.py`:
  *
  *   perfbench.Main --workload W --manifest M --seconds S --trace 0|1
  *                  --work DIR --out FILE --cores N
  *
  * Writes the run's samples and per-layer values to FILE as JSON.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val rec = new Recorder
    val cores = o("cores").toInt
    val work = Paths.get(o("work")).toAbsolutePath
    implicit val formats: Formats = DefaultFormats
    val manifest = JsonMethods.parse(Files.readString(Paths.get(o("manifest")))).camelizeKeys
    def group(g: String) = (manifest \ "groups" \ g).extract[Group]

    val spark = graft.GraftSession.builder("perfbench", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // from JVM start: class loading before the session counts as set-up
    rec.sample("setup.session_s", ManagementFactory.getRuntimeMXBean.getUptime / 1e3)

    val ctx = Ctx(spark, rec, group("rides"), group("probe"),
      o("seconds").toDouble, o("trace") == "1", work, cores)
    try Workloads(o("workload"))(ctx)
    catch { case t: Throwable => rec.error("workload", t) }
    rec.write(Paths.get(o("out")))
    // Nothing is left to flush: skip Spark's shutdown hooks, which take
    // seconds and would only delete the work directory the caller removes.
    Runtime.getRuntime.halt(0)
  }
}

object Timing {
  def since(t0: Long): Double = (System.nanoTime - t0) / 1e9

  /** Times `body` and logs the step to stderr (the run's harness.log). */
  def step[T](name: String)(body: => T): T = {
    val (v, s) = time(body)
    System.err.println(f"perfbench: $name%s took $s%.3f s")
    v
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime
    val v = body
    (v, since(t0))
  }
}
