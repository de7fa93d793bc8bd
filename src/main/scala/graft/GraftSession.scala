package graft

import org.apache.spark.sql.SparkSession

/** The only session factory: every main, the test suites and the
  * perfbench harness build their session here, so the engine that is
  * verified, tested and benchmarked is one engine — the same AQE and skew
  * join settings and the same [[GraftExtensions]] function catalog.
  *
  * Local mode is the test harness; the settings are chosen so the same code
  * paths (AQE, partial aggregation, broadcast joins) are exercised the way a
  * multi-executor cluster would run them. On a real cluster only
  * `master`/memory settings change. Callers add only their own
  * non-engine settings (the tests' warehouse dir, for example).
  */
object GraftSession {
  def builder(appName: String = "graft", cpus: String = "32"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      // the native function catalog resolves in SQL on every session of
      // this context
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the generated-class LRU is shared by every query of the JVM. One
      // cold VescPipeline.analyze compiles 5 classes (measured on a
      // 60-second ride after `bundled`; 11 with the CSV scan and sort it
      // replaced, and the window-function plan before those compiled
      // ~113, more than Spark's default of 100, so each repeat upload
      // recompiled them); the other queries of a session fill the same
      // cache. A static conf: it must be set before the session's first
      // query.
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = builder(appName, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
