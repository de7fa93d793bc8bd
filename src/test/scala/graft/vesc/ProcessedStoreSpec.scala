package graft.vesc

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Partition layout: ride-partitioned parquet prunes to one ride's files
  * (the "analyze one ride" path reads 1/N of the store).
  */
class ProcessedStoreSpec extends SparkSuite {

  test("write partitioned by ride_id and prune on read") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_store_")
    val dir = store.toString
    try {
      val df = Seq(
        ("ride_01", 0L, 1.0), ("ride_01", 100L, 2.0),
        ("ride_02", 0L, 3.0), ("ride_03", 0L, 4.0))
        .toDF("ride_id", "ms_today", "v")
      ProcessedStore.write(df, dir)

      // physical layout: one directory per ride
      val parts = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("ride_id=")).map(_.getName).sorted
      assert(parts.toSeq == Seq("ride_id=ride_01", "ride_id=ride_02", "ride_id=ride_03"))

      val one = ProcessedStore.readRide(spark, dir, "ride_01")
      assert(one.count() == 2)
      // the pruned plan must carry the partition filter
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("ride_01"),
        s"partition filter missing in plan:\n$plan")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(store.toFile)
  }

  test("salted join equals plain join on a skewed key") {
    import spark.implicits._
    // 10k rows all hitting one hot key + a cold key
    val probe = (1 to 10000).map(i => (if (i % 100 == 0) 2L else 1L, i.toLong))
      .toDF("k", "x")
    val build = Seq((1L, "hot"), (2L, "cold")).toDF("k", "tag")
    val plain = probe.join(build, Seq("k")).groupBy("tag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = graft.ops.SkewOps.saltedJoin(probe, build, Seq("k"), 16)
      .groupBy("tag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain && plain("hot") == 9900)
  }
}
