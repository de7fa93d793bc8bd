package graft.ops

import graft.SparkSuite

/** Skew handling: a salted join returns exactly the plain join's rows. */
class SkewOpsSpec extends SparkSuite {

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
