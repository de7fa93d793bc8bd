package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for large joins.
  *
  * AQE's skew-join splitting handles most runtime skew; salting is the
  * plan-level tool for the pathological case — one join key carrying a
  * large fraction of a 100 TB fact table — where even a split partition
  * can't parallelize a single key. Salting shards each key across
  * `saltFactor` reducers at the cost of replicating the (small-ish) build
  * side `saltFactor` times.
  */
object SkewOps {

  /** Salted inner equi-join on `key`: the probe side gets a random-free,
    * deterministic salt (hash of all probe columns mod factor), the build
    * side is replicated once per salt value. Result equals the plain join.
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: Seq[String],
                 saltFactor: Int): DataFrame = {
    val salted = probe.withColumn("__salt",
      pmod(hash(probe.columns.map(col): _*), lit(saltFactor)))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, key :+ "__salt").drop("__salt")
  }
}
