package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-pruned semi join: build a bloom filter over the (filtered) build
  * side's keys, broadcast the sketch, drop probe rows that cannot match
  * BEFORE the join shuffle, then run the exact semi join on the survivors.
  *
  * Why this exists when AQE can inject runtime filters: the injection is a
  * cost-based *maybe* (thresholds on selectivity estimates, creation-side
  * size caps), while a pipeline author often KNOWS the build side is tiny
  * relative to the probe (urgent orders vs all lineitems; yesterday's
  * dirty-doc ids vs the full corpus). This operator makes the pruning
  * deterministic and explicit. False positives only cost wasted shuffle
  * rows — the trailing semi join keeps the result exact; false negatives
  * cannot occur.
  *
  * Scale shape: build side aggregates to ONE sketch row (map-side partial
  * merge), broadcast to every probe task; the probe filter is scan-side,
  * so at 100 TB the shuffle carries only rows whose key plausibly exists
  * — for a 1%-selective build side that is a ~100× shuffle reduction.
  */
object BloomJoin {

  /** `big` rows whose `bigKey` appears in `small.smallKey` (exact), with
    * the bloom pre-filter applied before the shuffle. `expectedItems`
    * sizes the sketch (~8 bits/item at the default).
    */
  def bloomPrunedSemiJoin(big: DataFrame, bigKey: Column,
                          small: DataFrame, smallKey: Column,
                          expectedItems: Long = 1000000L): DataFrame = {
    // `might_contain` requires its sketch input to be a CONSTANT or scalar
    // subquery (BloomFilterMightContain's type check), so the one-row
    // aggregate is materialized eagerly and embedded as a binary literal —
    // the same driver-scalar pattern as the normalizer stats; the sketch is
    // ~1 byte/item and ships to executors with the task closure.
    val sketch = small.agg(call_function("bloom_agg",
        xxhash64(smallKey), lit(expectedItems), lit(8L * expectedItems)).as("__bloom"))
      .head().getAs[Array[Byte]](0)
    big.where(call_function("might_contain", lit(sketch), xxhash64(bigKey)))
      .join(small.select(smallKey.as("__bk")).distinct(),
        bigKey === col("__bk"), "left_semi")
  }
}
