package graft.functions

/** Morton (Z-order) interleave — the multi-dimensional clustering key
  * behind lakehouse data skipping (Delta/Iceberg `OPTIMIZE ZORDER BY`):
  * rows laid out in z-value order put records that are close in BOTH
  * dimensions into the same parquet row groups, so a two-sided range
  * predicate prunes min/max stats quadratically better than a
  * single-column sort.
  *
  * `zorder2(a, b)` interleaves two NON-NEGATIVE sub-2³¹ longs bit by
  * bit (a takes the even bits, b the odd bits) into one non-negative
  * long. Out-of-range input fails loudly — a silently wrapped z-value
  * would scramble the layout, the worst possible failure mode for a
  * clustering key.
  *
  * Scale shape: a pure scalar expression (whole-stage codegen via the
  * magic-mask spread, no allocation) — the layout job is
  * `repartitionByRange(N, zorder2(...)).sortWithinPartitions(...)`,
  * one range shuffle, exactly the cost of any global sort.
  */
object ZOrderExprs {

  /** Spread the low 31 bits of v to the even bit positions (standard
    * magic-mask dilation, cf. the public "Bit Twiddling Hacks"
    * interleave).
    */
  def spread(v: Long): Long = {
    var x = v & 0x7fffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** `zorder2(a: long, b: long) → long` — see [[ZOrderExprs]].
    *
    * Invoked from both interpreted eval and generated code. */
  def z2(a: Long, b: Long): Long = {
    if (a < 0L || a > 0x7fffffffL || b < 0L || b > 0x7fffffffL)
      throw new IllegalArgumentException(
        s"zorder2: inputs must be in [0, 2^31), got ($a, $b)")
    spread(a) | (spread(b) << 1)
  }
}
