package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: SimHash fingerprint of a token array.
  *
  * Semantics (bit-identical to the SQL formulation in
  * DataPipelineQueries.dedup_simhash): each distinct token hashes to 60 bits
  * via the first 15 hex chars of its md5; bit `b` of the fingerprint is set
  * iff Σ over distinct tokens of (±1 by token-hash bit `b`) is > 0.
  *
  * Why an Expression and not the 60-aggregate formulation: one projection,
  * no explode, no shuffle — the fingerprint computes inside
  * WholeStageCodegen scan-side, which is the shape that survives a 100 TB
  * corpus. Codegen emits a single static call (the same pattern Spark's own
  * hash expressions use).
  *
  * The width is fixed at 60 bits. SQL name `simhash64`, installed on every
  * session by the [[graft.GraftExtensions]] catalog.
  */
object SimHash64 {

  /** Fingerprint width: the 60 bits of a token's first 15 md5 hex chars. */
  private val Bits = 60

  /** Invoked from both interpreted eval and generated code. */
  def compute(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    val sums = new Array[Int](Bits)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        if (seen.add(t)) {
          md.reset()
          val digest = md.digest(t.getBytes)
          // first 15 hex chars = high 60 bits of the first 7.5 bytes
          var h = 0L
          var b = 0
          while (b < 7) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
          h = (h << 4) | ((digest(7) & 0xf0L) >> 4)
          var bit = 0
          while (bit < Bits) {
            if (((h >> bit) & 1L) == 1L) sums(bit) += 1 else sums(bit) -= 1
            bit += 1
          }
        }
      }
      i += 1
    }
    var fp = 0L
    var bit = 0
    while (bit < Bits) {
      if (sums(bit) > 0) fp |= (1L << bit)
      bit += 1
    }
    fp
  }
}
