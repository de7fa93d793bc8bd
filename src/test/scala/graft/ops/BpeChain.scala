package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The BPE merge chain as a Spark `Column`: the Spark twin of
  * [[TextOps.bpeTokensSql]] and the oracle the specs hold the native
  * [[graft.functions.BpeApply]] expression to.
  *
  * Merges apply to one word in rank order, each replacing every current
  * non-overlapping occurrence left-to-right (subword-nmt `apply_bpe`). The
  * word becomes `"  s1  s2  ...  "` (symbols joined by TWO spaces,
  * double-space guards at both ends), and merge (a,b)→ab is
  * `replace(s, " a  b ", " ab ")`: each pattern consumes one of the two
  * boundary spaces on each side and the replacement restores it, so
  * consecutive matches stay matchable ("a b a b" → "ab ab" in one pass)
  * while `replace`'s resume-after-replacement scan gives exactly the
  * left-to-right non-overlap BPE needs ("a a a" → "aa a"). The chain's
  * depth is the merge count, which is why the engine applies tables with
  * the runtime-looping expression instead.
  */
object BpeChain {

  /** BPE token array of one word: merge, trim the guards, split on the
    * double separator.
    */
  def bpeTokens(word: Column,
                merges: Seq[(String, String)] = TextOps.DefaultBpeMerges): Column = {
    val init = concat(lit("  "), regexp_replace(word, "(.)", "$1  "))
    val spaced = merges.foldLeft(init) { case (acc, (a, b)) =>
      replace(acc, lit(s" $a  $b "), lit(s" $a$b "))
    }
    split(trim(spaced), "  ")
  }
}
