package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: apply a learned BPE merge table to one word,
  * returning the merged subword symbols joined by single spaces.
  *
  * Why this is not a codegen'd `replace` chain (the shape of the oracle's
  * [[graft.ops.TextOps.bpeTokensSql]]): the chain's expression DEPTH equals
  * the merge count —
  * fine at the 24-rule demo table, but a real tokenizer vocabulary
  * (32k merges) would blow past JIT/codegen method limits into interpreted
  * mode, or fail to compile outright. Here the table is plan-time DATA, not
  * plan-time STRUCTURE: one expression node holds the rank map (attached to
  * generated code via `addReferenceObj` — the moral equivalent of a
  * broadcast: every executor holds one shared table, the plan holds one
  * node regardless of vocabulary size), and the merge loop runs at RUNTIME.
  *
  * Algorithm: repeatedly find the lowest-rank adjacent symbol pair present
  * in the word and merge every non-overlapping occurrence left-to-right
  * (the standard tokenizer apply loop, O(len²) rank-map lookups per word —
  * len is word length, so ~tens). For a WELL-FORMED table (each side of a
  * pair is a single char or the product of an earlier merge — which every
  * LEARNED table is by construction) this is provably equivalent to the
  * replace chain's rank-order single pass: merging rank r can only create
  * pairs whose table rank exceeds r (well-formedness lists a pair only
  * after both components exist), so min-rank-first visits ranks in the
  * same increasing order. The ScalaTest property check and the DuckDB
  * oracle (which replays the replace chain) both pin the equivalence.
  */
case class BpeApply(child: Expression, merges: Seq[(String, String)],
                    byteLevel: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bpe_apply needs a string word, got ${child.dataType}")

  @transient private lazy val table = BpeApply.buildTable(merges)

  override def nullSafeEval(input: Any): Any =
    BpeApply.encode(input.asInstanceOf[UTF8String], table, byteLevel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("bpeTable", table,
      classOf[java.util.HashMap[String, Integer]].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeApply.encode($c, $tableRef, $byteLevel);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApply =
    copy(child = newChild)
}

object BpeApply {

  /** Register `<name>(word)` with the table baked in, for use via
    * `call_function` (works inside higher-order-function lambdas, where a
    * raw `expr("...")` string could not reference the lambda variable).
    */
  def register(spark: org.apache.spark.sql.SparkSession,
               merges: Seq[(String, String)],
               name: String = "graft_bpe_apply",
               byteLevel: Boolean = false): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => BpeApply(exprs.head, merges, byteLevel), "built-in")

  /** Rank map keyed by `"a\u0000b"` (NUL can't occur inside `[a-z0-9]+`
    * symbols, so the key is unambiguous without a tuple allocation per
    * lookup).
    */
  def buildTable(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.putIfAbsent(a + "\u0000" + b, Int.box(i))
    }
    m
  }

  private val Hex = "0123456789ABCDEF"

  /** Invoked from both interpreted eval and generated code. `byteLevel`
    * starts from the word's UTF-8 bytes as two-char uppercase hex
    * symbols (the [[graft.ops.TextOps.trainBpeMergesBytes]] alphabet)
    * instead of its characters; the merge loop is identical.
    */
  def encode(word: UTF8String, table: java.util.HashMap[String, Integer],
             byteLevel: Boolean): UTF8String = {
    var syms: Array[String] = null
    if (byteLevel) {
      val bytes = word.getBytes
      syms = new Array[String](bytes.length)
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i) & 0xff
        syms(i) = new String(Array(Hex.charAt(b >> 4), Hex.charAt(b & 0xf)))
        i += 1
      }
    } else {
      val s = word.toString
      syms = new Array[String](s.length)
      var i = 0
      while (i < s.length) { syms(i) = String.valueOf(s.charAt(i)); i += 1 }
    }
    var n = syms.length
    var done = n <= 1
    while (!done) {
      // lowest-rank adjacent pair present in the current symbol sequence
      var bestRank = Int.MaxValue
      var j = 0
      while (j < n - 1) {
        val r = table.get(syms(j) + "\u0000" + syms(j + 1))
        if (r != null && r < bestRank) bestRank = r
        j += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        // merge every non-overlapping occurrence left-to-right (same
        // semantics as one `replace` pass over the spaced encoding)
        val out = new Array[String](n)
        var w = 0
        var k = 0
        while (k < n) {
          if (k + 1 < n && {
                val r = table.get(syms(k) + "\u0000" + syms(k + 1)); r != null && r == bestRank
              }) {
            out(w) = syms(k) + syms(k + 1); w += 1; k += 2
          } else {
            out(w) = syms(k); w += 1; k += 1
          }
        }
        syms = out
        n = w
        if (n <= 1) done = true
      }
    }
    val sb = new java.lang.StringBuilder
    var t = 0
    while (t < n) {
      if (t > 0) sb.append(' ')
      sb.append(syms(t))
      t += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
