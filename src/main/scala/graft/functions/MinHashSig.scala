package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: per-row MinHash signature of a token
  * array — `numHashes` lexicographic mins of salted md5 digests over the
  * row's distinct `shingleN`-token shingles. Null when the row has no
  * shingles (fewer than `shingleN` tokens), mirroring the aggregate
  * formulation emitting no row.
  *
  * Why an Expression and not the higher-order-function formulation
  * (`transform`/`array_min`/`array_distinct`): Spark's HOFs are
  * CodegenFallback — the whole signature evaluated INTERPRETED, and the
  * shingle array is re-built once per hash (measured 15.6 s at sf0.1 vs
  * 1.7 s for the whole aggregate-form LSH query). Here shingles
  * materialize once per row, each distinct shingle is digested
  * `numHashes` times with running byte-wise mins, and codegen emits one
  * static call — the same pattern as [[SimHash64]]. Emits lowercase-hex
  * strings byte-identical to SQL `md5()`, so the DuckDB replay and the
  * aggregate form compare equal.
  */
case class MinHashSig(child: Expression, shingleN: Int, numHashes: Int)
    extends UnaryExpression {
  override def prettyName: String = "graft_minhash_sig"

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes() =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig needs array<string> tokens, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], shingleN, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MinHashSig.compute($c, $shingleN, $numHashes);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  private val Hex = "0123456789abcdef".toCharArray

  /** Invoked from both interpreted eval and generated code. */
  def compute(tokens: ArrayData, shingleN: Int, numHashes: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < shingleN) return null
    // materialize token strings once
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (tokens.isNullAt(i)) "" else tokens.getUTF8String(i).toString
      i += 1
    }
    val seen = new java.util.HashSet[String]()
    val mins = new Array[Array[Byte]](numHashes)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    i = 0
    while (i <= n - shingleN) {
      sb.setLength(0)
      var j = 0
      while (j < shingleN) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val sh = sb.toString
      if (seen.add(sh)) {
        val shBytes = sh.getBytes("UTF-8")
        var h = 0
        while (h < numHashes) {
          md.reset()
          md.update(Integer.toString(h).getBytes("UTF-8"))
          md.update(':'.toByte)
          md.update(shBytes)
          val d = md.digest()
          if (mins(h) == null || unsignedLess(d, mins(h))) mins(h) = d
          h += 1
        }
      }
      i += 1
    }
    val out = new Array[AnyRef](numHashes)
    var h = 0
    while (h < numHashes) {
      out(h) = UTF8String.fromString(toHex(mins(h)))
      h += 1
    }
    new GenericArrayData(out)
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  private def toHex(d: Array[Byte]): String = {
    val c = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      c(i * 2) = Hex((d(i) & 0xf0) >> 4)
      c(i * 2 + 1) = Hex(d(i) & 0x0f)
      i += 1
    }
    new String(c)
  }
}
