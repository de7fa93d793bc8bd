package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding arithmetic: dot product, L2
  * norm, cosine similarity (float/double arrays → double) and an exact
  * integer dot product (int/long arrays → long) for quantized vectors.
  *
  * Why Expressions and not the `zip_with`+`aggregate` formulation
  * (EmbeddingOps.dotHof): Spark evaluates higher-order-function lambdas
  * interpreted, one boxed function call per element. These compile to a
  * single static call over `ArrayData` inside WholeStageCodegen — a tight
  * primitive loop per row, the shape an ANN scan over a 100 TB corpus
  * needs. Summation order is the same sequential left fold as the HOF
  * form, so results are bit-identical (VectorExprsSpec asserts this).
  *
  * Null semantics mirror the HOF form: null array → null (nullSafeEval);
  * length mismatch or any null element → null (zip_with pads with null and
  * `acc + null` poisons the fold).
  *
  * SQL names `vec_dot`, `vec_norm_l2`, `cosine_sim` and `vec_dot_int`,
  * installed on every session by the [[graft.GraftExtensions]] catalog.
  */
private[graft] object VectorKind {
  val Float = 0; val Double = 1; val Int = 2; val Long = 3
  def of(dt: DataType): Int = dt match {
    case ArrayType(FloatType, _)   => Float
    case ArrayType(DoubleType, _)  => Double
    case ArrayType(IntegerType, _) => Int
    case ArrayType(LongType, _)    => Long
    case _                         => -1
  }
  def floating(k: Int): Boolean = k == Float || k == Double
  def integral(k: Int): Boolean = k == Int || k == Long
}

object VectorMath {
  @inline private def get(a: ArrayData, i: Int, kind: Int): Double =
    kind match {
      case 0 => a.getFloat(i).toDouble
      case 1 => a.getDouble(i)
      case 2 => a.getInt(i).toDouble
      case _ => a.getLong(i).toDouble
    }
  @inline private def getL(a: ArrayData, i: Int, kind: Int): Long =
    if (kind == 2) a.getInt(i).toLong else a.getLong(i)

  /** Σ aᵢ·bᵢ in doubles, sequential left-to-right. */
  def dot(a: ArrayData, b: ArrayData, ka: Int, kb: Int): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += get(a, i, ka) * get(b, i, kb)
      i += 1
    }
    acc
  }

  /** √(Σ aᵢ²) in doubles. */
  def normL2(a: ArrayData, ka: Int): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = get(a, i, ka)
      acc += x * x
      i += 1
    }
    math.sqrt(acc)
  }

  /** dot(a,b) / (‖a‖·‖b‖), one pass over both arrays. Same floating
    * evaluation order as dividing the HOF dot by the two HOF norms.
    */
  def cosine(a: ArrayData, b: ArrayData, ka: Int, kb: Int): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = get(a, i, ka); val y = get(b, i, kb)
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact integer Σ aᵢ·bᵢ for quantized vectors (no FP rounding). */
  def dotInt(a: ArrayData, b: ArrayData, ka: Int, kb: Int): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += getL(a, i, ka) * getL(b, i, kb)
      i += 1
    }
    acc
  }
}

private[graft] trait VectorBinary extends BinaryExpression {
  protected def wantFloating: Boolean
  override def nullable: Boolean = true
  protected lazy val kindL: Int = VectorKind.of(left.dataType)
  protected lazy val kindR: Int = VectorKind.of(right.dataType)
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (k: Int) =>
      if (wantFloating) VectorKind.floating(k) else VectorKind.integral(k)
    if (ok(kindL) && ok(kindR)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two array<${if (wantFloating) "float|double" else "int|bigint"}> args, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  /** Static method on VectorMath this expression compiles to. */
  protected def staticCall: String
  protected def boxedType: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("vecRes")
      s"""$boxedType $r = graft.functions.VectorMath.$staticCall($a, $b, $kindL, $kindR);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
         |""".stripMargin
    })
}

/** `vec_dot(a, b)` — double dot product. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinary {
  override protected def wantFloating = true
  override def prettyName: String = "vec_dot"
  override def dataType: DataType = DoubleType
  override protected def staticCall = "dot"
  override protected def boxedType = "java.lang.Double"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], kindL, kindR)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `cosine_sim(a, b)` — cosine similarity in one pass. */
case class CosineSim(left: Expression, right: Expression) extends VectorBinary {
  override protected def wantFloating = true
  override def prettyName: String = "cosine_sim"
  override def dataType: DataType = DoubleType
  override protected def staticCall = "cosine"
  override protected def boxedType = "java.lang.Double"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], kindL, kindR)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `vec_dot_int(a, b)` — exact integer dot product for quantized vectors. */
case class DotProductInt(left: Expression, right: Expression) extends VectorBinary {
  override protected def wantFloating = false
  override def prettyName: String = "vec_dot_int"
  override def dataType: DataType = LongType
  override protected def staticCall = "dotInt"
  override protected def boxedType = "java.lang.Long"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.dotInt(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], kindL, kindR)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `vec_norm_l2(a)` — L2 norm. */
case class L2Norm(child: Expression) extends UnaryExpression {
  override def prettyName: String = "vec_norm_l2"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  private lazy val kind: Int = VectorKind.of(child.dataType)
  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorKind.floating(kind)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double>, got ${child.dataType.simpleString}")
  override def nullSafeEval(a: Any): Any =
    VectorMath.normL2(a.asInstanceOf[ArrayData], kind)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("vecRes")
      s"""java.lang.Double $r = graft.functions.VectorMath.normL2($a, $kind);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
         |""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}
