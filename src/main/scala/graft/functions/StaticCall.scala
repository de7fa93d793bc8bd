package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.DataType

/** One catalog row: the SQL function `name` is the static method `call`
  * (`Object.method` of an object in this package) over arguments of the
  * types `in`, returning `out`. Arguments must have exactly those types
  * (nullability and struct field names aside): no implicit cast is added.
  * A null argument gives a null result; `orNull` says the method may also
  * return null for non-null arguments (a refusal), which makes the result
  * nullable.
  *
  * `out` is evaluated on first use, so building the catalog loads no
  * decoder object.
  */
final class StaticFn(val name: String, val call: String, val in: Seq[DataType],
    out0: => DataType, val orNull: Boolean) {
  lazy val out: DataType = out0
  def build(args: Seq[Expression]): Expression = StaticCall(this, args)
}

object StaticFn {
  def apply(name: String, call: String, in: Seq[DataType], out: => DataType,
      orNull: Boolean): StaticFn = new StaticFn(name, call, in, out, orNull)
}

/** The expression behind every [[StaticFn]]: analysis checks its argument
  * types and names its column `name(args)`; the optimizer replaces it with
  * Spark's `StaticInvoke`, whose interpreted and generated paths call the
  * same method, propagate nulls and unbox a boxed primitive result.
  */
case class StaticCall(fn: StaticFn, children: Seq[Expression]) extends RuntimeReplaceable {

  override lazy val replacement: Expression = {
    val dot = fn.call.lastIndexOf('.')
    StaticInvoke(Class.forName("graft.functions." + fn.call.take(dot)), fn.out,
      fn.call.drop(dot + 1), children, returnNullable = fn.orNull)
  }

  override def prettyName: String = fn.name

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    if (got.length == fn.in.length && fn.in.zip(got).forall { case (want, g) =>
        DataType.equalsStructurally(want, g, ignoreNullability = true) }) TypeCheckSuccess
    else TypeCheckFailure(s"${fn.name} needs (${fn.in.map(_.simpleString).mkString(", ")}), " +
      s"got (${got.map(_.simpleString).mkString(", ")})")
  }

  override protected def stringArgs: Iterator[Any] = children.iterator

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): StaticCall = copy(children = newChildren)
}
