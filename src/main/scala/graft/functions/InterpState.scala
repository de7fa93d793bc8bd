package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, CreateNamedStruct, Expression, If, IsNull, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Fused interpolation state: one window aggregate that carries, for EVERY
  * value column at once, the last non-null value seen so far and the tick it
  * was seen at (SURVEY §4.1 `interp_linear` fusion).
  *
  * `interp_state(tick, v1, …, vN)` over a running
  * (unbounded-preceding → current-row) frame returns
  * `struct(v0, t0, …, v{N-1}, t{N-1})` where `vi` is
  * `last(v_i, ignoreNulls)` and `ti` is `last(tick when v_i non-null,
  * ignoreNulls)` — exactly the four-per-column formulation of linear
  * interpolation (reference: training_preprocessing.py:151-159), but as ONE
  * window function per sort direction instead of 2N. On the reference's
  * ~45-channel VESC frame that is 2 window expressions instead of 180:
  * same two WindowExec sorts, but one shared state buffer and one generated
  * update projection, so plan size, codegen time, and per-row overhead stop
  * scaling with column count.
  *
  * Declarative (no imperative buffer): the update projection is
  * `if (isnull(v_i)) keep else (v_i, tick)` per pair — codegen'd by
  * WindowExec's AggregateProcessor, evaluation order per row identical to
  * the separate `last()` calls, so results are bit-identical (asserted by
  * InterpStateSpec against the unfused formulation).
  *
  * SQL name `interp_state`, installed on every session by the
  * [[graft.GraftExtensions]] catalog.
  */
case class InterpState(tick: Expression, values: Seq[Expression])
    extends DeclarativeAggregate {

  override def children: Seq[Expression] = tick +: values
  override def prettyName: String = "interp_state"
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (values.nonEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("interp_state needs at least one value column")

  override def dataType: DataType = StructType(
    values.indices.flatMap(i => Seq(
      StructField(s"v$i", values(i).dataType, nullable = true),
      StructField(s"t$i", tick.dataType, nullable = true))))

  private lazy val pv = values.indices.map(i =>
    AttributeReference(s"pv$i", values(i).dataType, nullable = true)())
  private lazy val pt = values.indices.map(i =>
    AttributeReference(s"pt$i", tick.dataType, nullable = true)())

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    values.indices.flatMap(i => Seq(pv(i), pt(i)))

  override lazy val initialValues: Seq[Expression] =
    values.indices.flatMap(i => Seq(
      Literal.create(null, values(i).dataType),
      Literal.create(null, tick.dataType)))

  override lazy val updateExpressions: Seq[Expression] =
    values.indices.flatMap(i => Seq(
      If(IsNull(values(i)), pv(i), values(i)),
      If(IsNull(values(i)), pt(i), tick)))

  /** Right-biased like Spark's own `Last`: a partial that saw no non-null
    * value (pv null) defers to the left partial. (WindowExec never merges;
    * this keeps the aggregate usable in plain groupBy too.)
    */
  override lazy val mergeExpressions: Seq[Expression] =
    values.indices.flatMap(i => Seq(
      If(IsNull(pv(i).right), pv(i).left, pv(i).right),
      If(IsNull(pv(i).right), pt(i).left, pt(i).right)))

  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(values.indices.flatMap(i => Seq(
      Literal(s"v$i"), pv(i), Literal(s"t$i"), pt(i))).toList)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): InterpState =
    copy(tick = newChildren.head, values = newChildren.tail)
}
