package graft.vesc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Behavior-exclusivity resolution (reference
  * apply_behavior_exclusivity_rules:
  * training_apply_behavior_annotations.py:31-99) as pure column
  * expressions — the reference is an O(rows × groups) `iterrows` loop; this
  * is fully vectorized and embarrassingly parallel.
  *
  * The reference's internal-group pass has a subtle snapshot semantics
  * (`row` is captured before mutation, writes go to the frame), whose net
  * closed form per group is:
  *   - 0 positive labels → row unchanged;
  *   - exactly 1 positive label → it keeps its value, every other label in
  *     the group (including nulls) becomes 0.0;
  *   - ≥2 positive labels → every label in the group becomes 0.0 (each
  *     positive's pass zeroes the others, including the eventual "winner" —
  *     the >-threshold argmax step is always overwritten).
  * This closed form is property-tested against a faithful reimplementation
  * of the iterative semantics in ExclusivityRulesSpec.
  */
object ExclusivityRules {

  /** Internal exclusivity: closed form above, per group. */
  def applyInternal(df: DataFrame,
                    groups: Seq[(String, Seq[String])] =
                      VescSchema.InternallyExclusiveGroups): DataFrame =
    groups.foldLeft(df) { case (acc, (_, labels)) =>
      val present = labels.filter(acc.columns.contains)
      if (present.size < 2) acc
      else {
        val nPos = present.map(c =>
          when(col(c).isNotNull && col(c) > 0, 1).otherwise(0)).reduce(_ + _)
        present.foldLeft(acc) { (a, c) =>
          val isSoleWinner = nPos === 1 && col(c).isNotNull && col(c) > 0
          a.withColumn(c + "__x",
            when(nPos === 0, col(c))
              .when(isSoleWinner, col(c))
              .otherwise(lit(0.0)))
        }.select(acc.columns.map(c =>
          if (present.contains(c)) col(c + "__x").as(c) else col(c)): _*)
      }
    }

  /** Cross-group exclusivity, pairs applied sequentially on current values
    * (reference :81-98): the losing group is zeroed; an exact positive tie
    * nulls both groups.
    */
  def applyCross(df: DataFrame,
                 pairs: Seq[(Seq[String], Seq[String])] =
                   VescSchema.CrossExclusivePairs): DataFrame =
    pairs.foldLeft(df) { case (acc, (g1, g2)) =>
      val p1 = g1.filter(acc.columns.contains)
      val p2 = g2.filter(acc.columns.contains)
      if (p1.isEmpty || p2.isEmpty) acc
      else {
        def groupMax(cols: Seq[String]): Column = cols match {
          case Seq(only) => coalesce(col(only), lit(0.0))
          case cs => coalesce(greatest(cs.map(col): _*), lit(0.0))
        }
        val m1 = groupMax(p1)
        val m2 = groupMax(p2)
        val anyPos = m1 > 0 || m2 > 0
        def resolve(c: String, losing: Column): Column =
          when(anyPos && losing, lit(0.0))
            .when(anyPos && m1 === m2, lit(null).cast(DoubleType))
            .otherwise(col(c))
        val out1 = p1.map(c => c -> resolve(c, m2 > m1))
        val out2 = p2.map(c => c -> resolve(c, m1 > m2))
        val resolved = (out1 ++ out2).toMap
        acc.select(acc.columns.map(c =>
          resolved.get(c).map(_.as(c)).getOrElse(col(c))): _*)
      }
    }

  /** Spark orders NaN above every number (`NaN > 0` is true), unlike the
    * pandas `notna` guards being mirrored — so NaN confidences (typical in
    * pandas-written parquet) are normalized to null before any rule runs.
    */
  def nanToNull(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.filter(df.columns.contains).foldLeft(df)((a, c) =>
      a.withColumn(c, when(isnan(col(c)), lit(null)).otherwise(col(c))))

  def apply(df: DataFrame): DataFrame =
    applyCross(applyInternal(nanToNull(df, VescSchema.ConfidenceCols)))
}
