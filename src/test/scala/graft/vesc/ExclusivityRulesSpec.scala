package graft.vesc

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSuite

/** Property tests: the engine's closed-form exclusivity expressions vs a
  * faithful Scala reimplementation of the reference's iterative
  * row-snapshot semantics (training_apply_behavior_annotations.py:63-98).
  * Cases are an exhaustive small-domain sweep (None, 0, 0.03, 0.05, 0.2,
  * 0.5 — covering the >0 and >thresh boundaries) — stronger than sampled
  * generators for these arities.
  */
class ExclusivityRulesSpec extends SparkSuite {

  private val domain: Seq[Option[Double]] =
    Seq(None, Some(0.0), Some(0.03), Some(0.05), Some(0.2), Some(0.5))

  private def tuples(n: Int): Seq[Array[Option[Double]]] = {
    def go(k: Int): Seq[List[Option[Double]]] =
      if (k == 0) Seq(Nil)
      else for (rest <- go(k - 1); v <- domain) yield v :: rest
    go(n).map(_.toArray)
  }

  /** Reference semantics, internal groups: iterate labels with a snapshot
    * of the original row; step 1 zeroes non-argmax above-threshold labels;
    * step 2 (original values!) zeroes every peer of each positive label.
    */
  private def referenceInternal(vals: Array[Option[Double]], thresh: Double = 0.05):
      Array[Option[Double]] = {
    val out = vals.clone()
    val orig = vals.clone()
    // step 1
    val above = orig.zipWithIndex.collect {
      case (Some(v), i) if v > thresh => (i, v) }
    if (above.length > 1) {
      val win = above.maxBy(_._2)._1 // first max in order (maxBy keeps first)
      for (i <- out.indices if i != win) out(i) = Some(0.0)
    }
    // step 2 — reads ORIGINAL values, writes current
    for ((ov, i) <- orig.zipWithIndex) {
      if (ov.exists(_ > 0)) {
        for (j <- out.indices if j != i) out(j) = Some(0.0)
      }
    }
    out
  }

  /** Reference semantics, one cross pair on current values. */
  private def referenceCross(g1: Array[Option[Double]], g2: Array[Option[Double]]):
      (Array[Option[Double]], Array[Option[Double]]) = {
    val m1 = g1.flatten.filterNot(_.isNaN) match {
      case a if a.isEmpty => 0.0; case a => a.max }
    val m2 = g2.flatten.filterNot(_.isNaN) match {
      case a if a.isEmpty => 0.0; case a => a.max }
    if (m1 > 0 || m2 > 0) {
      if (m1 > m2) (g1, g2.map(_ => Some(0.0)))
      else if (m2 > m1) (g1.map(_ => Some(0.0)), g2)
      else (g1.map(_ => None), g2.map(_ => None))
    } else (g1, g2)
  }

  private def runCases(cols: Seq[String], cases: Seq[Array[Option[Double]]],
                       transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame):
      Seq[Array[Option[Double]]] = {
    val sch = StructType(StructField("case_id", IntegerType, nullable = false) +:
      cols.map(StructField(_, DoubleType, nullable = true)))
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
    cases.zipWithIndex.foreach { case (arr, i) =>
      rows.add(Row.fromSeq(Int.box(i) +: arr.map(_.map(Double.box).orNull).toSeq))
    }
    val out = transform(spark.createDataFrame(rows, sch))
      .orderBy("case_id").collect()
    out.map { r =>
      cols.indices.map { i =>
        if (r.isNullAt(i + 1)) Option.empty[Double] else Some(r.getDouble(i + 1))
      }.toArray
    }.toSeq
  }

  test("internal closed form == reference iterative semantics (2-label group)") {
    val cases = tuples(2)
    val got = runCases(Seq("cf_forward", "cf_reverse"), cases,
      df => ExclusivityRules.applyInternal(df,
        Seq("direction" -> Seq("cf_forward", "cf_reverse"))))
    cases.zip(got).foreach { case (in, g) =>
      val expected = referenceInternal(in)
      assert(g.toSeq == expected.toSeq, s"input=${in.toList}")
    }
  }

  test("internal closed form == reference for a 3-label group") {
    val cases = tuples(3)
    val got = runCases(Seq("cf_accel", "cf_brake", "cf_cruise"), cases,
      df => ExclusivityRules.applyInternal(df,
        Seq("speed" -> Seq("cf_accel", "cf_brake", "cf_cruise"))))
    cases.zip(got).foreach { case (in, g) =>
      val expected = referenceInternal(in)
      assert(g.toSeq == expected.toSeq, s"input=${in.toList}")
    }
  }

  test("cross pair == reference semantics") {
    val cases = tuples(4)
    val cols = Seq("cf_turn_left", "cf_carve_left", "cf_turn_right", "cf_carve_right")
    val got = runCases(cols, cases,
      df => ExclusivityRules.applyCross(df,
        Seq((Seq("cf_turn_left", "cf_carve_left"),
          Seq("cf_turn_right", "cf_carve_right")))))
    cases.zip(got).foreach { case (in, g) =>
      val (e1, e2) = referenceCross(in.take(2), in.drop(2))
      assert(g.toSeq == (e1 ++ e2).toSeq, s"input=${in.toList}")
    }
  }

  test("display suppression keeps first-index argmax (np.argmax tie-break)") {
    val sch = StructType(Seq("cf_accel", "cf_brake")
      .map(StructField(_, DoubleType, nullable = false)))
    val rows = java.util.Arrays.asList(
      Row(Double.box(0.4), Double.box(0.4)),   // tie → first wins
      Row(Double.box(0.2), Double.box(0.7)),
      Row(Double.box(0.9), Double.box(0.1)))
    val df = spark.createDataFrame(rows, sch)
    val got = DeclarativeOracle.suppressConflicts(df, Seq(Seq("cf_accel", "cf_brake")))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(got == Set((0.4, 0.0), (0.0, 0.7), (0.9, 0.0)))
    // the production suppression, on the same rows
    val cf = IndexedSeq(Array(0.4, 0.2, 0.9), Array(0.4, 0.7, 0.1))
      .map(v => new RidePass.Col(v, new Array[Boolean](3)))
    RidePass.suppress(cf, Seq(Array(0, 1)))
    assert((0 until 3).map(i => (cf(0).v(i), cf(1).v(i))).toSet ==
      Set((0.4, 0.0), (0.0, 0.7), (0.9, 0.0)))
  }
}
