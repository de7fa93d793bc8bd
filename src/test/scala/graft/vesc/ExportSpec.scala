package graft.vesc

import graft.SparkSuite

/** Plot-export contract tests: the Plotly bar-figure JSON against the
  * reference's build_plotly_bars semantics (app.py:247-340) and the metric
  * tables against hand-computed plot_metrics.py values.
  */
class ExportSpec extends SparkSuite {

  test("timeline bars JSON: threshold nulls, colors, mm:ss hover") {
    import spark.implicits._
    val timeline = Seq(
      // tsec, cf_accel, cf_brake
      (0.0, 0.8, 0.05),
      (65.0, 0.10, 0.95), // 0.10 is AT the threshold -> nulled (strict >)
      (130.0, 0.3, 0.2)
    ).toDF("tsec", "cf_accel", "cf_brake")

    val json = Export.timelineBarsJson(timeline)

    // one trace per behavior, reference colors
    assert(json.contains("\"name\":\"cf_accel\"") && json.contains("#2ca02c"))
    assert(json.contains("\"name\":\"cf_brake\"") && json.contains("#ff4f00"))
    // threshold: 0.05 and 0.10 nulled, 0.8/0.95/0.3/0.2 kept
    assert(json.contains("\"y\":[0.8,null,0.3]"), json)
    assert(json.contains("\"y\":[null,0.95,0.2]"), json)
    // hover strings: 3-decimal value + m:ss (65 s -> 1:05, 130 s -> 2:10)
    assert(json.contains("cf_accel: 0.800 at 0:00"), json)
    assert(json.contains("cf_brake: 0.950 at 1:05"), json)
    assert(json.contains("cf_accel: 0.300 at 2:10"), json)
    // layout constants from the reference figure
    assert(json.contains("\"barmode\":\"overlay\""))
    assert(json.contains("\"range\":[0.0,1.0]"))
    assert(json.contains("\"width\":0.45")) // 0.9 * display_dt(0.5)
  }

  test("stack barmode and class selection (app.py:331,347 parity)") {
    import spark.implicits._
    val timeline = Seq((0.0, 0.8, 0.9)).toDF("tsec", "cf_accel", "cf_brake")
    // the display toggles are applied to the exported figure when served
    val figure = Export.timelineBarsJson(timeline)

    val stacked = Serve.figureVariant(figure, stack = true, classes = None)
    assert(stacked.contains("\"barmode\":\"stack\""))
    assert(stacked.contains("cf_accel") && stacked.contains("cf_brake"))

    val filtered = Serve.figureVariant(figure, stack = false,
      classes = Some(Set("cf_brake")))
    assert(!filtered.contains("\"name\":\"cf_accel\""))
    assert(filtered.contains("\"name\":\"cf_brake\""))
    assert(filtered.contains("\"barmode\":\"overlay\""))
    // unknown names select nothing rather than erroring (UI contract)
    assert(Serve.figureVariant(figure, stack = false, classes = Some(Set("cf_nope")))
      .contains("\"data\":[]"))
  }

  test("a behavior name with a control character still yields valid figure JSON") {
    import spark.implicits._
    val name = "cf_odd\u0001name"
    val timeline = Seq((0.0, 0.8)).toDF("tsec", name)
    val json = Export.timelineBarsJson(timeline)
    val fig = org.json4s.jackson.JsonMethods.parse(json)
    val trace = (fig \ "data")(0)
    assert((trace \ "name") == org.json4s.JString(name))
    assert((trace \ "hovertext")(0) == org.json4s.JString(s"$name: 0.800 at 0:00"))
  }

  test("unknown behaviors fall back to the default color") {
    import spark.implicits._
    val timeline = Seq((0.0, 0.9)).toDF("tsec", "cf_mystery")
    assert(Export.timelineBarsJson(timeline).contains("#AAAAAA"))
  }

  test("per-class masked MAE sorts worst-first and masks null targets") {
    import spark.implicits._
    val df = Seq(
      // cf_a target, cf_b target, preds
      (Some(1.0), Some(0.0), 0.6, 0.1),
      (None, Some(1.0), 0.9, 0.7), // cf_a target null -> masked for cf_a
      (Some(0.0), None, 0.2, 0.5)
    ).toDF("cf_a", "cf_b", "pred_cf_a", "pred_cf_b")
    val mae = Export.maeTable(df).collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getLong(2)))
    // cf_a: |0.6-1| , |0.2-0| over 2 rows = 0.3 ; cf_b: |0.1-0|,|0.7-1| = 0.2
    assert(mae.toList == List(("cf_a", 0.3, 2L), ("cf_b", 0.2, 2L)))
  }

  test("e2e: real analyze output renders to a parseable figure with all behaviors") {
    val demo = "/root/reference/DEMO_LOGS/2025-09-28_13-59-59.csv"
    assume(new java.io.File(demo).exists())
    val timeline = VescPipeline.analyze(spark, Seq(demo))
    val json = Export.timelineBarsJson(timeline)
    // 13 bar traces (one per behavior column), plotly layout contract
    assert("\"type\":\"bar\"".r.findAllIn(json).size == 13, "one trace per behavior")
    assert(json.contains("\"barmode\":\"overlay\""))
    // at least one behavior crosses the display threshold on the demo ride
    assert(json.contains("hovertext"))
    assert("at \\d+:\\d\\d".r.findFirstIn(json).isDefined, "m:ss hover present")
  }

  test("reliability bins pool classes and bin on the prediction decile") {
    import spark.implicits._
    val df = Seq(
      (Some(1.0), 0.95), // bin 9
      (Some(0.0), 0.97), // bin 9
      (Some(1.0), 0.12), // bin 1
      (None, 0.99)       // masked
    ).toDF("cf_a", "pred_cf_a")
    val bins = Export.reliabilityTable(df).collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(bins.toList == List(
      (1L, 0.12, 1.0, 1L),
      (9L, 0.96, 0.5, 2L)))
  }
}
