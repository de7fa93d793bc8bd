package graft.vesc

import java.lang.Float.floatToRawIntBits
import java.lang.Double.doubleToRawLongBits

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSuite
import CnnScorer.{BnW, CnnWeights, ConvW}

/** The flat forward kernel ([[CnnScorer.Trunk]], `CnnScorer.conv1d`) is
  * bit-identical to the plain nested-array forward it replaced, which this
  * spec keeps as the oracle: every score, pooled feature and training-path
  * loss is compared by raw bits on seeded windows, including
  * all-zero, all −0.0, ±1e30 (overflow to ±inf inside the trunk),
  * subnormal and single-hot-channel windows and windows of several
  * lengths (edge, interior and remainder steps; buffer reallocation).
  */
class CnnKernelSpec extends SparkSuite {

  private def res(name: String) = getClass.getResource("/" + name).getPath
  private lazy val wts = CnnScorer.loadWeights(spark, res("cnn_weights.parquet"))

  // ---- oracle: the nested-array forward, (C, T) activations ----

  private def conv1d(x: Array[Array[Float]], cw: ConvW): Array[Array[Float]] = {
    val cIn = x.length
    val t = x(0).length
    val k = cw.w(0)(0).length
    val span = cw.dilation * (k - 1)
    val tOut = t + 2 * cw.padding - span
    val out = Array.ofDim[Float](cw.w.length, tOut)
    var o = 0
    while (o < cw.w.length) {
      val wo = cw.w(o)
      var ti = 0
      while (ti < tOut) {
        var acc = cw.b(o)
        var ci = 0
        while (ci < cIn) {
          val xi = x(ci)
          val wk = wo(ci)
          var kk = 0
          while (kk < k) {
            val src = ti - cw.padding + kk * cw.dilation
            if (src >= 0 && src < t) acc += wk(kk) * xi(src)
            kk += 1
          }
          ci += 1
        }
        out(o)(ti) = acc
        ti += 1
      }
      o += 1
    }
    out
  }

  private def batchNorm(x: Array[Array[Float]], bn: BnW): Array[Array[Float]] = {
    val out = Array.ofDim[Float](x.length, x(0).length)
    var c = 0
    while (c < x.length) {
      val inv = (1.0 / math.sqrt(bn.variance(c).toDouble + bn.eps.toDouble)).toFloat
      val g = bn.gamma(c); val b = bn.beta(c); val m = bn.mean(c)
      var t = 0
      while (t < x(c).length) {
        out(c)(t) = (x(c)(t) - m) * inv * g + b
        t += 1
      }
      c += 1
    }
    out
  }

  private def relu(x: Array[Array[Float]]): Array[Array[Float]] =
    x.map(_.map(v => if (v > 0f) v else 0f))

  private def addInPlace(a: Array[Array[Float]], b: Array[Array[Float]]): Array[Array[Float]] = {
    var c = 0
    while (c < a.length) {
      var t = 0
      while (t < a(c).length) { a(c)(t) += b(c)(t); t += 1 }
      c += 1
    }
    a
  }

  private def oraclePooled(window: Array[Array[Float]], w: CnnWeights): Array[Float] = {
    val x0 = Array.tabulate(window(0).length, window.length)((c, t) => window(t)(c))
    var h = relu(batchNorm(conv1d(x0, w.conv1), w.bn1))
    val blk = relu(batchNorm(conv1d(relu(conv1d(h, w.resConv1)), w.resConv2), w.resBn))
    h = relu(addInPlace(blk, h))
    h = relu(batchNorm(conv1d(h, w.conv2), w.bn2))
    h = relu(batchNorm(conv1d(h, w.conv3), w.bn3))
    h = relu(batchNorm(conv1d(h, w.conv4), w.bn4))
    h.map { ch =>
      var s = 0f; var j = 0
      while (j < ch.length) { s += ch(j); j += 1 }
      s / ch.length
    }
  }

  private def oracleLogits(pooled: Array[Float], w: CnnWeights): Array[Float] =
    w.head.w.zipWithIndex.map { case (row, o) =>
      var acc = w.head.b(o)
      var j = 0
      while (j < row.length) { acc += row(j) * pooled(j); j += 1 }
      acc
    }

  private def oracleHead(pooled: Array[Float], w: CnnWeights): Array[Float] =
    oracleLogits(pooled, w).map(z => (1.0 / (1.0 + math.exp(-z.toDouble))).toFloat)

  private def oracleForward(window: Array[Array[Float]], w: CnnWeights): Array[Float] =
    oracleHead(oraclePooled(window, w), w)

  // ---- seeded windows ----

  private val C = 24

  private def gen(t: Int, seed: Int)(cell: (scala.util.Random, Int, Int) => Float) = {
    val rng = new scala.util.Random(seed)
    Array.tabulate(t, C)((ti, c) => cell(rng, ti, c))
  }

  private lazy val windows: Seq[(String, Array[Array[Float]])] = {
    val gaussian = (0 until 1000).map(s =>
      s"gaussian/$s" -> gen(30, s)((r, _, _) => (r.nextGaussian() * 2).toFloat))
    val special = Seq(
      "zero" -> gen(30, 0)((_, _, _) => 0f),
      "negzero" -> gen(30, 0)((_, _, _) => -0f),
      "plus1e30" -> gen(30, 0)((_, _, _) => 1e30f),
      "minus1e30" -> gen(30, 0)((_, _, _) => -1e30f),
      "pm1e30" -> gen(30, 1)((r, _, _) => if (r.nextBoolean()) 1e30f else -1e30f),
      "subnormal" -> gen(30, 2)((r, _, _) =>
        java.lang.Float.MIN_VALUE * (r.nextInt(2000) - 1000)),
      "mixed-sign" -> gen(30, 3)((r, _, _) => r.nextInt(3) match {
        case 0 => -0f
        case 1 => 0f
        case _ => (r.nextGaussian() * 1e-3).toFloat
      })) ++
      (0 until C).map(hot => s"hot/$hot" ->
        gen(30, hot)((r, _, c) => if (c == hot) (r.nextGaussian() * 5).toFloat else 0f))
    val lengths = Seq(5, 6, 7, 9, 13, 29, 31, 33, 64).flatMap(t =>
      (0 until 3).map(s => s"t$t/$s" -> gen(t, 5000 + 10 * t + s)((r, _, _) =>
        (r.nextGaussian() * 2).toFloat)))
    gaussian ++ special ++ lengths
  }

  private def assertBits(what: String, got: Array[Float], want: Array[Float]): Unit = {
    assert(got.length == want.length, s"$what: length ${got.length} vs ${want.length}")
    got.indices.foreach { i =>
      assert(floatToRawIntBits(got(i)) == floatToRawIntBits(want(i)),
        s"$what[$i]: ${got(i)} vs ${want(i)}")
    }
  }

  test("forward, trunkPooled and the cached training forward match the oracle bit-for-bit") {
    assert(windows.size >= 1000)
    windows.foreach { case (name, win) =>
      val pooled = oraclePooled(win, wts)
      val scores = oracleHead(pooled, wts)
      assertBits(s"$name forward", CnnScorer.forward(win, wts), scores)
      assertBits(s"$name trunkPooled", CnnScorer.trunkPooled(win, wts), pooled)
      // the training forward, seen through its masked-BCE loss: the oracle
      // logits' loss, bit for bit (class 0 unlabeled)
      val y = Array.tabulate(scores.length)(k => if (k == 0) Double.NaN else (k % 3) / 2.0)
      val (loss, labeled, _) = TrunkGrad.bceDz(oracleLogits(pooled, wts).map(_.toDouble), y)
      val (gotLoss, gotLabeled) = TrunkGrad.rowLoss(win, y, wts)
      assert(doubleToRawLongBits(gotLoss) == doubleToRawLongBits(loss) && gotLabeled == labeled,
        s"$name rowLoss: $gotLoss vs $loss")
    }
  }

  test("one Trunk reused across windows of changing length matches the oracle") {
    val trunk = new CnnScorer.Trunk(wts)
    windows.reverse.foreach { case (name, win) =>
      assertBits(s"$name reused", trunk.run(win).clone(), oraclePooled(win, wts))
    }
  }

  test("each conv layer matches the oracle conv on its own") {
    val rng = new scala.util.Random(11)
    // beside the model's layers: an odd channel count (the last channel
    // pairs with itself) and filters that are not 3 taps wide
    def synthetic(cOut: Int, cIn: Int, k: Int, dilation: Int, padding: Int) =
      ConvW(Array.fill(cOut, cIn, k)(rng.nextGaussian().toFloat),
        Array.fill(cOut)(rng.nextGaussian().toFloat), dilation, padding)
    Seq(wts.conv1, wts.resConv1, wts.resConv2, wts.conv2, wts.conv3, wts.conv4,
      synthetic(3, 5, 3, 1, 1), synthetic(4, 3, 5, 2, 3), synthetic(2, 2, 1, 1, 0)
    ).foreach { cw =>
      Seq(4, 5, 8, 30).foreach { t =>
        val x = Array.fill(cw.cIn, t)((rng.nextGaussian() * 3).toFloat)
        val got = CnnScorer.conv1d(x, cw)
        val want = conv1d(x, cw)
        assert(got.length == want.length)
        got.indices.foreach(o => assertBits(s"conv k=${cw.k} d=${cw.dilation} t=$t o=$o",
          got(o), want(o)))
      }
    }
  }

  test("score reuses one Trunk per partition and matches the oracle") {
    val mean = Array.tabulate(C)(c => 0.1 * c)
    val std = Array.tabulate(C)(c => 1.0 + 0.05 * c)
    val wins = windows.take(40).map(_._2)
    val schema = StructType(Seq(
      StructField("ride_id", StringType), StructField("window_start", LongType),
      StructField("t_mid", DoubleType),
      StructField("features", ArrayType(ArrayType(DoubleType)))))
    val rows = wins.zipWithIndex.map { case (w, i) =>
      Row("r", i.toLong, i.toDouble, w.map(_.map(_.toDouble).toSeq).toSeq)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val got = CnnScorer.score(df, wts, mean, std).collect().sortBy(_.getLong(1))
    assert(got.length == wins.size)
    got.foreach { r =>
      val cells = wins(r.getLong(1).toInt).map(_.map(v => v.toDouble: Any).toSeq).toSeq
      val want = oracleForward(
        CnnScorer.normalizedWindow(cells, mean.map(_.toFloat), std.map(_.toFloat)), wts)
      assertBits(s"score ${r.getLong(1)}", Array.tabulate(want.length)(i => r.getFloat(3 + i)),
        want)
    }
  }
}
