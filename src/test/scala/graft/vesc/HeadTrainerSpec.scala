package graft.vesc

import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Parity of the distributed training loop (M6/M7) against a sequential
  * in-test replica of the reference semantics (model_training.py:109-180):
  * identical batching, masked-BCE gradients, Adam updates, early stopping.
  * Single-partition datasets keep floating-point summation order identical,
  * so the comparison is bit-exact, not approximate.
  */
class HeadTrainerSpec extends SparkSuite {

  private val D = 6
  private val K = 3

  // deterministic synthetic rows: id, features, targets (NaN = unlabeled)
  private def mkRows(n: Int, off: Int): Seq[(Long, Array[Double], Array[Double])] =
    (0 until n).map { i =>
      val x = Array.tabulate(D)(j => (((i + off) * 7 + j * 3) % 11 - 5) / 5.0)
      val y = Array.tabulate(K) { k =>
        if ((i + off + k) % 5 == 0) Double.NaN else ((i + off + k) % 4) / 3.0
      }
      ((i + off).toLong, x, y)
    }

  private def toDf(rows: Seq[(Long, Array[Double], Array[Double])]) = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("feat", ArrayType(DoubleType)),
      StructField("y", ArrayType(DoubleType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2.toSeq, r._3.toSeq)), 1),
      schema)
  }

  private val initW = Array.tabulate(K, D)((k, j) => ((k * D + j) % 7 - 3) / 10.0)
  private val initB = Array.fill(K)(0.0)

  /** Sequential replica with the exact reference arithmetic. */
  private def localTrain(train: Seq[(Long, Array[Double], Array[Double])],
                         valid: Seq[(Long, Array[Double], Array[Double])],
                         cfg: HeadTrainer.TrainConfig)
      : (Array[Array[Double]], Array[Double], Double, Int, Seq[(Double, Double, Boolean)], Boolean) = {
    val w = initW.map(_.clone()); val b = initB.clone()
    val mW = Array.ofDim[Double](K, D); val vW = Array.ofDim[Double](K, D)
    val mB = Array.ofDim[Double](K); val vB = Array.ofDim[Double](K)
    var t = 0

    def pass(rows: Seq[(Long, Array[Double], Array[Double])])
        : (Array[Double], Array[Double], Double, Long) = {
      val gw = Array.ofDim[Double](K * D); val gb = Array.ofDim[Double](K)
      var loss = 0.0; var labeled = 0L
      rows.foreach { case (_, x, y) =>
        var k = 0
        while (k < K) {
          val yk = y(k)
          if (!yk.isNaN) {
            var z = b(k); var j = 0
            while (j < D) { z += w(k)(j) * x(j); j += 1 }
            val g = 1.0 / (1.0 + math.exp(-z)) - yk
            loss += math.max(z, 0.0) - z * yk + math.log1p(math.exp(-math.abs(z)))
            gb(k) += g
            j = 0
            while (j < D) { gw(k * D + j) += g * x(j); j += 1 }
            labeled += 1L
          }
          k += 1
        }
      }
      (gw, gb, loss, labeled)
    }

    var bestVal = Double.PositiveInfinity; var bestEpoch = -1
    var bestW = w.map(_.clone()); var bestB = b.clone()
    var bad = 0; var stopped = false
    val log = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Boolean)]
    var epoch = 0
    while (epoch < cfg.epochs && !stopped) {
      var num = 0.0; var den = 0.0
      var bi = 0
      while (bi < cfg.batches) {
        val batch = train.filter(r => SpecHooks.batchIdLocal(r._1, epoch, cfg.batches) == bi)
        val (gw, gb, loss, labeled) = pass(batch)
        val n = math.max(labeled.toDouble, 1.0)
        t += 1
        val c1 = 1.0 - math.pow(cfg.beta1, t)
        val c2 = 1.0 - math.pow(cfg.beta2, t)
        var k = 0
        while (k < K) {
          var j = 0
          while (j < D) {
            val grad = gw(k * D + j) / n
            mW(k)(j) = cfg.beta1 * mW(k)(j) + (1 - cfg.beta1) * grad
            vW(k)(j) = cfg.beta2 * vW(k)(j) + (1 - cfg.beta2) * grad * grad
            w(k)(j) -= cfg.lr * (mW(k)(j) / c1) / (math.sqrt(vW(k)(j) / c2) + cfg.adamEps)
            j += 1
          }
          val gradB = gb(k) / n
          mB(k) = cfg.beta1 * mB(k) + (1 - cfg.beta1) * gradB
          vB(k) = cfg.beta2 * vB(k) + (1 - cfg.beta2) * gradB * gradB
          b(k) -= cfg.lr * (mB(k) / c1) / (math.sqrt(vB(k) / c2) + cfg.adamEps)
          k += 1
        }
        num += loss; den += labeled.toDouble
        bi += 1
      }
      val trainLoss = num / math.max(den, 1.0)
      val (_, _, vl, vn) = pass(valid)
      val valLoss = vl / math.max(vn.toDouble, 1.0)
      val improved = valLoss + cfg.minDelta < bestVal
      if (improved) {
        bestVal = valLoss; bestEpoch = epoch; bad = 0
        bestW = w.map(_.clone()); bestB = b.clone()
      } else { bad += 1; if (bad >= cfg.patience) stopped = true }
      // reference's in-loop load_state_dict(best): resume next epoch from
      // the best weights, Adam state untouched (model_training.py:180)
      for (k <- 0 until K) Array.copy(bestW(k), 0, w(k), 0, D)
      Array.copy(bestB, 0, b, 0, K)
      log += ((trainLoss, valLoss, improved))
      epoch += 1
    }
    (bestW, bestB, bestVal, bestEpoch, log.toSeq, stopped)
  }

  test("distributed loop is bit-exact vs the sequential reference replica") {
    val trainRows = mkRows(48, 0)
    val valRows = mkRows(16, 100)
    val cfg = HeadTrainer.TrainConfig(epochs = 25, batches = 4, patience = 3)

    val got = HeadTrainer.train(toDf(trainRows), toDf(valRows), initW, initB, cfg)
    val (ew, eb, ebv, ebe, elog, estop) = localTrain(trainRows, valRows, cfg)

    assert(got.bestEpoch == ebe)
    assert(got.stoppedEarly == estop)
    assert(got.bestVal == ebv)
    assert(got.log.size == elog.size)
    got.log.zip(elog).foreach { case (g, (tl, vl, imp)) =>
      assert(g.trainLoss == tl, s"trainLoss epoch ${g.epoch}")
      assert(g.valLoss == vl, s"valLoss epoch ${g.epoch}")
      assert(g.improved == imp)
    }
    for (k <- 0 until K) {
      assert(got.b(k) == eb(k))
      for (j <- 0 until D) assert(got.w(k)(j) == ew(k)(j), s"w($k)($j)")
    }
  }

  test("training reduces loss and early stopping fires within the epoch budget") {
    val trainRows = mkRows(48, 0)
    val valRows = mkRows(16, 100)
    val cfg = HeadTrainer.TrainConfig(epochs = 60, batches = 4, patience = 3)
    val got = HeadTrainer.train(toDf(trainRows), toDf(valRows), initW, initB, cfg)
    assert(got.log.head.trainLoss > got.log.map(_.trainLoss).min)
    assert(got.bestVal < got.log.head.valLoss)
    // patience-3 must terminate the 60-epoch budget early on this tiny set
    assert(got.stoppedEarly)
    assert(got.log.size < cfg.epochs)
    // best weights are from bestEpoch, not the last (possibly worse) epoch
    assert(got.log(got.bestEpoch).improved)
  }

  test("epoch batching is a partition of the dataset and reshuffles across epochs") {
    val rows = mkRows(64, 0)
    val df = toDf(rows)
    import org.apache.spark.sql.functions._
    val nB = 4
    val e0 = df.select(col("id"), HeadTrainer.batchId(col("id"), 0, nB).as("b0"))
    val e1 = df.select(col("id"), HeadTrainer.batchId(col("id"), 1, nB).as("b1"))
    // every row lands in exactly one batch per epoch
    assert(e0.groupBy("b0").count().agg(sum("count")).head().getLong(0) == 64)
    assert(e0.select("b0").distinct().count() <= nB)
    // the assignment changes between epochs (the "shuffle" of shuffle=True)
    val joined = e0.join(e1, "id").filter(col("b0") =!= col("b1")).count()
    assert(joined > 0)
    // and matches the local replica exactly
    e0.collect().foreach { r =>
      assert(r.getLong(1) == SpecHooks.batchIdLocal(r.getLong(0), 0, nB))
    }
  }

  /** Frozen-trunk features of assembled windows through
    * [[HeadTrainer.modelInputs]]: (id, ride_id, window_start, feat: the
    * 64-d pooled trunk output, y).
    */
  private def trunkFeatures(windows: org.apache.spark.sql.DataFrame,
                            wts: CnnScorer.CnnWeights, mean: Array[Double],
                            std: Array[Double]) = {
    val bWts = spark.sparkContext.broadcast(wts)
    HeadTrainer.modelInputs(windows, mean, std, VescSchema.ConfidenceCols,
      hasLabels = true, StructField("feat", ArrayType(DoubleType))) { () =>
      val trunk = new CnnScorer.Trunk(bWts.value)
      mat => trunk.run(mat).map(_.toDouble).toSeq
    }
  }

  test("trunkFeatures pooled vector + head sigmoid == CnnScorer.score") {
    val res = getClass.getResource("/cnn_weights.parquet").getPath
    val weights = CnnScorer.loadWeights(spark, res)
    val statRows = spark.read.parquet(getClass.getResource("/norm_stats.parquet").getPath)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val featureOrder = spark.read.parquet(getClass.getResource("/norm_stats.parquet").getPath)
      .select("channel").collect().map(_.getString(0)).toSeq
    val mean = featureOrder.map(statRows(_)._1).toArray
    val std = featureOrder.map(statRows(_)._2).toArray
    val cIn = mean.length

    // two synthetic 30×C windows with some nulls
    val mkWin = (seed: Int) => (0 until 30).map(ti =>
      (0 until cIn).map(c =>
        if ((ti + c + seed) % 13 == 0) null
        else java.lang.Double.valueOf(((ti * 3 + c * 5 + seed) % 17 - 8) / 4.0)): Seq[Any])
    val schema = StructType(Seq(
      StructField("ride_id", StringType),
      StructField("window_start", LongType),
      StructField("t_mid", DoubleType),
      StructField("features", ArrayType(ArrayType(DoubleType)))) ++
      VescSchema.ConfidenceCols.map(c => StructField("y_" + c, DoubleType)))
    val rows = Seq(0, 7).map(sd =>
      Row.fromSeq(Seq("r1", sd.toLong, 0.0, mkWin(sd)) ++
        VescSchema.ConfidenceCols.indices.map(i => (i % 3) / 2.0)))
    val windows = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)

    val feats = trunkFeatures(windows, weights, mean, std)
      .orderBy("window_start").collect()
    val scored = CnnScorer.score(windows, weights, mean, std)
      .orderBy("window_start").collect()

    assert(feats.length == 2 && scored.length == 2)
    feats.zip(scored).foreach { case (f, s) =>
      val pooled = f.getAs[scala.collection.Seq[Double]]("feat")
      assert(pooled.length == 64)
      // head sigmoid over the pooled features reproduces the scorer output
      // (same float32 accumulation order as CnnScorer.forward)
      weights.head.w.zipWithIndex.foreach { case (row, o) =>
        var acc = weights.head.b(o)
        row.indices.foreach(j => acc += row(j) * pooled(j).toFloat)
        val sig = (1.0 / (1.0 + math.exp(-acc.toDouble))).toFloat
        assert(math.abs(sig - s.getFloat(3 + o)) <= 1e-7f, s"class $o")
      }
      // labels come through as the y_ means
      val y = f.getAs[scala.collection.Seq[Double]]("y")
      assert(y.length == VescSchema.ConfidenceCols.length)
      assert(y.zipWithIndex.forall { case (v, i) => v == (i % 3) / 2.0 })
    }
  }
}
