package graft.vesc

import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import CnnScorer.{CnnWeights, ConvW, BnW}

/** Full-network training verification (M7):
  *
  *  1. the cached forward used by backprop reproduces `CnnScorer.forward`
  *     bit-for-bit on the real checkpoint;
  *  2. the analytic gradient matches central finite differences of an
  *     INDEPENDENT double-precision forward replica (implemented below,
  *     not shared with production code) for sampled parameters in every
  *     tensor block;
  *  3. the distributed training loop is bit-exact against a sequential
  *     in-test replica (same batching, Adam, early stopping, in-loop
  *     best-restore);
  *  4. training actually reduces the loss on a small fixture.
  */
class TrunkTrainerSpec extends SparkSuite {

  private def res(name: String) = getClass.getResource("/" + name).getPath
  private lazy val wts = CnnScorer.loadWeights(spark, res("cnn_weights.parquet"))

  private val T = 30
  private val C = 24
  private val K = 13

  private def mkWindow(seed: Int): Array[Array[Float]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(T, C)((rng.nextDouble() * 4 - 2).toFloat)
  }

  /** A [[TrunkTrainer.TrunkState]] checkpoint as one row of parquet. */
  private def saveCheckpoint(path: String, st: TrunkTrainer.TrunkState): Unit = {
    import spark.implicits._
    Seq(st).toDS().write.mode("overwrite").parquet(path)
  }

  private def loadCheckpoint(path: String): TrunkTrainer.TrunkState = {
    import spark.implicits._
    spark.read.parquet(path).as[TrunkTrainer.TrunkState].head()
  }

  private def mkY(seed: Int): Array[Double] =
    Array.tabulate(K)(k =>
      if ((seed + k) % 5 == 0) Double.NaN else ((seed + k) % 3) / 2.0)

  // ---- independent double-precision forward replica (test oracle) ----

  private def dConv(x: Array[Array[Double]], cw: ConvW): Array[Array[Double]] = {
    val cIn = x.length; val t = x(0).length
    val k = cw.w(0)(0).length
    val tOut = t + 2 * cw.padding - cw.dilation * (k - 1)
    Array.tabulate(cw.w.length, tOut) { (o, ti) =>
      var acc = cw.b(o).toDouble
      for (ci <- 0 until cIn; kk <- 0 until k) {
        val src = ti - cw.padding + kk * cw.dilation
        if (src >= 0 && src < t) acc += cw.w(o)(ci)(kk).toDouble * x(ci)(src)
      }
      acc
    }
  }

  private def dBn(x: Array[Array[Double]], bn: BnW): Array[Array[Double]] =
    Array.tabulate(x.length, x(0).length) { (c, t) =>
      (x(c)(t) - bn.mean(c)) / math.sqrt(bn.variance(c).toDouble + bn.eps.toDouble) *
        bn.gamma(c) + bn.beta(c)
    }

  private def dRelu(x: Array[Array[Double]]): Array[Array[Double]] =
    x.map(_.map(v => math.max(v, 0.0)))

  /** Double forward → masked-BCE summed loss for one (window, y). */
  private def dLoss(win: Array[Array[Float]], y: Array[Double], w: CnnWeights): Double = {
    val x0 = Array.tabulate(C, T)((c, t) => win(t)(c).toDouble)
    val h1 = dRelu(dBn(dConv(x0, w.conv1), w.bn1))
    val blk = dRelu(dBn(dConv(dRelu(dConv(h1, w.resConv1)), w.resConv2), w.resBn))
    val h2 = dRelu(Array.tabulate(h1.length, h1(0).length)((c, t) => h1(c)(t) + blk(c)(t)))
    val h3 = dRelu(dBn(dConv(h2, w.conv2), w.bn2))
    val h4 = dRelu(dBn(dConv(h3, w.conv3), w.bn3))
    val h5 = dRelu(dBn(dConv(h4, w.conv4), w.bn4))
    val pooled = h5.map(ch => ch.sum / ch.length)
    var loss = 0.0
    for (o <- 0 until K) if (!y(o).isNaN) {
      var z = w.head.b(o).toDouble
      for (j <- pooled.indices) z += w.head.w(o)(j).toDouble * pooled(j)
      loss += math.max(z, 0.0) - z * y(o) + math.log1p(math.exp(-math.abs(z)))
    }
    loss
  }

  test("analytic gradient matches finite differences of the double forward") {
    val win = mkWindow(11)
    val y = mkY(3)
    val flat = TrunkGrad.flatten(wts)
    val grad = Array.ofDim[Double](flat.length)
    TrunkGrad.rowGradient(win, y, wts, grad)

    val spec = TrunkGrad.blockSpec(wts)
    val offs = spec.scanLeft(0)(_ + _._2).init
    val rng = new scala.util.Random(5)
    val checked = spec.zip(offs).flatMap { case ((name, len), off) =>
      Seq.fill(3)(off + rng.nextInt(len)).distinct.map(name -> _)
    }
    val delta = 1e-4
    checked.foreach { case (block, i) =>
      val fp = flat.clone(); fp(i) += delta
      val fm = flat.clone(); fm(i) -= delta
      val wp = TrunkGrad.unflatten(fp, wts)
      val wm = TrunkGrad.unflatten(fm, wts)
      // actual float-rounded parameter distance (unflatten stores float32)
      val dTheta = TrunkGrad.flatten(wp)(i) - TrunkGrad.flatten(wm)(i)
      assert(dTheta != 0.0, s"$block[$i]: delta collapsed in float32")
      val fd = (dLoss(win, y, wp) - dLoss(win, y, wm)) / dTheta
      val an = grad(i)
      val err = math.abs(fd - an) / math.max(1e-4, math.max(math.abs(fd), math.abs(an)))
      assert(err < 2e-2, s"$block[$i]: analytic $an vs fd $fd (rel $err)")
    }
  }

  // ---- train-mode (batch-statistics) BatchNorm ----

  /** Double-precision BATCH forward: per-layer batch stats computed in
    * float64 from the batch itself (no float32 casts anywhere), masked-BCE
    * loss summed over the rows. Independent of production code — the FD
    * oracle that carries the d(stats)/dθ coupling.
    */
  private def dLossBatch(rows: Seq[(Array[Array[Float]], Array[Double])],
                         w: CnnWeights): Double = {
    def stats(pres: Seq[Array[Array[Double]]]): (Array[Double], Array[Double]) = {
      val ch = pres.head.length
      val mean = Array.ofDim[Double](ch); val varb = Array.ofDim[Double](ch)
      var m = 0L
      pres.foreach(p => m += p(0).length)
      for (c <- 0 until ch) {
        var s = 0.0; var sq = 0.0
        pres.foreach(_.apply(c).foreach { x => s += x; sq += x * x })
        mean(c) = s / m
        varb(c) = math.max(sq / m - mean(c) * mean(c), 0.0)
      }
      (mean, varb)
    }
    def bnWith(x: Array[Array[Double]], bn: BnW, mean: Array[Double],
               varb: Array[Double]): Array[Array[Double]] =
      Array.tabulate(x.length, x(0).length) { (c, t) =>
        (x(c)(t) - mean(c)) / math.sqrt(varb(c) + bn.eps.toDouble) *
          bn.gamma(c) + bn.beta(c)
      }
    val x0s = rows.map { case (win, _) =>
      Array.tabulate(C, T)((c, t) => win(t)(c).toDouble)
    }
    val c1 = x0s.map(dConv(_, w.conv1))
    val (m1, v1) = stats(c1)
    val h1 = c1.map(x => dRelu(bnWith(x, w.bn1, m1, v1)))
    val r2 = h1.map(h => dConv(dRelu(dConv(h, w.resConv1)), w.resConv2))
    val (mr, vr) = stats(r2)
    val h2 = r2.zip(h1).map { case (r, h) =>
      val blk = dRelu(bnWith(r, w.resBn, mr, vr))
      dRelu(Array.tabulate(h.length, h(0).length)((c, t) => h(c)(t) + blk(c)(t)))
    }
    val c2 = h2.map(dConv(_, w.conv2))
    val (m2, v2) = stats(c2)
    val h3 = c2.map(x => dRelu(bnWith(x, w.bn2, m2, v2)))
    val c3 = h3.map(dConv(_, w.conv3))
    val (m3, v3) = stats(c3)
    val h4 = c3.map(x => dRelu(bnWith(x, w.bn3, m3, v3)))
    val c4 = h4.map(dConv(_, w.conv4))
    val (m4, v4) = stats(c4)
    val h5 = c4.map(x => dRelu(bnWith(x, w.bn4, m4, v4)))
    var loss = 0.0
    h5.zip(rows).foreach { case (h, (_, y)) =>
      val pooled = h.map(ch => ch.sum / ch.length)
      for (o <- 0 until K) if (!y(o).isNaN) {
        var z = w.head.b(o).toDouble
        for (j <- pooled.indices) z += w.head.w(o)(j).toDouble * pooled(j)
        loss += math.max(z, 0.0) - z * y(o) + math.log1p(math.exp(-math.abs(z)))
      }
    }
    loss
  }

  /** Local (driver-side) replica of the gradPassBn phases over in-memory
    * rows, exercising the same TrunkGrad kernels the Spark aggregators
    * call — used both for FD checking and Spark-parity.
    */
  private def localGradBn(rows: Seq[(Array[Array[Float]], Array[Double])],
                          w: CnnWeights): (Array[Double], Double, Long) = {
    var stats = Map.empty[String, (Array[Float], Array[Float])]
    var ms = Map.empty[String, Long]
    TrunkGrad.BnOrder.foreach { layer =>
      val resolved = TrunkGrad.withBnStats(w, stats)
      val ch = TrunkGrad.bnOf(w, layer).gamma.length
      val sum = Array.ofDim[Double](ch); val sumsq = Array.ofDim[Double](ch)
      var m = 0L
      rows.foreach { case (win, _) =>
        m += TrunkGrad.rowPreBnSums(win, resolved, layer, sum, sumsq)
      }
      val mean = sum.map(_ / m)
      val varb = sumsq.zip(sum).map { case (sq, s) =>
        math.max(sq / m - (s / m) * (s / m), 0.0)
      }
      stats += layer -> (mean.map(_.toFloat), varb.map(_.toFloat))
      ms += layer -> m
    }
    val resolved = TrunkGrad.withBnStats(w, stats)
    var moments = Map.empty[String, TrunkGrad.BnMom]
    TrunkGrad.BnOrder.reverse.foreach { layer =>
      val ch = TrunkGrad.bnOf(w, layer).gamma.length
      val dy = Array.ofDim[Double](ch); val dyx = Array.ofDim[Double](ch)
      rows.foreach { case (win, y) =>
        TrunkGrad.rowBnMoments(win, y, resolved, moments, layer, dy, dyx)
      }
      moments += layer -> TrunkGrad.BnMom(dy, dyx, ms(layer))
    }
    val g = Array.ofDim[Double](TrunkGrad.nParams(w))
    var loss = 0.0; var labeled = 0L
    rows.foreach { case (win, y) =>
      val (l, lab) = TrunkGrad.rowGradientBn(win, y, resolved, moments, g)
      loss += l; labeled += lab
    }
    (g, loss, labeled)
  }

  test("train-mode BN gradient matches finite differences of the coupled batch forward") {
    val rows = (0 until 4).map(i => (mkWindow(20 + i), mkY(i)))
    val flat = TrunkGrad.flatten(wts)
    val (grad, _, _) = localGradBn(rows, wts)

    val spec = TrunkGrad.blockSpec(wts)
    val offs = spec.scanLeft(0)(_ + _._2).init
    val rng = new scala.util.Random(9)
    val checked = spec.zip(offs).flatMap { case ((name, len), off) =>
      Seq.fill(2)(off + rng.nextInt(len)).distinct.map(name -> _)
    }
    val delta = 1e-4
    checked.foreach { case (block, i) =>
      val fp = flat.clone(); fp(i) += delta
      val fm = flat.clone(); fm(i) -= delta
      val wp = TrunkGrad.unflatten(fp, wts)
      val wm = TrunkGrad.unflatten(fm, wts)
      val dTheta = TrunkGrad.flatten(wp)(i) - TrunkGrad.flatten(wm)(i)
      assert(dTheta != 0.0, s"$block[$i]: delta collapsed in float32")
      // FD of the batch forward: perturbing a weight re-derives the batch
      // stats, so this checks the d(stats)/dθ coupling terms too
      val fd = (dLossBatch(rows, wp) - dLossBatch(rows, wm)) / dTheta
      val an = grad(i)
      val err = math.abs(fd - an) / math.max(1e-4, math.max(math.abs(fd), math.abs(an)))
      assert(err < 2e-2, s"$block[$i]: analytic $an vs fd $fd (rel $err)")
    }
  }

  test("a fully-unlabeled row still couples through batch statistics (FD check)") {
    // One row has ALL-NaN labels: its dy is 0 at the topmost BN layer, but
    // the batch coupling terms (−Σdy/m − x̂·Σdy·x̂/m) give it nonzero dy
    // below bn4, so it owes moment and gradient contributions to every
    // lower layer. The coupled-batch FD oracle (dLossBatch puts the row in
    // the stats but not the loss) is the ground truth for exactly that.
    val rows = (0 until 3).map(i => (mkWindow(50 + i), mkY(i))) :+
      ((mkWindow(53), Array.fill(K)(Double.NaN)))
    val flat = TrunkGrad.flatten(wts)
    val (grad, _, labeled) = localGradBn(rows, wts)
    assert(labeled > 0L)

    val spec = TrunkGrad.blockSpec(wts)
    val offs = spec.scanLeft(0)(_ + _._2).init
    val rng = new scala.util.Random(13)
    // bias toward the blocks the coupling feeds: conv/BN layers below bn4
    val checked = spec.zip(offs)
      .filter { case ((name, _), _) => !name.startsWith("head") }
      .flatMap { case ((name, len), off) =>
        Seq.fill(2)(off + rng.nextInt(len)).distinct.map(name -> _)
      }
    // smaller delta than the labeled-batch FD test: the coupling gradients
    // here are small (one row's indirect stat effect), so the ReLU-kink
    // truncation error at 1e-4 is not negligible against them — at 3e-5
    // the FD estimate converges to the analytic value (verified by a
    // delta sweep; the PRE-fix analytic had the wrong SIGN on bn1.b)
    val delta = 3e-5
    checked.foreach { case (block, i) =>
      val fp = flat.clone(); fp(i) += delta
      val fm = flat.clone(); fm(i) -= delta
      val wp = TrunkGrad.unflatten(fp, wts)
      val wm = TrunkGrad.unflatten(fm, wts)
      val dTheta = TrunkGrad.flatten(wp)(i) - TrunkGrad.flatten(wm)(i)
      assert(dTheta != 0.0, s"$block[$i]: delta collapsed in float32")
      val fd = (dLossBatch(rows, wp) - dLossBatch(rows, wm)) / dTheta
      val an = grad(i)
      val err = math.abs(fd - an) / math.max(1e-4, math.max(math.abs(fd), math.abs(an)))
      assert(err < 2e-2, s"$block[$i]: analytic $an vs fd $fd (rel $err)")
    }
  }

  test("batch-stats BN: frozen-path gradient differs (the coupling is real)") {
    // sanity: with batch stats the BN-layer gradients must NOT equal the
    // frozen-stats gradients — otherwise the new path is a no-op
    val rows = (0 until 4).map(i => (mkWindow(30 + i), mkY(i + 1)))
    val (gBn, _, _) = localGradBn(rows, wts)
    val gFrozen = Array.ofDim[Double](TrunkGrad.nParams(wts))
    rows.foreach { case (win, y) => TrunkGrad.rowGradient(win, y, wts, gFrozen) }
    val diff = gBn.zip(gFrozen).map { case (a, b) => math.abs(a - b) }.max
    assert(diff > 1e-6, "train-mode gradient identical to frozen-stats gradient")
  }

  test("distributed gradPassBn equals the local phase replica bit-for-bit") {
    val rows = (0 until 6).map(i => (mkWindow(40 + i), mkY(i)))
    val df = toDf(rows.zipWithIndex.map { case ((w, y), i) => (i.toLong, w, y) })
      .select(org.apache.spark.sql.functions.col("win"),
        org.apache.spark.sql.functions.col("y")).persist()
    try {
      val (buf, bstats) = TrunkTrainer.gradPassBn(df, wts)
      val (eg, el, elab) = localGradBn(rows, wts)
      assert(bstats.nonEmpty)
      assert(buf.labeled == elab)
      assert(buf.loss == el, s"loss ${buf.loss} vs $el")
      buf.g.indices.foreach(i => assert(buf.g(i) == eg(i), s"grad[$i]"))
    } finally df.unpersist()
  }

  test("empty batch in BN mode yields zero gradient and no stats") {
    val df = toDf(Seq.empty)
      .select(org.apache.spark.sql.functions.col("win"),
        org.apache.spark.sql.functions.col("y"))
    val (buf, bstats) = TrunkTrainer.gradPassBn(df, wts)
    assert(bstats.isEmpty && buf.labeled == 0L && buf.g.forall(_ == 0.0))
  }

  test("batch-stats BN training runs, updates running stats, and reduces loss") {
    val trainRows = (0 until 12).map(i => (i.toLong, mkWindow(i), mkY(i)))
    val valRows = (300 until 304).map(i => (i.toLong, mkWindow(i), mkY(i)))
    val cfg = HeadTrainer.TrainConfig(epochs = 3, batches = 2, patience = 6, lr = 1e-3)
    var lastState: Option[TrunkTrainer.TrunkState] = None
    val got = TrunkTrainer.train(toDf(trainRows), toDf(valRows), wts, cfg,
      onEpoch = st => lastState = Some(st), batchStatsBn = true)
    assert(got.log.nonEmpty)
    assert(got.log.last.trainLoss < got.log.head.trainLoss,
      s"loss did not decrease: ${got.log.map(_.trainLoss)}")
    // running stats must have moved off the checkpoint values
    val ckptStats = TrunkTrainer.flattenBnStats(wts)
    val newStats = lastState.get.bnStats
    assert(newStats.size == ckptStats.size)
    assert(newStats != ckptStats, "running stats never updated")
  }

  // ---- distributed == sequential ----

  private def toDf(rows: Seq[(Long, Array[Array[Float]], Array[Double])]) = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("win", ArrayType(ArrayType(DoubleType))),
      StructField("y", ArrayType(DoubleType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2.map(_.map(_.toDouble).toSeq).toSeq, r._3.toSeq)), 1),
      schema)
  }

  private def localTrain(train: Seq[(Long, Array[Array[Float]], Array[Double])],
                         valid: Seq[(Long, Array[Array[Float]], Array[Double])],
                         cfg: HeadTrainer.TrainConfig): (Array[Double], Double, Int, Int, Boolean) = {
    val p = TrunkGrad.flatten(wts)
    val n = p.length
    val m = Array.ofDim[Double](n); val v = Array.ofDim[Double](n)
    var t = 0
    def pass(rows: Seq[(Long, Array[Array[Float]], Array[Double])],
             w: CnnWeights): (Array[Double], Double, Long) = {
      val g = Array.ofDim[Double](n)
      var loss = 0.0; var labeled = 0L
      rows.foreach { case (_, win, y) =>
        val (l, lab) = TrunkGrad.rowGradient(win, y, w, g)
        loss += l; labeled += lab
      }
      (g, loss, labeled)
    }
    var bestVal = Double.PositiveInfinity; var bestEpoch = -1
    var bestP = p.clone(); var bad = 0; var stopped = false
    var nEpochs = 0
    var epoch = 0
    while (epoch < cfg.epochs && !stopped) {
      var bi = 0
      while (bi < cfg.batches) {
        val w = TrunkGrad.unflatten(p, wts)
        val batch = train.filter(r => SpecHooks.batchIdLocal(r._1, epoch, cfg.batches) == bi)
        val (g, _, labeled) = pass(batch, w)
        val nb = math.max(labeled.toDouble, 1.0)
        t += 1
        val c1 = 1.0 - math.pow(cfg.beta1, t)
        val c2 = 1.0 - math.pow(cfg.beta2, t)
        var j = 0
        while (j < n) {
          val grad = g(j) / nb
          m(j) = cfg.beta1 * m(j) + (1 - cfg.beta1) * grad
          v(j) = cfg.beta2 * v(j) + (1 - cfg.beta2) * grad * grad
          p(j) -= cfg.lr * (m(j) / c1) / (math.sqrt(v(j) / c2) + cfg.adamEps)
          j += 1
        }
        bi += 1
      }
      val w = TrunkGrad.unflatten(p, wts)
      val (_, vl, vn) = pass(valid, w)
      val valLoss = vl / math.max(vn.toDouble, 1.0)
      val improved = valLoss + cfg.minDelta < bestVal
      if (improved) { bestVal = valLoss; bestEpoch = epoch; bad = 0; bestP = p.clone() }
      else { bad += 1; if (bad >= cfg.patience) stopped = true }
      System.arraycopy(bestP, 0, p, 0, n)
      nEpochs += 1
      epoch += 1
    }
    (bestP, bestVal, bestEpoch, nEpochs, stopped)
  }

  test("distributed trunk training is bit-exact vs the sequential replica") {
    val trainRows = (0 until 12).map(i => (i.toLong, mkWindow(i), mkY(i)))
    val valRows = (100 until 104).map(i => (i.toLong, mkWindow(i), mkY(i)))
    val cfg = HeadTrainer.TrainConfig(epochs = 3, batches = 2, patience = 2)

    val got = TrunkTrainer.train(toDf(trainRows), toDf(valRows), wts, cfg)
    val (ep, ebv, ebe, en, estop) = localTrain(trainRows, valRows, cfg)

    assert(got.bestVal == ebv)
    assert(got.bestEpoch == ebe)
    assert(got.log.size == en)
    assert(got.stoppedEarly == estop)
    val gotFlat = TrunkGrad.flatten(got.weights)
    val expFlat = TrunkGrad.unflatten(ep, wts) // float-round like the result
    val expFlatArr = TrunkGrad.flatten(expFlat)
    gotFlat.indices.foreach { i =>
      assert(gotFlat(i) == expFlatArr(i), s"param $i")
    }
  }

  test("trunk training reduces the training loss on a small fixture") {
    val trainRows = (0 until 16).map(i => (i.toLong, mkWindow(i), mkY(i)))
    val valRows = (200 until 206).map(i => (i.toLong, mkWindow(i), mkY(i)))
    val cfg = HeadTrainer.TrainConfig(epochs = 6, batches = 2, patience = 6, lr = 1e-3)
    val got = TrunkTrainer.train(toDf(trainRows), toDf(valRows), wts, cfg)
    assert(got.log.nonEmpty)
    assert(got.log.last.trainLoss < got.log.head.trainLoss,
      s"loss did not decrease: ${got.log.map(_.trainLoss)}")
  }

  test("checkpoint + resume leaves nothing new in java.io.tmpdir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def entries = tmp.list().toSet
    val before = entries
    val trainRows = (0 until 4).map(i => (i.toLong, mkWindow(i), mkY(i)))
    val valRows = (100 until 102).map(i => (i.toLong, mkWindow(i), mkY(i)))
    val cfg2 = HeadTrainer.TrainConfig(epochs = 2, batches = 1, patience = 8)
    var saved: Option[TrunkTrainer.TrunkState] = None
    TrunkTrainer.train(toDf(trainRows), toDf(valRows), wts, cfg2.copy(epochs = 1),
      onEpoch = st => saved = Some(st))
    val loaded = withTempDir("graft_ckpt_") { dir =>
      saveCheckpoint(dir.toString, saved.get)
      loadCheckpoint(dir.toString)
    }
    TrunkTrainer.train(toDf(trainRows), toDf(valRows), wts, cfg2, resume = Some(loaded))
    val left = entries -- before
    assert(left.isEmpty, s"left in $tmp: ${left.mkString(", ")}")
  }

  test("checkpoint + resume replays the straight run bit-exactly (parquet round-trip)") {
    val trainRows = (0 until 12).map(i => (i.toLong, mkWindow(i), mkY(i)))
    val valRows = (100 until 104).map(i => (i.toLong, mkWindow(i), mkY(i)))
    val cfg4 = HeadTrainer.TrainConfig(epochs = 4, batches = 2, patience = 8)
    val cfg2 = cfg4.copy(epochs = 2)

    val straight = TrunkTrainer.train(toDf(trainRows), toDf(valRows), wts, cfg4)

    // run 2 epochs, checkpoint the epoch-2 state through parquet...
    var saved: Option[TrunkTrainer.TrunkState] = None
    TrunkTrainer.train(toDf(trainRows), toDf(valRows), wts, cfg2,
      onEpoch = st => saved = Some(st))
    val loaded = withTempDir("graft_ckpt_") { dir =>
      saveCheckpoint(dir.toString, saved.get)
      loadCheckpoint(dir.toString)
    }
    assert(loaded.nextEpoch == 2 && loaded.t == saved.get.t)

    // ...and resume for epochs 2-3: identical final weights and best-val
    val resumed = TrunkTrainer.train(toDf(trainRows), toDf(valRows), wts, cfg4,
      resume = Some(loaded))
    assert(resumed.bestVal == straight.bestVal)
    assert(resumed.bestEpoch == straight.bestEpoch)
    val a = TrunkGrad.flatten(straight.weights)
    val b = TrunkGrad.flatten(resumed.weights)
    a.indices.foreach(i => assert(a(i) == b(i), s"param $i diverged after resume"))
  }

  test("batch-stats BN checkpoint + resume replays the straight run bit-exactly") {
    // train-mode batches move the BN running stats, which the checkpoint
    // carries next to the flat parameters (TrunkState.bnStats)
    val trainRows = (0 until 12).map(i => (i.toLong, mkWindow(i), mkY(i)))
    val valRows = (100 until 104).map(i => (i.toLong, mkWindow(i), mkY(i)))
    val cfg4 = HeadTrainer.TrainConfig(epochs = 4, batches = 2, patience = 8)
    val cfg2 = cfg4.copy(epochs = 2)

    val straight = TrunkTrainer.train(toDf(trainRows), toDf(valRows), wts, cfg4,
      batchStatsBn = true)

    var saved: Option[TrunkTrainer.TrunkState] = None
    TrunkTrainer.train(toDf(trainRows), toDf(valRows), wts, cfg2,
      onEpoch = st => saved = Some(st), batchStatsBn = true)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_bn_").toFile
    try {
      saveCheckpoint(dir.toString, saved.get)
      val loaded = loadCheckpoint(dir.toString)
      assert(loaded.nextEpoch == 2 && loaded.t == saved.get.t)
      assert(loaded.bnStats == saved.get.bnStats)
      assert(loaded.bnStats != TrunkTrainer.flattenBnStats(wts), "running stats never moved")

      val resumed = TrunkTrainer.train(toDf(trainRows), toDf(valRows), wts, cfg4,
        resume = Some(loaded), batchStatsBn = true)
      assert(resumed.bestVal == straight.bestVal)
      assert(resumed.bestEpoch == straight.bestEpoch)
      val a = TrunkGrad.flatten(straight.weights)
      val b = TrunkGrad.flatten(resumed.weights)
      a.indices.foreach(i => assert(a(i) == b(i), s"param $i diverged after resume"))
      assert(TrunkTrainer.flattenBnStats(resumed.weights) ==
        TrunkTrainer.flattenBnStats(straight.weights), "BN running stats diverged after resume")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
