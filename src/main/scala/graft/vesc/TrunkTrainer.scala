package graft.vesc

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import CnnScorer.CnnWeights

/** Distributed full-network training of the reference CNN (M7 closed:
  * model/model_training.py:109-180 over the whole conv/BN/res stack, not
  * just the linear head) — same architecture as [[HeadTrainer]]: the
  * feature table stays distributed and cached; each mini-batch computes
  * loss + the FULL ~18k-parameter gradient as ONE aggregation with
  * map-side partial combine ([[TrunkTrainer.TrunkGradAgg]] — each task
  * reduces its windows into a single flat gradient buffer, so the shuffle
  * per batch moves O(tasks · 18k) doubles, never rows); the driver holds
  * the optimizer state and applies Adam.
  *
  * Two BN modes: the default FREEZES statistics (γ/β trained) — the
  * configuration under which per-row gradients are independent and the
  * one-aggregation-per-batch shape holds — while
  * `train(batchStatsBn = true)` runs the reference's train-mode batch
  * statistics exactly, via [[gradPassBn]]'s SyncBatchNorm-shaped
  * 2·L+1 bounded aggregations per batch (see [[TrunkGrad]]'s train-mode
  * section for the math).
  *
  * Loop semantics (batching, Adam, epoch loss weighting, patience-based
  * early stopping, in-loop best-checkpoint restore) are IDENTICAL to
  * [[HeadTrainer.train]] — TrunkTrainerSpec proves the distributed loop
  * bit-exact against a sequential replica, and the analytic gradient
  * against finite differences of an independent double-precision forward.
  */
object TrunkTrainer {

  final case class TrunkBuf(g: Array[Double], loss: Double, labeled: Long)

  /** One-pass masked-BCE loss + full-network gradient for fixed weights
    * over rows of (win: dense normalized (T, C) matrix, y: K targets with
    * NaN = unlabeled). Closes over the weights (~100 KB per task closure).
    */
  class TrunkGradAgg(wts: CnnWeights)
      extends Aggregator[(Seq[Seq[Double]], Seq[Double]), TrunkBuf, TrunkBuf] {
    private val n = TrunkGrad.nParams(wts)

    override def zero: TrunkBuf = TrunkBuf(Array.ofDim[Double](n), 0.0, 0L)

    override def reduce(buf: TrunkBuf, row: (Seq[Seq[Double]], Seq[Double])): TrunkBuf = {
      val (winSeq, ySeq) = row
      val win = winSeq.map(r => r.map(_.toFloat).toArray).toArray
      val (loss, labeled) = TrunkGrad.rowGradient(win, ySeq.toArray, wts, buf.g)
      TrunkBuf(buf.g, buf.loss + loss, buf.labeled + labeled)
    }

    override def merge(a: TrunkBuf, b: TrunkBuf): TrunkBuf = {
      var i = 0
      while (i < a.g.length) { a.g(i) += b.g(i); i += 1 }
      TrunkBuf(a.g, a.loss + b.loss, a.labeled + b.labeled)
    }

    override def finish(r: TrunkBuf): TrunkBuf = r
    override def bufferEncoder: ExpressionEncoder[TrunkBuf] = ExpressionEncoder[TrunkBuf]()
    override def outputEncoder: ExpressionEncoder[TrunkBuf] = ExpressionEncoder[TrunkBuf]()
  }

  /** One gradient aggregation over `df` (columns win, y) at `wts`. */
  def gradPass(df: DataFrame, wts: CnnWeights): TrunkBuf = {
    val agg = udaf(new TrunkGradAgg(wts))
    val r = df.agg(agg(col("win"), col("y")).as("g")).head()
    val g = r.getStruct(0)
    TrunkBuf(g.getAs[scala.collection.Seq[Double]]("g").toArray,
      g.getAs[Double]("loss"), g.getAs[Long]("labeled"))
  }

  // ---- train-mode (batch-statistics) BatchNorm passes ----

  final case class BnSumsBuf(sum: Array[Double], sumsq: Array[Double], m: Long)

  /** Phase 1 of [[gradPassBn]]: per-channel (Σx, Σx², count) of one BN
    * layer's pre-activation over the batch. Bounded state (2·channels
    * doubles), map-side combined like every other pass.
    */
  class BnSumsAgg(wts: CnnWeights, layer: String)
      extends Aggregator[Seq[Seq[Double]], BnSumsBuf, BnSumsBuf] {
    private val ch = TrunkGrad.bnOf(wts, layer).gamma.length
    override def zero: BnSumsBuf =
      BnSumsBuf(Array.ofDim[Double](ch), Array.ofDim[Double](ch), 0L)
    override def reduce(buf: BnSumsBuf, winSeq: Seq[Seq[Double]]): BnSumsBuf = {
      val win = winSeq.map(r => r.map(_.toFloat).toArray).toArray
      val m = TrunkGrad.rowPreBnSums(win, wts, layer, buf.sum, buf.sumsq)
      BnSumsBuf(buf.sum, buf.sumsq, buf.m + m)
    }
    override def merge(a: BnSumsBuf, b: BnSumsBuf): BnSumsBuf = {
      var i = 0
      while (i < a.sum.length) { a.sum(i) += b.sum(i); a.sumsq(i) += b.sumsq(i); i += 1 }
      BnSumsBuf(a.sum, a.sumsq, a.m + b.m)
    }
    override def finish(r: BnSumsBuf): BnSumsBuf = r
    override def bufferEncoder: ExpressionEncoder[BnSumsBuf] = ExpressionEncoder[BnSumsBuf]()
    override def outputEncoder: ExpressionEncoder[BnSumsBuf] = ExpressionEncoder[BnSumsBuf]()
  }

  final case class BnMomBuf(dy: Array[Double], dyx: Array[Double])

  /** Phase 2 of [[gradPassBn]]: one BN layer's backward moments
    * (Σdy, Σdy·x̂) over the batch, given the moments of the layers above.
    */
  class BnMomentsAgg(wts: CnnWeights, layer: String,
                     moments: Map[String, TrunkGrad.BnMom])
      extends Aggregator[(Seq[Seq[Double]], Seq[Double]), BnMomBuf, BnMomBuf] {
    private val ch = TrunkGrad.bnOf(wts, layer).gamma.length
    override def zero: BnMomBuf =
      BnMomBuf(Array.ofDim[Double](ch), Array.ofDim[Double](ch))
    override def reduce(buf: BnMomBuf, row: (Seq[Seq[Double]], Seq[Double])): BnMomBuf = {
      val win = row._1.map(r => r.map(_.toFloat).toArray).toArray
      TrunkGrad.rowBnMoments(win, row._2.toArray, wts, moments, layer,
        buf.dy, buf.dyx)
      buf
    }
    override def merge(a: BnMomBuf, b: BnMomBuf): BnMomBuf = {
      var i = 0
      while (i < a.dy.length) { a.dy(i) += b.dy(i); a.dyx(i) += b.dyx(i); i += 1 }
      a
    }
    override def finish(r: BnMomBuf): BnMomBuf = r
    override def bufferEncoder: ExpressionEncoder[BnMomBuf] = ExpressionEncoder[BnMomBuf]()
    override def outputEncoder: ExpressionEncoder[BnMomBuf] = ExpressionEncoder[BnMomBuf]()
  }

  /** Phase 3 of [[gradPassBn]]: the full train-mode gradient, all batch
    * stats and moments known — same buffer shape as [[TrunkGradAgg]].
    */
  class TrunkGradBnAgg(wts: CnnWeights, moments: Map[String, TrunkGrad.BnMom])
      extends Aggregator[(Seq[Seq[Double]], Seq[Double]), TrunkBuf, TrunkBuf] {
    private val n = TrunkGrad.nParams(wts)
    override def zero: TrunkBuf = TrunkBuf(Array.ofDim[Double](n), 0.0, 0L)
    override def reduce(buf: TrunkBuf, row: (Seq[Seq[Double]], Seq[Double])): TrunkBuf = {
      val win = row._1.map(r => r.map(_.toFloat).toArray).toArray
      val (loss, labeled) =
        TrunkGrad.rowGradientBn(win, row._2.toArray, wts, moments, buf.g)
      TrunkBuf(buf.g, buf.loss + loss, buf.labeled + labeled)
    }
    override def merge(a: TrunkBuf, b: TrunkBuf): TrunkBuf = {
      var i = 0
      while (i < a.g.length) { a.g(i) += b.g(i); i += 1 }
      TrunkBuf(a.g, a.loss + b.loss, a.labeled + b.labeled)
    }
    override def finish(r: TrunkBuf): TrunkBuf = r
    override def bufferEncoder: ExpressionEncoder[TrunkBuf] = ExpressionEncoder[TrunkBuf]()
    override def outputEncoder: ExpressionEncoder[TrunkBuf] = ExpressionEncoder[TrunkBuf]()
  }

  /** One batch's per-layer batch statistics: (mean, BIASED variance) as
    * float32 (the precision the forward consumes) plus the element count
    * (for the unbiased correction in the running-stat update).
    */
  final case class BnBatchStats(stats: Map[String, (Array[Float], Array[Float])],
                                m: Map[String, Long])

  /** Exact train-mode-BN batch gradient — the SyncBatchNorm shape over
    * Spark aggregations: 5 sequential stat syncs (forward dependency
    * order; each resolves one more layer's batch mean/var), 5 moment
    * syncs (backward order; each resolves one more layer's Σdy / Σdy·x̂),
    * then one full-gradient pass. Every pass is a bounded aggregation
    * (O(channels) or O(nParams) state, map-side combined) over the SAME
    * cached batch — nothing row-sized ever shuffles. Empty batch →
    * zero gradient, no stats.
    */
  def gradPassBn(df: DataFrame, wts: CnnWeights): (TrunkBuf, Option[BnBatchStats]) = {
    var stats = Map.empty[String, (Array[Float], Array[Float])]
    var ms = Map.empty[String, Long]
    for (layer <- TrunkGrad.BnOrder) {
      val resolved = TrunkGrad.withBnStats(wts, stats)
      val agg = udaf(new BnSumsAgg(resolved, layer))
      val r = df.agg(agg(col("win")).as("s")).head().getStruct(0)
      val sum = r.getAs[scala.collection.Seq[Double]]("sum")
      val sumsq = r.getAs[scala.collection.Seq[Double]]("sumsq")
      val m = r.getAs[Long]("m")
      if (m == 0L)
        return (TrunkBuf(Array.ofDim[Double](TrunkGrad.nParams(wts)), 0.0, 0L), None)
      val mean = sum.map(_ / m).toArray
      // biased variance (what the normalization uses), clamped at 0 against
      // float cancellation on constant channels
      val varb = sumsq.zip(sum).map { case (sq, s) =>
        math.max(sq / m - (s / m) * (s / m), 0.0)
      }.toArray
      stats += layer -> (mean.map(_.toFloat), varb.map(_.toFloat))
      ms += layer -> m
    }
    val resolved = TrunkGrad.withBnStats(wts, stats)
    var moments = Map.empty[String, TrunkGrad.BnMom]
    for (layer <- TrunkGrad.BnOrder.reverse) {
      val agg = udaf(new BnMomentsAgg(resolved, layer, moments))
      val r = df.agg(agg(col("win"), col("y")).as("s")).head().getStruct(0)
      moments += layer -> TrunkGrad.BnMom(
        r.getAs[scala.collection.Seq[Double]]("dy").toArray,
        r.getAs[scala.collection.Seq[Double]]("dyx").toArray,
        ms(layer))
    }
    val agg = udaf(new TrunkGradBnAgg(resolved, moments))
    val r = df.agg(agg(col("win"), col("y")).as("g")).head().getStruct(0)
    val buf = TrunkBuf(r.getAs[scala.collection.Seq[Double]]("g").toArray,
      r.getAs[Double]("loss"), r.getAs[Long]("labeled"))
    (buf, Some(BnBatchStats(stats, ms)))
  }

  /** PyTorch-momentum running-stat update after a train-mode batch:
    * running ← (1−momentum)·running + momentum·batch, with the UNBIASED
    * batch variance (·m/(m−1)) in the running slot — exactly
    * nn.BatchNorm1d's bookkeeping, so eval-mode validation matches the
    * reference trainer's model.eval() passes.
    */
  def updateRunningStats(wts: CnnWeights, batch: BnBatchStats,
                         momentum: Double): CnnWeights = {
    def upd(layer: String, bn: CnnScorer.BnW): CnnScorer.BnW =
      batch.stats.get(layer).map { case (bm, bv) =>
        val m = batch.m(layer)
        val corr = if (m > 1) m.toDouble / (m - 1).toDouble else 1.0
        val nm = bn.mean.indices.map(i =>
          ((1 - momentum) * bn.mean(i) + momentum * bm(i)).toFloat).toArray
        val nv = bn.variance.indices.map(i =>
          ((1 - momentum) * bn.variance(i) + momentum * bv(i) * corr).toFloat).toArray
        CnnScorer.BnW(bn.gamma, bn.beta, nm, nv, bn.eps)
      }.getOrElse(bn)
    wts.copy(bn1 = upd("bn1", wts.bn1), resBn = upd("resbn", wts.resBn),
      bn2 = upd("bn2", wts.bn2), bn3 = upd("bn3", wts.bn3),
      bn4 = upd("bn4", wts.bn4))
  }

  /** Forward-only loss + labeled-count aggregation — per-row losses are
    * bit-identical to [[TrunkGradAgg]]'s ([[TrunkGrad.rowLoss]] shares the
    * cached forward and BCE loop) but no backward pass runs and no
    * 18k-double buffer ships, so the per-epoch validation pass costs one
    * forward instead of a full backprop it would only discard.
    */
  class TrunkLossAgg(wts: CnnWeights)
      extends Aggregator[(Seq[Seq[Double]], Seq[Double]), (Double, Long), (Double, Long)] {
    override def zero: (Double, Long) = (0.0, 0L)
    override def reduce(buf: (Double, Long), row: (Seq[Seq[Double]], Seq[Double])): (Double, Long) = {
      val (winSeq, ySeq) = row
      val win = winSeq.map(r => r.map(_.toFloat).toArray).toArray
      val (loss, labeled) = TrunkGrad.rowLoss(win, ySeq.toArray, wts)
      (buf._1 + loss, buf._2 + labeled)
    }
    override def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    override def finish(r: (Double, Long)): (Double, Long) = r
    override def bufferEncoder: ExpressionEncoder[(Double, Long)] =
      ExpressionEncoder[(Double, Long)]()
    override def outputEncoder: ExpressionEncoder[(Double, Long)] =
      ExpressionEncoder[(Double, Long)]()
  }

  def evalLoss(df: DataFrame, wts: CnnWeights): Double = {
    val agg = udaf(new TrunkLossAgg(wts))
    val r = df.agg(agg(col("win"), col("y")).as("l")).head().getStruct(0)
    r.getDouble(0) / math.max(r.getLong(1).toDouble, 1.0)
  }

  final case class TrunkResult(weights: CnnWeights, bestVal: Double,
                               bestEpoch: Int,
                               log: Seq[HeadTrainer.EpochLog],
                               stoppedEarly: Boolean)

  /** Complete optimizer state at an epoch boundary — everything needed to
    * resume training EXACTLY where it stopped (weights, Adam moments and
    * step count, best-checkpoint tracking, patience counter, and — for
    * batch-stats BN mode — the BN running statistics, which train-mode
    * batches mutate). One row of parquet via
    * [[saveCheckpoint]]/[[loadCheckpoint]]: the fault-tolerance story of
    * a multi-day cluster run (S9 for the trainer, not just the scorer).
    */
  final case class TrunkState(p: Seq[Double], m: Seq[Double], v: Seq[Double],
                              t: Long, nextEpoch: Int, bestVal: Double,
                              bestEpoch: Int, bestP: Seq[Double], bad: Int,
                              bnStats: Seq[Double] = Seq.empty)

  /** BN running stats (mean ++ variance per layer, [[TrunkGrad.BnOrder]])
    * as one flat vector — the checkpoint slot train-mode batches mutate.
    */
  def flattenBnStats(wts: CnnWeights): Seq[Double] =
    TrunkGrad.BnOrder.flatMap { l =>
      val bn = TrunkGrad.bnOf(wts, l)
      bn.mean.map(_.toDouble) ++ bn.variance.map(_.toDouble)
    }

  def applyBnStats(wts: CnnWeights, flat: Seq[Double]): CnnWeights = {
    if (flat.isEmpty) return wts
    var i = 0
    val stats = TrunkGrad.BnOrder.map { l =>
      val ch = TrunkGrad.bnOf(wts, l).gamma.length
      val mean = flat.slice(i, i + ch).map(_.toFloat).toArray; i += ch
      val varb = flat.slice(i, i + ch).map(_.toFloat).toArray; i += ch
      l -> (mean, varb)
    }.toMap
    TrunkGrad.withBnStats(wts, stats)
  }

  def saveCheckpoint(spark: org.apache.spark.sql.SparkSession, path: String,
                     st: TrunkState): Unit = {
    import spark.implicits._
    Seq(st).toDS().write.mode("overwrite").parquet(path)
  }

  def loadCheckpoint(spark: org.apache.spark.sql.SparkSession,
                     path: String): TrunkState = {
    import spark.implicits._
    val df = spark.read.parquet(path)
    // checkpoints written before the bnStats slot existed (frozen-BN-only
    // builds) lack the column; the encoder does not apply case-class
    // defaults, so supply the empty vector explicitly for forward compat
    val compat =
      if (df.columns.contains("bnStats")) df
      else df.withColumn("bnStats",
        org.apache.spark.sql.functions.typedLit(Seq.empty[Double]))
    compat.as[TrunkState].head()
  }

  /** The training loop — same structure as [[HeadTrainer.train]], over the
    * flat ~18k-parameter vector. `train`/`validation` need columns
    * (id long, win array&lt;array&lt;double&gt;&gt;, y array&lt;double&gt;).
    *
    * `resume` restarts from a [[TrunkState]] checkpoint bit-exactly (the
    * deterministic batch assignment depends only on (id, epoch), so a
    * resumed run replays the identical remaining trajectory); `onEpoch`
    * fires with the post-epoch state — the checkpoint hook.
    *
    * `batchStatsBn = true` selects train-mode BatchNorm (the reference's
    * from-scratch recipe): each batch normalizes with ITS OWN statistics
    * ([[gradPassBn]], exact coupled gradient) and updates the running
    * stats with PyTorch `momentum` bookkeeping; validation evaluates in
    * eval mode against the current running stats, exactly like the
    * reference's `model.eval()` passes. Default stays frozen-stats
    * fine-tuning (one aggregation per batch).
    */
  def train(trainDf: DataFrame, valDf: DataFrame, initWts: CnnWeights,
            cfg: HeadTrainer.TrainConfig = HeadTrainer.TrainConfig(),
            resume: Option[TrunkState] = None,
            onEpoch: TrunkState => Unit = _ => (),
            batchStatsBn: Boolean = false,
            bnMomentum: Double = 0.1): TrunkResult = {
    val p = resume.map(_.p.toArray).getOrElse(TrunkGrad.flatten(initWts))
    val n = p.length
    val m = resume.map(_.m.toArray).getOrElse(Array.ofDim[Double](n))
    val v = resume.map(_.v.toArray).getOrElse(Array.ofDim[Double](n))
    var t = resume.map(_.t).getOrElse(0L)
    // `like` carries the BN running stats (mutated by train-mode batches;
    // constant in frozen mode) — unflatten reads its mean/variance slots
    var like = resume.map(st => applyBnStats(initWts, st.bnStats)).getOrElse(initWts)

    val cachedTrain = trainDf.persist()
    val cachedVal = valDf.persist()
    try {
      var bestVal = resume.map(_.bestVal).getOrElse(Double.PositiveInfinity)
      var bestEpoch = resume.map(_.bestEpoch).getOrElse(-1)
      var bestP = resume.map(_.bestP.toArray).getOrElse(p.clone())
      var bestLike = like // best-checkpoint running stats travel with bestP
      var bad = resume.map(_.bad).getOrElse(0)
      var stopped = false
      val log = scala.collection.mutable.ArrayBuffer.empty[HeadTrainer.EpochLog]

      var epoch = resume.map(_.nextEpoch).getOrElse(0)
      while (epoch < cfg.epochs && !stopped) {
        var num = 0.0; var den = 0.0
        var bi = 0
        while (bi < cfg.batches) {
          val wts = TrunkGrad.unflatten(p, like)
          val batch = cachedTrain.filter(
            HeadTrainer.batchId(col("id"), epoch, cfg.batches) === bi)
          val g =
            if (batchStatsBn) {
              val (buf, bstats) = gradPassBn(batch, wts)
              bstats.foreach(bs => like = updateRunningStats(like, bs, bnMomentum))
              buf
            } else gradPass(batch, wts)
          val nb = math.max(g.labeled.toDouble, 1.0)
          t += 1
          val c1 = 1.0 - math.pow(cfg.beta1, t)
          val c2 = 1.0 - math.pow(cfg.beta2, t)
          var j = 0
          while (j < n) {
            val grad = g.g(j) / nb
            m(j) = cfg.beta1 * m(j) + (1 - cfg.beta1) * grad
            v(j) = cfg.beta2 * v(j) + (1 - cfg.beta2) * grad * grad
            p(j) -= cfg.lr * (m(j) / c1) / (math.sqrt(v(j) / c2) + cfg.adamEps)
            j += 1
          }
          num += g.loss
          den += g.labeled.toDouble
          bi += 1
        }
        val trainLoss = num / math.max(den, 1.0)
        // eval-mode validation: running stats, never batch stats
        val valLoss = evalLoss(cachedVal, TrunkGrad.unflatten(p, like))

        val improved = valLoss + cfg.minDelta < bestVal
        if (improved) {
          bestVal = valLoss; bestEpoch = epoch; bad = 0
          bestP = p.clone()
          bestLike = like
        } else {
          bad += 1
          if (bad >= cfg.patience) stopped = true
        }
        // reference's in-loop load_state_dict(best) (model_training.py:180)
        // restores params AND BN running stats
        System.arraycopy(bestP, 0, p, 0, n)
        like = bestLike
        log += HeadTrainer.EpochLog(epoch, trainLoss, valLoss, improved)
        epoch += 1
        onEpoch(TrunkState(p.toSeq, m.toSeq, v.toSeq, t, epoch,
          bestVal, bestEpoch, bestP.toSeq, bad, flattenBnStats(like)))
      }
      TrunkResult(TrunkGrad.unflatten(bestP, like), bestVal, bestEpoch,
        log.toSeq, stopped)
    } finally {
      cachedTrain.unpersist()
      cachedVal.unpersist()
    }
  }

  /** Assembled windows → (id, win: dense normalized (T, C) double matrix,
    * y: per-class label means; NaN where unlabeled). The same
    * [[CnnScorer.normalizedWindow]] as [[CnnScorer.score]], materialized as data so
    * every epoch pass skips the fill work; float32 values widened to
    * double (exact), so the aggregator's `toFloat` round-trips
    * bit-identically.
    */
  def normalizedWindows(windows: DataFrame,
                        mean: Array[Double], std: Array[Double],
                        confCols: Seq[String] = VescSchema.ConfidenceCols,
                        hasLabels: Boolean = true): DataFrame = {
    val sc = windows.sparkSession.sparkContext
    val bMean = sc.broadcast(mean.map(_.toFloat))
    val bStd = sc.broadcast(std.map(_.toFloat))
    val labelCols =
      if (hasLabels) confCols.map(c => col("y_" + c).cast("double"))
      else confCols.map(_ => lit(Double.NaN))
    val projected = windows.select(
      col("ride_id"), col("window_start"),
      col("features"), array(labelCols: _*).as("__y"))
    val outSchema = StructType(Seq(
      StructField("ride_id", StringType),
      StructField("window_start", LongType),
      StructField("win", ArrayType(ArrayType(DoubleType))),
      StructField("y", ArrayType(DoubleType))))
    val out = projected.mapPartitions { it =>
      val mn = bMean.value; val sd = bStd.value
      it.map { row =>
        val cells = row.getAs[scala.collection.Seq[scala.collection.Seq[Any]]](2)
        val mat = CnnScorer.normalizedWindow(cells, mn, sd)
        Row(row.get(0), row.get(1),
          mat.map(_.map(_.toDouble).toSeq).toSeq,
          row.getAs[scala.collection.Seq[Double]](3).toSeq)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    out.withColumn("id", xxhash64(col("ride_id"), col("window_start")))
      .select("id", "ride_id", "window_start", "win", "y")
  }
}
