package graft.vesc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import CnnScorer.CnnWeights

/** Distributed full-network training of the reference CNN (M7 closed:
  * model/model_training.py:109-180 over the whole conv/BN/res stack, not
  * just the linear head) — same architecture as [[HeadTrainer]]: the
  * feature table stays distributed and cached; each mini-batch computes
  * loss + the FULL ~18k-parameter gradient as ONE aggregation with
  * map-side partial combine (a [[HeadTrainer.SumAgg]] pass — each task
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
  * The loop itself (batching, Adam, epoch loss weighting, patience-based
  * early stopping, in-loop best-checkpoint restore) is
  * [[HeadTrainer.fit]], the one both trainers run; the BN running stats
  * are its side state. TrunkTrainerSpec proves the distributed loop
  * bit-exact against a sequential replica, and the analytic gradient
  * against finite differences of an independent double-precision forward.
  */
object TrunkTrainer {

  /** Loss + gradient sums of one pass (`g` in [[TrunkGrad.flatten]]
    * order).
    */
  type TrunkBuf = HeadTrainer.SumBuf

  /** One [[HeadTrainer.SumAgg]] pass over rows (win: dense normalized
    * (T, C) matrix, y: K targets with NaN = unlabeled) of `df`: `row` adds
    * one window's sums into the `n`-double buffer and returns its (loss,
    * count); the row loss is added to the running loss whole.
    */
  private def winPass(df: DataFrame, n: Int)(
      row: (Array[Array[Float]], Array[Double], Array[Double]) => (Double, Long)): TrunkBuf =
    HeadTrainer.sumPass(df,
      new HeadTrainer.SumAgg[(Seq[Seq[Double]], Seq[Double])](n, (r, g, loss0) => {
        val win = r._1.map(t => t.map(_.toFloat).toArray).toArray
        val (loss, count) = row(win, r._2.toArray, g)
        (loss0 + loss, count)
      }), col("win"), col("y"))

  /** One-pass masked-BCE loss + full-network gradient at `wts` (frozen BN
    * stats) over `df`'s (win, y) rows. The weights ship with the task
    * closure (~100 KB).
    */
  def gradPass(df: DataFrame, wts: CnnWeights): TrunkBuf =
    winPass(df, TrunkGrad.nParams(wts))((win, y, g) => TrunkGrad.rowGradient(win, y, wts, g))

  // ---- train-mode (batch-statistics) BatchNorm passes ----

  /** One batch's per-layer batch statistics: (mean, BIASED variance) as
    * float32 (the precision the forward consumes) plus the element count
    * (for the unbiased correction in the running-stat update).
    */
  final case class BnBatchStats(stats: Map[String, (Array[Float], Array[Float])],
                                m: Map[String, Long])

  /** Exact train-mode-BN batch gradient — the SyncBatchNorm shape over
    * Spark aggregations: 5 sequential stat syncs (forward dependency
    * order; each resolves one more layer's batch mean/var from its
    * per-channel (Σx, Σx², count)), 5 moment syncs (backward order; each
    * resolves one more layer's Σdy / Σdy·x̂), then one full-gradient pass.
    * Every pass is a bounded [[HeadTrainer.SumAgg]] (O(channels) or
    * O(nParams) state, map-side combined) over the SAME cached batch of
    * (win, y) rows — nothing row-sized ever shuffles. Empty batch → zero
    * gradient, no stats.
    */
  def gradPassBn(df: DataFrame, wts: CnnWeights): (TrunkBuf, Option[BnBatchStats]) = {
    var stats = Map.empty[String, (Array[Float], Array[Float])]
    var ms = Map.empty[String, Long]
    for (layer <- TrunkGrad.BnOrder) {
      val resolved = TrunkGrad.withBnStats(wts, stats)
      val ch = TrunkGrad.bnOf(wts, layer).gamma.length
      // buffer: Σx per channel, then Σx²; count = elements per channel
      val s = winPass(df, 2 * ch)((win, _, g) =>
        (0.0, TrunkGrad.rowPreBnSums(win, resolved, layer, g, g, ch)))
      val m = s.labeled
      if (m == 0L)
        return (HeadTrainer.SumBuf(Array.ofDim[Double](TrunkGrad.nParams(wts)), 0.0, 0L), None)
      val mean = Array.tabulate(ch)(c => s.g(c) / m)
      // biased variance (what the normalization uses), clamped at 0 against
      // float cancellation on constant channels
      val varb = Array.tabulate(ch)(c =>
        math.max(s.g(ch + c) / m - (s.g(c) / m) * (s.g(c) / m), 0.0))
      stats += layer -> (mean.map(_.toFloat), varb.map(_.toFloat))
      ms += layer -> m
    }
    val resolved = TrunkGrad.withBnStats(wts, stats)
    var moments = Map.empty[String, TrunkGrad.BnMom]
    for (layer <- TrunkGrad.BnOrder.reverse) {
      val ch = TrunkGrad.bnOf(wts, layer).gamma.length
      val above = moments
      // buffer: Σdy per channel, then Σdy·x̂
      val s = winPass(df, 2 * ch) { (win, y, g) =>
        TrunkGrad.rowBnMoments(win, y, resolved, above, layer, g, g, ch)
        (0.0, 0L)
      }
      moments += layer -> TrunkGrad.BnMom(s.g.slice(0, ch), s.g.slice(ch, 2 * ch), ms(layer))
    }
    val buf = winPass(df, TrunkGrad.nParams(wts))((win, y, g) =>
      TrunkGrad.rowGradientBn(win, y, resolved, moments, g))
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

  /** Eval-mode mean validation loss at `wts` — a forward-only pass:
    * per-row losses are bit-identical to [[gradPass]]'s
    * ([[TrunkGrad.rowLoss]] shares the cached forward and the BCE kernel)
    * but no backward pass runs and no 18k-double buffer ships, so the
    * per-epoch validation pass costs one forward instead of a full
    * backprop it would only discard.
    */
  def evalLoss(df: DataFrame, wts: CnnWeights): Double =
    HeadTrainer.meanLoss(winPass(df, 0)((win, y, _) => TrunkGrad.rowLoss(win, y, wts)))

  final case class TrunkResult(weights: CnnWeights, bestVal: Double,
                               bestEpoch: Int,
                               log: Seq[HeadTrainer.EpochLog],
                               stoppedEarly: Boolean)

  /** Complete optimizer state at an epoch boundary — everything needed to
    * resume training EXACTLY where it stopped (weights, Adam moments and
    * step count, best-checkpoint tracking, patience counter, and — for
    * batch-stats BN mode — the BN running statistics, which train-mode
    * batches mutate). `train`'s `onEpoch` hands it out and `resume` takes
    * it back (one row of parquet round-trips it): the fault-tolerance story
    * of a multi-day cluster run (S9 for the trainer, not just the scorer).
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

  /** Full-network training through [[HeadTrainer.fit]], over the flat
    * ~18k-parameter vector. `train`/`validation` need columns
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
    // the side state is `like`: the weights whose BN running stats the
    // flat vector is unflattened against (mutated by train-mode batches;
    // constant in frozen mode)
    val start = resume.fold(HeadTrainer.FitState.fresh(TrunkGrad.flatten(initWts), initWts)) { st =>
      HeadTrainer.FitState(st.p.toArray, st.m.toArray, st.v.toArray, st.t,
        st.nextEpoch, st.bestVal, st.bestEpoch, st.bestP.toArray, st.bad,
        applyBnStats(initWts, st.bnStats))
    }
    val (end, log, stopped) = HeadTrainer.fit[CnnWeights](trainDf, valDf, cfg, start,
      (batch, p, like) => {
        val wts = TrunkGrad.unflatten(p, like)
        if (batchStatsBn) {
          val (buf, bstats) = gradPassBn(batch, wts)
          (buf, bstats.fold(like)(updateRunningStats(like, _, bnMomentum)))
        } else (gradPass(batch, wts), like)
      },
      // eval-mode validation: running stats, never batch stats
      (df, p, like) => evalLoss(df, TrunkGrad.unflatten(p, like)),
      st => onEpoch(TrunkState(st.p.toSeq, st.m.toSeq, st.v.toSeq, st.t,
        st.nextEpoch, st.bestVal, st.bestEpoch, st.bestP.toSeq, st.bad,
        flattenBnStats(st.side))))
    TrunkResult(TrunkGrad.unflatten(end.bestP, end.side), end.bestVal,
      end.bestEpoch, log, stopped)
  }

  /** Assembled windows → (id, ride_id, window_start, win: dense normalized
    * (T, C) double matrix, y) via [[HeadTrainer.modelInputs]] — the same
    * [[CnnScorer.normalizedWindow]] as [[CnnScorer.score]], materialized as
    * data so every epoch pass skips the fill work; float32 values widened
    * to double (exact), so the passes' `toFloat` round-trips
    * bit-identically.
    */
  def normalizedWindows(windows: DataFrame,
                        mean: Array[Double], std: Array[Double],
                        confCols: Seq[String] = VescSchema.ConfidenceCols,
                        hasLabels: Boolean = true): DataFrame =
    HeadTrainer.modelInputs(windows, mean, std, confCols, hasLabels,
      StructField("win", ArrayType(ArrayType(DoubleType))))(
      () => mat => mat.map(_.map(_.toDouble).toSeq).toSeq)
}
