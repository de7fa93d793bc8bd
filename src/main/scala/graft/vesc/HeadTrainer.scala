package graft.vesc

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native analog of the reference training loop (M6 batching + M7
  * early stopping: model/model_training.py:109-180), and the training
  * pieces both trainers share: the one loop ([[fit]]), the one sum
  * aggregation ([[SumAgg]]) and the one window → model-input seam
  * ([[modelInputs]]). `HeadTrainer.train` fine-tunes the model's Linear
  * head with the convolutional trunk frozen (transfer learning);
  * [[TrunkTrainer]] trains the whole network through the same loop.
  *
  * Architecture is the classic data-parallel pattern (how MLlib's own
  * optimizers are built): the dataset stays distributed and CACHED; each
  * mini-batch computes its loss+gradient as ONE aggregation with map-side
  * partial combine ([[SumAgg]] — each task reduces its rows into a single
  * flat buffer of one double per parameter, so the shuffle per batch moves
  * O(tasks · parameters) doubles, never rows); the driver holds the
  * optimizer state and applies the Adam update. At 100 TB of raw telemetry
  * the pooled features are ~0.5 KB/window — the cached feature table is
  * ~4 orders of magnitude smaller than the raw scan, which is why
  * materializing it once (here: persist; on a cluster: a checkpoint table)
  * is the scale-correct design.
  *
  * Loss/optimizer semantics match the reference exactly:
  *  - masked BCE-with-logits ([[TrunkGrad.bceDz]]), mean over labeled
  *    (non-NaN) targets in the batch (model_training.py:43-50), in the
  *    numerically stable form `max(z,0) − z·y + log1p(exp(−|z|))`;
  *  - Adam with torch defaults (β₁ 0.9, β₂ 0.999, ε 1e-8 added AFTER the
  *    sqrt), stepped once per batch INCLUDING zero-gradient batches
  *    (torch's opt.step() runs unconditionally, so momentum decay still
  *    moves the weights — model_training.py:128-132);
  *  - epoch train loss = Σ(batch loss · batch labeled) / Σ labeled
  *    (model_training.py:136-143);
  *  - early stopping: val improves when `val + 1e-4 < best`; best weights
  *    checkpointed on improvement, patience 8, final weights = best; and —
  *    matching the reference's in-loop `load_state_dict(best)` at
  *    model_training.py:180, which is indented INSIDE the epoch loop —
  *    every epoch ends by restoring the best weights (a no-op on improving
  *    epochs, a revert on non-improving ones) while Adam's m/v state keeps
  *    running.
  */
object HeadTrainer {

  /** Partial sums of one pass: one double per summed quantity (a pass's
    * gradient, or its per-channel sums), the summed element losses, and
    * the count (labeled targets, or summed elements). All three merge
    * element-wise, so the aggregation is associative and map-side
    * combinable.
    */
  final case class SumBuf(g: Array[Double], loss: Double, labeled: Long)

  /** The sum aggregation every training pass runs: `n` doubles plus loss
    * and count, filled row by row by `kernel`, the pass's per-row work —
    * it adds one row's sums into the buffer array and, given the running
    * loss, returns the running loss with the row's loss added and the
    * row's count. The kernel closes over the current weights; they ship
    * with the task closure each pass.
    */
  final class SumAgg[IN](n: Int, kernel: (IN, Array[Double], Double) => (Double, Long))
      extends Aggregator[IN, SumBuf, SumBuf] {
    override def zero: SumBuf = SumBuf(Array.ofDim[Double](n), 0.0, 0L)

    override def reduce(buf: SumBuf, row: IN): SumBuf = {
      val (loss, count) = kernel(row, buf.g, buf.loss)
      SumBuf(buf.g, loss, buf.labeled + count)
    }

    override def merge(a: SumBuf, b: SumBuf): SumBuf = {
      var i = 0
      while (i < a.g.length) { a.g(i) += b.g(i); i += 1 }
      SumBuf(a.g, a.loss + b.loss, a.labeled + b.labeled)
    }

    override def finish(r: SumBuf): SumBuf = r
    override def bufferEncoder: ExpressionEncoder[SumBuf] = ExpressionEncoder[SumBuf]()
    override def outputEncoder: ExpressionEncoder[SumBuf] = ExpressionEncoder[SumBuf]()
  }

  /** Runs `agg` over all of `df` (`cols` are its input) — one job. */
  private[vesc] def sumPass[IN: TypeTag](df: DataFrame, agg: SumAgg[IN], cols: Column*): SumBuf = {
    val r = df.agg(udaf(agg).apply(cols: _*).as("s")).head().getStruct(0)
    SumBuf(r.getAs[scala.collection.Seq[Double]]("g").toArray,
      r.getAs[Double]("loss"), r.getAs[Long]("labeled"))
  }

  /** Mean loss over the labeled targets of a pass (1 when none). */
  private[vesc] def meanLoss(s: SumBuf): Double = s.loss / math.max(s.labeled.toDouble, 1.0)

  /** One-pass masked-BCE loss + gradient of the head at flat parameters
    * `p` (W (K×D) row-major, then b (K)) over rows of (features D,
    * targets K with NaN = unlabeled); the buffer has the same layout as
    * `p`. Each labeled element's loss is added to the running loss in
    * class order.
    */
  def headGrad(p: Array[Double], k: Int, d: Int): SumAgg[(Seq[Double], Seq[Double])] =
    new SumAgg[(Seq[Double], Seq[Double])](k * d + k, (row, g, loss0) => {
      val x = row._1.toArray
      val y = row._2.toArray
      val z = Array.tabulate(k) { kk =>
        var acc = p(k * d + kk)
        var j = 0
        while (j < d) { acc += p(kk * d + j) * x(j); j += 1 }
        acc
      }
      val (loss, labeled, dz) = TrunkGrad.bceDz(z, y, loss0)
      var kk = 0
      while (kk < k) {
        if (!y(kk).isNaN) {
          g(k * d + kk) += dz(kk)
          var j = 0
          while (j < d) { g(kk * d + j) += dz(kk) * x(j); j += 1 }
        }
        kk += 1
      }
      (loss, labeled)
    })

  /** M6: deterministic mini-batch assignment as a pure-arithmetic column —
    * two rounds of mask → multiplicative (Knuth) hash → high-bits shift,
    * with the epoch mixed in before the first shift, so batch COMPOSITION
    * (not just a rotated labeling) changes every epoch like the reference's
    * `DataLoader(shuffle=True)` while staying exactly reproducible with no
    * RNG and no driver collect. The 20-bit mask before each multiply keeps
    * every intermediate below 2⁵², so engines that ERROR on BIGINT overflow
    * (DuckDB) replay the identical arithmetic — wrap-on-overflow is never
    * relied on.
    */
  def batchId(id: Column, epoch: Int, nBatches: Int): Column = {
    // fold the HIGH id bits into the masked window first: without this the
    // assignment depends on id only through its low 20 bits, permanently
    // co-batching every pair of ids that agree there (guaranteed by
    // pigeonhole once the dataset exceeds 2^20 rows)
    val folded = id.bitwiseXOR(shiftrightunsigned(id, 20))
      .bitwiseXOR(shiftrightunsigned(id, 40))
    val r1 = shiftright(
      folded.bitwiseAND(lit(MixMask)) * lit(MixA) + lit(epoch.toLong * MixB), 12)
    val r2 = shiftright(r1.bitwiseAND(lit(MixMask)) * lit(MixA), 12)
    pmod(r2, lit(nBatches.toLong))
  }

  private val MixMask = 1048575L // 2^20 - 1
  private val MixA = 2654435761L // Knuth's multiplicative constant
  private val MixB = 40503L

  /** The batch-id arithmetic as engine-neutral SQL (for oracles). The `>>`
    * high-bit folds assume a NON-NEGATIVE id expression (true of the
    * oracle's vec_id); negative xxhash ids are only ever assigned through
    * [[batchId]]'s unsigned shifts.
    */
  def batchIdSql(idExpr: String, epoch: Int, nBatches: Int): String = {
    val folded = s"xor(xor($idExpr, ($idExpr >> 20)), ($idExpr >> 40))"
    s"((((($folded & $MixMask) * $MixA + ${epoch.toLong * MixB}) >> 12)" +
      s" & $MixMask) * $MixA >> 12) % $nBatches"
  }

  final case class TrainConfig(
      epochs: Int = 100, batches: Int = 8, lr: Double = 1e-3,
      beta1: Double = 0.9, beta2: Double = 0.999, adamEps: Double = 1e-8,
      patience: Int = 8, minDelta: Double = 1e-4)

  final case class EpochLog(epoch: Int, trainLoss: Double, valLoss: Double,
                            improved: Boolean)

  final case class TrainResult(w: Array[Array[Double]], b: Array[Double],
                               bestVal: Double, bestEpoch: Int,
                               log: Seq[EpochLog], stoppedEarly: Boolean)

  /** The loop's state at an epoch boundary: flat parameters `p`, Adam
    * moments `m`/`v` and step count `t`, best-checkpoint tracking, the
    * patience counter, and `side` — state the batches change besides `p`
    * (the trunk's BN running stats), which travels with the best
    * checkpoint.
    */
  private[vesc] final case class FitState[S](
      p: Array[Double], m: Array[Double], v: Array[Double], t: Long,
      nextEpoch: Int, bestVal: Double, bestEpoch: Int, bestP: Array[Double],
      bad: Int, side: S)

  private[vesc] object FitState {
    def fresh[S](p: Array[Double], side: S): FitState[S] =
      FitState(p, Array.ofDim[Double](p.length), Array.ofDim[Double](p.length),
        0L, 0, Double.PositiveInfinity, -1, p.clone(), 0, side)
  }

  /** The training loop, over a flat parameter vector. `trainDf`/`valDf`
    * need an `id long` column (the batch assignment) plus whatever
    * `batchGrad` and `valLoss` read; both are persisted for the epoch
    * passes and unpersisted before returning. `batchGrad` gives one
    * batch's gradient and loss sums at the current parameters and the
    * batch's new side state; `onEpoch` sees the state after each epoch's
    * best-restore. `start`'s arrays are updated in place. Returns the final
    * state (its `p` and `side` are the best checkpoint's), the epoch log and
    * whether patience stopped the run.
    */
  private[vesc] def fit[S](
      trainDf: DataFrame, valDf: DataFrame, cfg: TrainConfig, start: FitState[S],
      batchGrad: (DataFrame, Array[Double], S) => (SumBuf, S),
      valLoss: (DataFrame, Array[Double], S) => Double,
      onEpoch: FitState[S] => Unit): (FitState[S], Seq[EpochLog], Boolean) = {
    val p = start.p
    val m = start.m
    val v = start.v
    val n = p.length
    var t = start.t
    var side = start.side

    val cachedTrain = trainDf.persist()
    val cachedVal = valDf.persist()
    try {
      var bestVal = start.bestVal
      var bestEpoch = start.bestEpoch
      var bestP = start.bestP
      var bestSide = side
      var bad = start.bad
      var stopped = false
      val log = scala.collection.mutable.ArrayBuffer.empty[EpochLog]

      var epoch = start.nextEpoch
      while (epoch < cfg.epochs && !stopped) {
        var num = 0.0; var den = 0.0
        var bi = 0
        while (bi < cfg.batches) {
          val batch = cachedTrain.filter(batchId(col("id"), epoch, cfg.batches) === bi)
          val (g, s) = batchGrad(batch, p, side)
          side = s
          // torch parity: opt.step() runs even when the batch had no
          // labeled targets (zero gradient still moves weights through
          // momentum decay)
          val nb = math.max(g.labeled.toDouble, 1.0)
          t += 1
          val c1 = 1.0 - math.pow(cfg.beta1, t.toDouble)
          val c2 = 1.0 - math.pow(cfg.beta2, t.toDouble)
          var j = 0
          while (j < n) {
            val grad = g.g(j) / nb
            m(j) = cfg.beta1 * m(j) + (1 - cfg.beta1) * grad
            v(j) = cfg.beta2 * v(j) + (1 - cfg.beta2) * grad * grad
            p(j) -= cfg.lr * (m(j) / c1) / (math.sqrt(v(j) / c2) + cfg.adamEps)
            j += 1
          }
          num += g.loss // = batch-mean loss × labeled (model_training.py:141)
          den += g.labeled.toDouble
          bi += 1
        }
        val trainLoss = num / math.max(den, 1.0)
        val vl = valLoss(cachedVal, p, side)

        val improved = vl + cfg.minDelta < bestVal
        if (improved) {
          bestVal = vl; bestEpoch = epoch; bad = 0
          bestP = p.clone()
          bestSide = side
        } else {
          bad += 1
          if (bad >= cfg.patience) stopped = true
        }
        // reference parity: load_state_dict(best) runs INSIDE the epoch
        // loop (model_training.py:180) — the next epoch always resumes
        // from the best weights (and side state); Adam m/v is NOT reset
        System.arraycopy(bestP, 0, p, 0, n)
        side = bestSide
        log += EpochLog(epoch, trainLoss, vl, improved)
        epoch += 1
        onEpoch(FitState(p, m, v, t, epoch, bestVal, bestEpoch, bestP, bad, side))
      }
      (FitState(p, m, v, t, epoch, bestVal, bestEpoch, bestP, bad, side), log.toSeq, stopped)
    } finally {
      cachedTrain.unpersist()
      cachedVal.unpersist()
    }
  }

  /** Head training through [[fit]]. `train`/`validation` need columns
    * (id long, feat array&lt;double&gt; of size D, y array&lt;double&gt; of
    * size K, NaN = unlabeled).
    */
  def train(trainDf: DataFrame, valDf: DataFrame,
            initW: Array[Array[Double]], initB: Array[Double],
            cfg: TrainConfig = TrainConfig()): TrainResult = {
    val k = initB.length
    val d = initW(0).length
    def pass(df: DataFrame, p: Array[Double]): SumBuf =
      sumPass(df, headGrad(p, k, d), col("feat"), col("y"))
    val (end, log, stopped) = fit[Unit](trainDf, valDf, cfg,
      FitState.fresh(initW.flatten ++ initB, ()),
      (batch, p, _) => (pass(batch, p), ()),
      (df, p, _) => meanLoss(pass(df, p)),
      _ => ())
    TrainResult(Array.tabulate(k, d)((kk, j) => end.bestP(kk * d + j)),
      end.bestP.slice(k * d, k * d + k), end.bestVal, end.bestEpoch, log,
      stopped)
  }

  /** Assembled windows → (id, ride_id, window_start, `out`, y: per-class
    * label means; all-NaN when the source logs carry no labels, matching
    * model/vesc_dataset.py:149-158), where `out` is `perWindow` of the
    * window's [[CnnScorer.normalizedWindow]] — the same `mapPartitions`
    * seam as [[CnnScorer.score]], broadcast stats, no shuffle. `perWindow`
    * is made once per partition, so it can keep buffers across windows.
    * `id` is `xxhash64(ride_id, window_start)`, the batch-assignment key.
    */
  private[vesc] def modelInputs(windows: DataFrame, mean: Array[Double],
                                std: Array[Double], confCols: Seq[String],
                                hasLabels: Boolean, out: StructField)
                               (perWindow: () => Array[Array[Float]] => Any): DataFrame = {
    val sc = windows.sparkSession.sparkContext
    val bMean = sc.broadcast(mean.map(_.toFloat))
    val bStd = sc.broadcast(std.map(_.toFloat))
    val labelCols =
      if (hasLabels) confCols.map(c => col("y_" + c).cast(DoubleType))
      else confCols.map(_ => lit(Double.NaN))
    val projected = windows.select(
      col("ride_id"), col("window_start"),
      col("features"), array(labelCols: _*).as("__y"))
    val outSchema = StructType(Seq(
      StructField("ride_id", StringType),
      StructField("window_start", LongType),
      out,
      StructField("y", ArrayType(DoubleType))))
    val rows = projected.mapPartitions { it =>
      val mn = bMean.value; val sd = bStd.value
      val toValue = perWindow()
      it.map { row =>
        val cells = row.getAs[scala.collection.Seq[scala.collection.Seq[Any]]](2)
        val mat = CnnScorer.normalizedWindow(cells, mn, sd)
        Row(row.get(0), row.get(1), toValue(mat),
          row.getAs[scala.collection.Seq[Double]](3).toSeq)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    rows.withColumn("id", xxhash64(col("ride_id"), col("window_start")))
      .select("id", "ride_id", "window_start", out.name, "y")
  }
}
