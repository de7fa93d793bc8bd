package graft.vesc

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native analog of the reference training loop (M6 batching + M7
  * early stopping: model/model_training.py:109-180), scoped to the model's
  * Linear head with the convolutional trunk frozen (transfer-learning
  * fine-tune). Full conv backprop stays out of engine scope (SURVEY §8);
  * this gives the loop itself — epochs, deterministic mini-batches,
  * masked-BCE gradients, Adam, patience-based early stopping with
  * best-weights checkpointing — a faithful distributed implementation.
  *
  * Architecture is the classic data-parallel pattern (how MLlib's own
  * optimizers are built): the dataset stays distributed and CACHED; each
  * mini-batch computes its loss+gradient as ONE aggregation with map-side
  * partial combine ([[HeadTrainer.GradAgg]] — each task reduces its rows
  * into a single (K·D+K)-double buffer, so the shuffle per batch moves
  * O(tasks · K·D) bytes, never rows); the driver holds the O(K·D)
  * optimizer state and applies the Adam update. At 100 TB of raw telemetry
  * the pooled features are ~0.5 KB/window — the cached feature table is
  * ~4 orders of magnitude smaller than the raw scan, which is why
  * materializing it once (here: persist; on a cluster: a checkpoint table)
  * is the scale-correct design.
  *
  * Loss/optimizer semantics match the reference exactly:
  *  - masked BCE-with-logits, mean over labeled (non-NaN) targets in the
  *    batch (model_training.py:43-50), in the numerically stable form
  *    `max(z,0) − z·y + log1p(exp(−|z|))`;
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

  /** Partial sums of one batch: flattened ∂L/∂W (K·D), ∂L/∂b (K), the
    * summed element losses, and the labeled-target count. All four merge
    * element-wise, so the aggregation is associative and map-side
    * combinable.
    */
  final case class GradBuf(gw: Array[Double], gb: Array[Double],
                           loss: Double, labeled: Long)

  /** One-pass masked-BCE loss + gradient for a fixed (W, b) over rows of
    * (features D, targets K with NaN = unlabeled). Closes over the current
    * weights — ~K·D doubles shipped with the task closure each batch.
    */
  class GradAgg(w: Array[Array[Double]], b: Array[Double])
      extends Aggregator[(Seq[Double], Seq[Double]), GradBuf, GradBuf] {
    private val k = b.length
    private val d = w(0).length

    override def zero: GradBuf =
      GradBuf(Array.ofDim[Double](k * d), Array.ofDim[Double](k), 0.0, 0L)

    override def reduce(buf: GradBuf, row: (Seq[Double], Seq[Double])): GradBuf = {
      val (x, y) = row
      var loss = buf.loss
      var labeled = buf.labeled
      var kk = 0
      while (kk < k) {
        val yk = y(kk)
        if (!yk.isNaN) {
          var z = b(kk)
          val wk = w(kk)
          var j = 0
          while (j < d) { z += wk(j) * x(j); j += 1 }
          val g = 1.0 / (1.0 + math.exp(-z)) - yk
          loss += math.max(z, 0.0) - z * yk + math.log1p(math.exp(-math.abs(z)))
          buf.gb(kk) += g
          j = 0
          while (j < d) { buf.gw(kk * d + j) += g * x(j); j += 1 }
          labeled += 1L
        }
        kk += 1
      }
      GradBuf(buf.gw, buf.gb, loss, labeled)
    }

    override def merge(a: GradBuf, c: GradBuf): GradBuf = {
      var i = 0
      while (i < a.gw.length) { a.gw(i) += c.gw(i); i += 1 }
      i = 0
      while (i < a.gb.length) { a.gb(i) += c.gb(i); i += 1 }
      GradBuf(a.gw, a.gb, a.loss + c.loss, a.labeled + c.labeled)
    }

    override def finish(r: GradBuf): GradBuf = r
    override def bufferEncoder: ExpressionEncoder[GradBuf] = ExpressionEncoder[GradBuf]()
    override def outputEncoder: ExpressionEncoder[GradBuf] = ExpressionEncoder[GradBuf]()
  }

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

  /** Same assignment for a local replica (parity tests). */
  def batchIdLocal(id: Long, epoch: Int, nBatches: Int): Long = {
    val folded = id ^ (id >>> 20) ^ (id >>> 40)
    val r1 = ((folded & MixMask) * MixA + epoch.toLong * MixB) >> 12
    val r2 = ((r1 & MixMask) * MixA) >> 12
    val v = r2 % nBatches
    if (v < 0) v + nBatches else v
  }

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

  /** Loss-only evaluation of (W, b) over a feature table — one aggregation
    * job (the validation pass of each epoch).
    */
  def evalLoss(df: DataFrame, w: Array[Array[Double]], b: Array[Double]): Double = {
    val buf = gradPass(df, w, b)
    buf.loss / math.max(buf.labeled.toDouble, 1.0)
  }

  private def gradPass(df: DataFrame, w: Array[Array[Double]], b: Array[Double]): GradBuf = {
    val agg = udaf(new GradAgg(w, b))
    val r = df.agg(agg(col("feat"), col("y")).as("g")).head()
    val g = r.getStruct(0)
    GradBuf(g.getAs[scala.collection.Seq[Double]]("gw").toArray,
      g.getAs[scala.collection.Seq[Double]]("gb").toArray,
      g.getAs[Double]("loss"), g.getAs[Long]("labeled"))
  }

  /** The training loop. `train`/`validation` need columns
    * (id long, feat array&lt;double&gt; of size D, y array&lt;double&gt; of
    * size K, NaN = unlabeled). Both are persisted for the epoch passes and
    * unpersisted before returning.
    */
  def train(trainDf: DataFrame, valDf: DataFrame,
            initW: Array[Array[Double]], initB: Array[Double],
            cfg: TrainConfig = TrainConfig()): TrainResult = {
    val k = initB.length
    val d = initW(0).length
    val w = initW.map(_.clone())
    val b = initB.clone()
    // Adam state
    val mW = Array.ofDim[Double](k, d); val vW = Array.ofDim[Double](k, d)
    val mB = Array.ofDim[Double](k); val vB = Array.ofDim[Double](k)
    var t = 0

    val cachedTrain = trainDf.persist()
    val cachedVal = valDf.persist()
    try {
      var bestVal = Double.PositiveInfinity
      var bestEpoch = -1
      var bestW = w.map(_.clone()); var bestB = b.clone()
      var bad = 0
      var stopped = false
      val log = scala.collection.mutable.ArrayBuffer.empty[EpochLog]

      var epoch = 0
      while (epoch < cfg.epochs && !stopped) {
        var num = 0.0; var den = 0.0
        var bi = 0
        while (bi < cfg.batches) {
          val batch = cachedTrain.filter(batchId(col("id"), epoch, cfg.batches) === bi)
          val g = gradPass(batch, w, b)
          // torch parity: opt.step() runs even when the batch had no
          // labeled targets (zero gradient still moves weights through
          // momentum decay)
          val n = math.max(g.labeled.toDouble, 1.0)
          t += 1
          val c1 = 1.0 - math.pow(cfg.beta1, t)
          val c2 = 1.0 - math.pow(cfg.beta2, t)
          var kk = 0
          while (kk < k) {
            var j = 0
            while (j < d) {
              val grad = g.gw(kk * d + j) / n
              mW(kk)(j) = cfg.beta1 * mW(kk)(j) + (1 - cfg.beta1) * grad
              vW(kk)(j) = cfg.beta2 * vW(kk)(j) + (1 - cfg.beta2) * grad * grad
              w(kk)(j) -= cfg.lr * (mW(kk)(j) / c1) / (math.sqrt(vW(kk)(j) / c2) + cfg.adamEps)
              j += 1
            }
            val gradB = g.gb(kk) / n
            mB(kk) = cfg.beta1 * mB(kk) + (1 - cfg.beta1) * gradB
            vB(kk) = cfg.beta2 * vB(kk) + (1 - cfg.beta2) * gradB * gradB
            b(kk) -= cfg.lr * (mB(kk) / c1) / (math.sqrt(vB(kk) / c2) + cfg.adamEps)
            kk += 1
          }
          num += g.loss // = batch-mean loss × labeled (model_training.py:141)
          den += g.labeled.toDouble
          bi += 1
        }
        val trainLoss = num / math.max(den, 1.0)
        val valLoss = evalLoss(cachedVal, w, b)

        val improved = valLoss + cfg.minDelta < bestVal
        if (improved) {
          bestVal = valLoss; bestEpoch = epoch; bad = 0
          bestW = w.map(_.clone()); bestB = b.clone()
        } else {
          bad += 1
          if (bad >= cfg.patience) stopped = true
        }
        // reference parity: load_state_dict(best) runs INSIDE the epoch
        // loop (model_training.py:180) — the next epoch always resumes
        // from the best weights; Adam m/v state is NOT reset
        var kk = 0
        while (kk < k) {
          System.arraycopy(bestW(kk), 0, w(kk), 0, d)
          kk += 1
        }
        System.arraycopy(bestB, 0, b, 0, k)
        log += EpochLog(epoch, trainLoss, valLoss, improved)
        epoch += 1
      }
      TrainResult(bestW, bestB, bestVal, bestEpoch, log.toSeq, stopped)
    } finally {
      cachedTrain.unpersist()
      cachedVal.unpersist()
    }
  }

  /** Frozen-trunk feature extraction: assembled windows → (ride_id,
    * window_start, id, feat: 64-d pooled trunk output, y: per-class label
    * means; all-NaN when the source logs carry no labels, matching
    * model/vesc_dataset.py:149-158). Same `mapPartitions` seam as
    * [[CnnScorer.score]] — broadcast weights, no shuffle.
    */
  def trunkFeatures(windows: DataFrame, wts: CnnScorer.CnnWeights,
                    mean: Array[Double], std: Array[Double],
                    confCols: Seq[String] = VescSchema.ConfidenceCols,
                    hasLabels: Boolean = true): DataFrame = {
    val sc = windows.sparkSession.sparkContext
    val bWts = sc.broadcast(wts)
    val bMean = sc.broadcast(mean.map(_.toFloat))
    val bStd = sc.broadcast(std.map(_.toFloat))
    val nClasses = confCols.length

    val labelCols =
      if (hasLabels) confCols.map(c => col("y_" + c).cast("double"))
      else confCols.map(_ => lit(Double.NaN))
    val projected = windows.select(
      col("ride_id"), col("window_start"),
      col("features"), array(labelCols: _*).as("__y"))

    val outSchema = StructType(Seq(
      StructField("ride_id", StringType),
      StructField("window_start", LongType),
      StructField("feat", ArrayType(DoubleType)),
      StructField("y", ArrayType(DoubleType))))

    val feats = projected.mapPartitions { it =>
      val wv = bWts.value; val m = bMean.value; val s = bStd.value
      it.map { row =>
        val cells = row.getAs[scala.collection.Seq[scala.collection.Seq[Any]]](2)
        val mat = CnnScorer.normalizedWindow(cells, m, s)
        val pooled = CnnScorer.trunkPooled(mat, wv).map(_.toDouble).toSeq
        val y = row.getAs[scala.collection.Seq[Double]](3).toSeq
        Row(row.get(0), row.get(1), pooled, y)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))

    feats.withColumn("id", xxhash64(col("ride_id"), col("window_start")))
      .select("id", "ride_id", "window_start", "feat", "y")
  }
}
