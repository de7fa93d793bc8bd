package graft.vesc

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic Scala forward pass of the reference's 1-D CNN (M2/M3:
  * model/model_training.py:61-103, duplicated application/app.py:27-69):
  *
  *   Conv1d(C_in→24,k3,p1) → BN → ReLU
  *   ResBlock(24): [Conv(24→24,k3,p1) → ReLU → Conv(24→24,k3,p1) → BN → ReLU],
  *     out = relu(x + block(x))
  *   Conv1d(24→32,k3,p1) → BN → ReLU
  *   Conv1d(32→32,k3,p1,dil2) → BN → ReLU      (length shrinks by 2)
  *   Conv1d(32→64,k3,p1,dil2) → BN → ReLU      (length shrinks by 2)
  *   AdaptiveAvgPool1d(1) → Linear(64→13) → sigmoid
  *
  * Weights live in a neutral parquet table (layer, shape, data) exported
  * once from the reference checkpoint — no torch anywhere. Scoring runs as
  * `mapPartitions` over assembled windows with broadcast weights+stats:
  * embarrassingly parallel, no shuffle, ~100 KB of weights per executor.
  */
object CnnScorer {

  final case class ConvW(w: Array[Array[Array[Float]]], b: Array[Float],
                         dilation: Int, padding: Int)
  final case class BnW(gamma: Array[Float], beta: Array[Float],
                       mean: Array[Float], variance: Array[Float], eps: Float)
  final case class LinearW(w: Array[Array[Float]], b: Array[Float])

  /** All learned parameters in forward order. */
  final case class CnnWeights(
      conv1: ConvW, bn1: BnW,
      resConv1: ConvW, resConv2: ConvW, resBn: BnW,
      conv2: ConvW, bn2: BnW,
      conv3: ConvW, bn3: BnW,
      conv4: ConvW, bn4: BnW,
      head: LinearW)

  // ---- numerics (float32 like the reference; x is (C, T)) ----

  def conv1d(x: Array[Array[Float]], cw: ConvW): Array[Array[Float]] = {
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

  def batchNorm(x: Array[Array[Float]], bn: BnW): Array[Array[Float]] = {
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

  def relu(x: Array[Array[Float]]): Array[Array[Float]] =
    x.map(_.map(v => if (v > 0f) v else 0f))

  def addInPlace(a: Array[Array[Float]], b: Array[Array[Float]]): Array[Array[Float]] = {
    var c = 0
    while (c < a.length) {
      var t = 0
      while (t < a(c).length) { a(c)(t) += b(c)(t); t += 1 }
      c += 1
    }
    a
  }

  /** Convolutional trunk only: input (T, C_in) window matrix → 64-d pooled
    * feature vector (everything before the Linear head). The head trainer
    * fine-tunes on exactly these features with the trunk frozen.
    */
  def trunkPooled(window: Array[Array[Float]], wts: CnnWeights): Array[Float] = {
    // (T, C) → (C, T)
    val cIn = window(0).length
    val t = window.length
    val x0 = Array.ofDim[Float](cIn, t)
    var i = 0
    while (i < t) { var c = 0; while (c < cIn) { x0(c)(i) = window(i)(c); c += 1 }; i += 1 }

    var h = relu(batchNorm(conv1d(x0, wts.conv1), wts.bn1))
    // ResBlock: relu(x + BN(conv2(relu(conv1(x)))))
    val blk = relu(batchNorm(
      conv1d(relu(conv1d(h, wts.resConv1)), wts.resConv2), wts.resBn))
    h = relu(addInPlace(blk, h))
    h = relu(batchNorm(conv1d(h, wts.conv2), wts.bn2))
    h = relu(batchNorm(conv1d(h, wts.conv3), wts.bn3))
    h = relu(batchNorm(conv1d(h, wts.conv4), wts.bn4))

    // AdaptiveAvgPool1d(1): mean over remaining time steps
    h.map { ch =>
      var s = 0f; var j = 0
      while (j < ch.length) { s += ch(j); j += 1 }
      s / ch.length
    }
  }

  /** Full forward pass: input (T, C_in) window matrix → 13 sigmoid scores. */
  def forward(window: Array[Array[Float]], wts: CnnWeights): Array[Float] = {
    val pooled = trunkPooled(window, wts)
    // Linear + sigmoid
    wts.head.w.zipWithIndex.map { case (row, o) =>
      var acc = wts.head.b(o)
      var j = 0
      while (j < row.length) { acc += row(j) * pooled(j); j += 1 }
      (1.0 / (1.0 + math.exp(-acc.toDouble))).toFloat
    }
  }

  /** ffill-then-zero inside the window, per channel, float32 (reference
    * model/vesc_dataset.py:134-137 — author-flagged quirk, kept for parity).
    * Nulls and NaNs are both "missing".
    */
  def fillWindow(rows: scala.collection.Seq[scala.collection.Seq[Any]],
                 cIn: Int): Array[Array[Float]] = {
    val t = rows.length
    val out = Array.ofDim[Float](t, cIn)
    val lastSeen = Array.fill[Float](cIn)(Float.NaN)
    var i = 0
    while (i < t) {
      val r = rows(i)
      var c = 0
      while (c < cIn) {
        val v = r(c) match {
          case null => Float.NaN
          case d: java.lang.Double => d.toFloat
          case f: java.lang.Float => f.floatValue()
          case x => x.toString.toFloat
        }
        val filled = if (v.isNaN) lastSeen(c) else { lastSeen(c) = v; v }
        out(i)(c) = if (filled.isNaN) 0f else filled
        c += 1
      }
      i += 1
    }
    out
  }

  /** One window's model input: [[fillWindow]], then the per-channel
    * z-score `(x - mean) / std` in float32. [[score]],
    * [[TrunkTrainer.normalizedWindows]] and [[HeadTrainer.trunkFeatures]]
    * all normalize through here, so training and scoring see bit-identical
    * inputs.
    */
  def normalizedWindow(rows: scala.collection.Seq[scala.collection.Seq[Any]],
                       mean: Array[Float], std: Array[Float]): Array[Array[Float]] = {
    val mat = fillWindow(rows, mean.length)
    var i = 0
    while (i < mat.length) {
      var c = 0
      while (c < mean.length) { mat(i)(c) = (mat(i)(c) - mean(c)) / std(c); c += 1 }
      i += 1
    }
    mat
  }

  /** Score assembled windows: z-score normalize (broadcast stats), forward
    * pass, one row per window with 13 score columns.
    *
    * The per-window forward pass is a typed `Dataset.mapPartitions` with a
    * Row encoder — NOT `df.rdd` + `createDataFrame`, which would leave
    * Tungsten, box every row, and insert an analysis barrier between the
    * window assembler and the timeline postprocessing.
    */
  def score(windows: DataFrame, wts: CnnWeights,
            mean: Array[Double], std: Array[Double],
            confCols: Seq[String] = VescSchema.ConfidenceCols): DataFrame = {
    val sc = windows.sparkSession.sparkContext
    val bWts = sc.broadcast(wts)
    val bMean = sc.broadcast(mean.map(_.toFloat))
    val bStd = sc.broadcast(std.map(_.toFloat))

    val projected = windows.select("ride_id", "window_start", "t_mid", "features")
    val outSchema = StructType(
      projected.schema.fields.take(3) ++
        confCols.map(c => StructField("score_" + c.stripPrefix("cf_"), FloatType)))

    projected.mapPartitions { it =>
      val w = bWts.value; val m = bMean.value; val s = bStd.value
      it.map { row =>
        val feats = row.getAs[scala.collection.Seq[scala.collection.Seq[Any]]](3)
        val scores = forward(normalizedWindow(feats, m, s), w)
        Row.fromSeq(Seq(row.get(0), row.get(1), row.get(2)) ++ scores.toSeq)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  // ---- weight loading (neutral parquet: layer, shape, data) ----

  /** Load the reference's own `.pt` checkpoint directly (pure JVM —
    * [[TorchCheckpoint]]); the neutral-parquet path below remains for
    * pre-exported weight tables and as the golden-oracle format.
    */
  def loadCheckpoint(path: String): CnnWeights =
    fromTensors(TorchCheckpoint.stateDict(path))

  def loadWeights(spark: SparkSession, path: String): CnnWeights = {
    val rows = spark.read.parquet(path).collect()
    val tensors: Map[String, (Seq[Int], Array[Float])] = rows.map { r =>
      val name = r.getAs[String]("layer")
      val shape = r.getAs[scala.collection.Seq[Int]]("shape").toSeq
      val data = r.getAs[scala.collection.Seq[Float]]("data").toArray
      name -> (shape, data)
    }.toMap
    fromTensors(tensors)
  }

  def fromTensors(t: Map[String, (Seq[Int], Array[Float])]): CnnWeights = {
    def conv(prefix: String, dilation: Int): ConvW = {
      val (sh, d) = t(s"$prefix.weight")
      val Seq(o, i, k) = sh
      val w = Array.tabulate(o, i, k)((a, b, c) => d(a * i * k + b * k + c))
      ConvW(w, t(s"$prefix.bias")._2, dilation, padding = 1)
    }
    def bn(prefix: String): BnW =
      BnW(t(s"$prefix.weight")._2, t(s"$prefix.bias")._2,
        t(s"$prefix.running_mean")._2, t(s"$prefix.running_var")._2, 1e-5f)
    def linear(prefix: String): LinearW = {
      val (sh, d) = t(s"$prefix.weight")
      val Seq(o, i) = sh
      LinearW(Array.tabulate(o, i)((a, b) => d(a * i + b)), t(s"$prefix.bias")._2)
    }
    // PyTorch Sequential indices from the reference CNN definition
    CnnWeights(
      conv1 = conv("net.0", 1), bn1 = bn("net.1"),
      resConv1 = conv("net.3.block.0", 1),
      resConv2 = conv("net.3.block.2", 1), resBn = bn("net.3.block.3"),
      conv2 = conv("net.4", 1), bn2 = bn("net.5"),
      conv3 = conv("net.7", 2), bn3 = bn("net.8"),
      conv4 = conv("net.10", 2), bn4 = bn("net.11"),
      head = linear("head"))
  }
}
