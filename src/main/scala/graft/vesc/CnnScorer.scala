package graft.vesc

import java.util.concurrent.{ForkJoinPool, ForkJoinTask}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.{TaskContext, TaskKilledException}
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
  * Inside one task, [[scoreRanges]] spreads a ride's windows over the
  * task's thread and the JVM's common pool (`VescPipeline.analyze`).
  *
  * One forward kernel serves scoring and training: [[Trunk]] runs the
  * layer sequence over flat (C, T) float arrays, `conv1d` splits the
  * padded edge steps from a branch-free interior that accumulates four
  * output steps at once, and [[TrunkGrad]]'s backward reads the buffers a
  * [[Trunk]] leaves behind. Each output element still adds the same terms
  * in the same order as the plain loop nest, so the result is bit-exact
  * (see the kernel section below).
  */
object CnnScorer {

  final case class ConvW(w: Array[Array[Array[Float]]], b: Array[Float],
                         dilation: Int, padding: Int) {
    def cIn: Int = w(0).length
    def k: Int = w(0)(0).length
    /** Output length for an input of `t` steps. */
    def outLen(t: Int): Int = t + 2 * padding - dilation * (k - 1)
    /** `w` in the kernel's layout: w(o)(ci)(kk) at `(o · cIn + ci) · k + kk`. */
    @transient lazy val flat: Array[Float] = w.flatten.flatten
  }
  final case class BnW(gamma: Array[Float], beta: Array[Float],
                       mean: Array[Float], variance: Array[Float], eps: Float) {
    /** 1/√(var + eps) per channel, computed in double and rounded once. */
    @transient lazy val inv: Array[Float] =
      variance.map(v => (1.0 / math.sqrt(v.toDouble + eps.toDouble)).toFloat)
  }
  final case class LinearW(w: Array[Array[Float]], b: Array[Float])

  /** All learned parameters in forward order. */
  final case class CnnWeights(
      conv1: ConvW, bn1: BnW,
      resConv1: ConvW, resConv2: ConvW, resBn: BnW,
      conv2: ConvW, bn2: BnW,
      conv3: ConvW, bn3: BnW,
      conv4: ConvW, bn4: BnW,
      head: LinearW)

  // ---- the forward kernel (float32 like the reference) ----
  //
  // Activations are flat (C, T) arrays: channel c, step t at c·T + t.
  // Every output element is computed with the same float32 operations in
  // the same order as a plain nested loop over (o, t, ci, kk) — conv:
  // bias, then w·x for (ci, kk) ascending with out-of-range taps skipped;
  // BN: ((x − mean)·inv)·γ + β; ReLU: x > 0 ? x : 0 — and the JVM neither
  // reassociates float arithmetic nor fuses a multiply and an add, so
  // every activation, score and gradient is bit-identical to that loop
  // nest (CnnKernelSpec keeps it as the oracle).

  /** Conv layer over flat activations: `x` is (cIn, t), `out` receives
    * (cOut, tOut) and tOut is returned. For 3-tap filters (every layer of
    * this model) output channels go in pairs and steps whose taps all fall
    * inside [0, t) go four at a time, one accumulator per (channel, step):
    * a weight load serves four outputs, an input load two, and the eight
    * chains of adds overlap. Padded edge steps, the remainder and other
    * filter sizes take [[edgeStep]]. Either way an output adds the same
    * terms in the same order.
    */
  def conv1d(x: Array[Float], t: Int, cw: ConvW, out: Array[Float]): Int = {
    val w = cw.flat
    val cIn = cw.cIn; val k = cw.k; val d = cw.dilation; val p = cw.padding
    val cOut = cw.b.length
    val tOut = cw.outLen(t)
    val hi = t + p - d * (k - 1) // steps in [p, hi) read no padding
    var o = 0
    while (o < cOut) {
      val o1 = math.min(o + 1, cOut - 1) // an odd last channel pairs with itself
      val wA = o * cIn * k; val wB = o1 * cIn * k
      val bA = cw.b(o); val bB = cw.b(o1)
      var ti = 0
      while (ti < tOut) {
        if (k == 3 && ti >= p && ti + 4 <= hi) {
          var a0 = bA; var a1 = bA; var a2 = bA; var a3 = bA
          var b0 = bB; var b1 = bB; var b2 = bB; var b3 = bB
          var ci = 0
          while (ci < cIn) {
            var kk = 0
            while (kk < 3) { // a constant trip count: the JIT unrolls it
              val u = w(wA + ci * 3 + kk); val v = w(wB + ci * 3 + kk)
              val s = ci * t + ti - p + kk * d
              val x0 = x(s); val x1 = x(s + 1); val x2 = x(s + 2); val x3 = x(s + 3)
              a0 += u * x0; a1 += u * x1; a2 += u * x2; a3 += u * x3
              b0 += v * x0; b1 += v * x1; b2 += v * x2; b3 += v * x3
              kk += 1
            }
            ci += 1
          }
          val oa = o * tOut + ti; val ob = o1 * tOut + ti
          out(oa) = a0; out(oa + 1) = a1; out(oa + 2) = a2; out(oa + 3) = a3
          out(ob) = b0; out(ob + 1) = b1; out(ob + 2) = b2; out(ob + 3) = b3
          ti += 4
        } else {
          out(o * tOut + ti) = edgeStep(x, t, cw, wA, bA, ti)
          out(o1 * tOut + ti) = edgeStep(x, t, cw, wB, bB, ti)
          ti += 1
        }
      }
      o += 2
    }
    tOut
  }

  /** One output step that reads padding: only the taps kk in
    * [kLo, kHi), those landing inside [0, t), are added.
    */
  private def edgeStep(x: Array[Float], t: Int, cw: ConvW, wo: Int, bias: Float,
                       ti: Int): Float = {
    val w = cw.flat
    val k = cw.k; val d = cw.dilation; val s0 = ti - cw.padding
    var kLo = 0
    while (kLo < k && s0 + kLo * d < 0) kLo += 1
    var kHi = k
    while (kHi > kLo && s0 + (kHi - 1) * d >= t) kHi -= 1
    var acc = bias
    var ci = 0
    while (ci < cw.cIn) {
      var kk = kLo
      while (kk < kHi) {
        acc += w(wo + ci * k + kk) * x(ci * t + s0 + kk * d)
        kk += 1
      }
      ci += 1
    }
    acc
  }

  private def relu(v: Float): Float = if (v > 0f) v else 0f

  /** out = ReLU(BN(pre)) elementwise over flat (C, t). */
  private def bnRelu(pre: Array[Float], t: Int, bn: BnW, out: Array[Float]): Unit = {
    val inv = bn.inv
    var c = 0
    while (c < bn.gamma.length) {
      val m = bn.mean(c); val iv = inv(c); val g = bn.gamma(c); val b = bn.beta(c)
      var i = c * t
      val end = i + t
      while (i < end) { out(i) = relu((pre(i) - m) * iv * g + b); i += 1 }
      c += 1
    }
  }

  /** The trunk's one layer sequence, over buffers that are reused from
    * window to window (reallocated only when the window length changes).
    * After [[run]] the buffers hold every activation — the cache that
    * [[TrunkGrad]]'s backward reads: conv outputs before BN (`c1`, `r2`,
    * `c2`, `c3`, `c4`) and layer outputs after ReLU, whose sign is the
    * sign of the pre-ReLU value. Not thread-safe: one per worker.
    */
  final class Trunk(val wts: CnnWeights) {
    /** Input and layer lengths: x0 (t0), conv1 and the residual block
      * (t1), conv2 (t2), conv3 (t3), conv4 (t4).
      */
    private[vesc] var t0, t1, t2, t3, t4 = -1
    private[vesc] var x0, c1, h1, r1, r2, blk, h2, c2, h3, c3, h4, c4, h5: Array[Float] = _
    val pooled = new Array[Float](wts.conv4.b.length)

    private def alloc(t: Int): Unit = {
      t0 = t
      t1 = wts.conv1.outLen(t0); t2 = wts.conv2.outLen(t1)
      t3 = wts.conv3.outLen(t2); t4 = wts.conv4.outLen(t3)
      def buf(cw: ConvW, len: Int) = new Array[Float](cw.b.length * len)
      x0 = new Array[Float](wts.conv1.cIn * t0)
      c1 = buf(wts.conv1, t1); h1 = buf(wts.conv1, t1)
      r1 = buf(wts.resConv1, t1); r2 = buf(wts.resConv2, t1)
      blk = buf(wts.resConv2, t1); h2 = buf(wts.resConv2, t1)
      c2 = buf(wts.conv2, t2); h3 = buf(wts.conv2, t2)
      c3 = buf(wts.conv3, t3); h4 = buf(wts.conv3, t3)
      c4 = buf(wts.conv4, t4); h5 = buf(wts.conv4, t4)
    }

    /** Input (T, C_in) window matrix → pooled feature vector (the
      * `pooled` buffer, overwritten by the next call).
      */
    def run(window: Array[Array[Float]]): Array[Float] = {
      val cIn = wts.conv1.cIn
      require(window(0).length == cIn, s"window has ${window(0).length} channels, the model reads $cIn")
      if (window.length != t0) alloc(window.length)
      for (i <- 0 until t0; c <- 0 until cIn) x0(c * t0 + i) = window(i)(c)
      conv1d(x0, t0, wts.conv1, c1); bnRelu(c1, t1, wts.bn1, h1)
      // ResBlock: relu(x + BN(conv2(relu(conv1(x)))))
      conv1d(h1, t1, wts.resConv1, r1)
      for (i <- r1.indices) r1(i) = relu(r1(i))
      conv1d(r1, t1, wts.resConv2, r2); bnRelu(r2, t1, wts.resBn, blk)
      for (i <- h2.indices) h2(i) = relu(blk(i) + h1(i))
      conv1d(h2, t1, wts.conv2, c2); bnRelu(c2, t2, wts.bn2, h3)
      conv1d(h3, t2, wts.conv3, c3); bnRelu(c3, t3, wts.bn3, h4)
      conv1d(h4, t3, wts.conv4, c4); bnRelu(c4, t4, wts.bn4, h5)
      // AdaptiveAvgPool1d(1): mean over the remaining steps
      for (c <- pooled.indices) {
        var s = 0f
        for (i <- c * t4 until (c + 1) * t4) s += h5(i)
        pooled(c) = s / t4
      }
      pooled
    }
  }

  /** Linear head in float32: b(o), then w(o)(j)·pooled(j) for j ascending. */
  def logits(pooled: Array[Float], head: LinearW): Array[Float] =
    Array.tabulate(head.b.length) { o =>
      val row = head.w(o)
      var acc = head.b(o)
      var j = 0
      while (j < row.length) { acc += row(j) * pooled(j); j += 1 }
      acc
    }

  def sigmoid(z: Float): Float = (1.0 / (1.0 + math.exp(-z.toDouble))).toFloat

  /** One conv layer on a nested (C, T) matrix, through the kernel. */
  def conv1d(x: Array[Array[Float]], cw: ConvW): Array[Array[Float]] = {
    val t = x(0).length
    val out = new Array[Float](cw.b.length * cw.outLen(t))
    val tOut = conv1d(x.flatten, t, cw, out)
    out.grouped(tOut).toArray
  }

  /** Convolutional trunk only: input (T, C_in) window matrix → 64-d pooled
    * feature vector (everything before the Linear head). The head trainer
    * fine-tunes on exactly these features with the trunk frozen.
    */
  def trunkPooled(window: Array[Array[Float]], wts: CnnWeights): Array[Float] =
    new Trunk(wts).run(window)

  /** Full forward pass: input (T, C_in) window matrix → 13 sigmoid scores. */
  def forward(window: Array[Array[Float]], wts: CnnWeights): Array[Float] =
    logits(trunkPooled(window, wts), wts.head).map(sigmoid)

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
    * z-score `(x - mean) / std` in float32. [[score]] and the trainers'
    * [[HeadTrainer.modelInputs]] both normalize through here, so training
    * and scoring see bit-identical inputs.
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
    * pass, one row per window with 13 score columns. Each partition reuses
    * one [[Trunk]]'s buffers for all its windows.
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
      val trunk = new Trunk(w)
      it.map { row =>
        val feats = row.getAs[scala.collection.Seq[scala.collection.Seq[Any]]](3)
        val scores = logits(trunk.run(normalizedWindow(feats, m, s)), w.head).map(sigmoid)
        Row.fromSeq(Seq(row.get(0), row.get(1), row.get(2)) ++ scores.toSeq)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** One range per core: the calling thread and each worker of the JVM's
    * common pool. The pool is shared JVM-wide, so concurrent passes share
    * its workers rather than each adding more.
    */
  def coreRanges: Int = ForkJoinPool.getCommonPoolParallelism + 1

  /** The 13 sigmoid scores of windows `0 until n`, scored in `ranges`
    * contiguous index ranges: the first on the calling thread, the others
    * as tasks of the common pool. `input(i)` builds window i's model input
    * (it is called from every range at once). Each range runs its own
    * [[Trunk]] and each window writes its scores at its own index, so the
    * result is bit-identical to one sequential [[Trunk]] over the windows
    * in order, for any number of ranges.
    *
    * The first exception of any range is rethrown here once every range
    * has stopped; the other ranges stop at their next window. Inside a
    * Spark task, the task thread's `TaskContext` is read before the fan-out
    * (the pool's workers have none), every range stops at its next window
    * once the task is killed, and the kill is rethrown here.
    */
  def scoreRanges(wts: CnnWeights, n: Int, ranges: Int)(
      input: Int => Array[Array[Float]]): Array[Array[Float]] = {
    val out = new Array[Array[Float]](n)
    val task = TaskContext.get() // null outside a Spark task
    val failure = new AtomicReference[Throwable]
    def range(r: Int): Unit = try {
      val trunk = new Trunk(wts)
      var i = (n.toLong * r / ranges).toInt
      val end = (n.toLong * (r + 1) / ranges).toInt
      while (i < end && failure.get == null && (task == null || !task.isInterrupted())) {
        out(i) = logits(trunk.run(input(i)), wts.head).map(sigmoid)
        i += 1
      }
    } catch { case t: Throwable => failure.compareAndSet(null, t) }
    val workers = (1 until ranges).map { r =>
      ForkJoinTask.adapt(new Runnable { def run(): Unit = range(r) }).fork()
    }
    range(0)
    workers.foreach(_.join())
    Option(failure.get).foreach(throw _)
    if (task != null && task.isInterrupted()) throw new TaskKilledException
    out
  }

  // ---- weight loading (neutral parquet: layer, shape, data) ----

  /** Load the reference's own `.pt` checkpoint directly (pure JVM —
    * [[TorchCheckpoint]]); the neutral-parquet path below remains for
    * pre-exported weight tables and as the golden-oracle format.
    */
  def loadCheckpoint(path: String): CnnWeights =
    fromTensors(TorchCheckpoint.stateDict(path))

  /** The neutral weight table's columns: one row per tensor. */
  val WeightSchema: StructType = StructType(Seq(
    StructField("layer", StringType), StructField("shape", ArrayType(IntegerType)),
    StructField("data", ArrayType(FloatType))))

  /** Read with [[WeightSchema]], so the load is one Spark job (no footer
    * inference).
    */
  def loadWeights(spark: SparkSession, path: String): CnnWeights = {
    val rows = spark.read.schema(WeightSchema).parquet(path).collect()
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
