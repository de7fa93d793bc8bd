package graft.vesc

import CnnScorer.{BnW, CnnWeights, ConvW, LinearW, Trunk}

/** Full-network backpropagation for the reference CNN (M7 extension:
  * model/model_training.py:61-180): per-window gradient of the masked BCE
  * loss with respect to EVERY trainable tensor — all conv weights/biases,
  * all BatchNorm γ/β, and the linear head.
  *
  * Two BatchNorm modes, matching the two training recipes:
  *
  *  - '''frozen stats''' (running mean/var from the checkpoint; γ/β still
  *    learned) — the fine-tuning recipe. Per-row gradients are exactly
  *    independent, so the whole batch gradient is ONE map-side-combinable
  *    aggregation ([[TrunkTrainer.gradPass]], a [[HeadTrainer.SumAgg]]).
  *  - '''batch statistics''' (train-mode BN, the reference's from-scratch
  *    recipe, model/model_training.py:76-103). Batch statistics couple
  *    the rows of a mini-batch in both the forward (through μ/σ²) and the
  *    backward (through dμ/dx, dσ²/dx), so the exact distributed shape is
  *    SyncBatchNorm's: one bounded synchronization per BN layer per
  *    direction plus a final gradient pass — see the train-mode section
  *    below and [[TrunkTrainer.gradPassBn]].
  *
  * Numerics: the forward IS [[CnnScorer]]'s — one [[CnnScorer.Trunk]]
  * per row, whose flat (C, T) float32 buffers (conv outputs before BN,
  * layer outputs after ReLU) are the activation cache the backward reads;
  * a pre-ReLU sign is read off the post-ReLU value. The backward indexes
  * the same flat layout, (c, t) at c·T + t, and accumulates in double in
  * the same (o, t, ci, kk) order as the plain nested loops, so gradients
  * are bit-identical to them. CnnKernelSpec pins the forward
  * bit-for-bit against the nested-array oracle; TrunkTrainerSpec verifies
  * the analytic gradient against central finite differences of an
  * independent double-precision forward replica.
  */
object TrunkGrad {

  /** Flattened parameter layout: (name, length) in canonical order. */
  def blockSpec(wts: CnnWeights): Seq[(String, Int)] = {
    def convLen(c: ConvW) = c.w.length * c.w(0).length * c.w(0)(0).length
    Seq(
      "conv1.w" -> convLen(wts.conv1), "conv1.b" -> wts.conv1.b.length,
      "bn1.g" -> wts.bn1.gamma.length, "bn1.b" -> wts.bn1.beta.length,
      "res1.w" -> convLen(wts.resConv1), "res1.b" -> wts.resConv1.b.length,
      "res2.w" -> convLen(wts.resConv2), "res2.b" -> wts.resConv2.b.length,
      "resbn.g" -> wts.resBn.gamma.length, "resbn.b" -> wts.resBn.beta.length,
      "conv2.w" -> convLen(wts.conv2), "conv2.b" -> wts.conv2.b.length,
      "bn2.g" -> wts.bn2.gamma.length, "bn2.b" -> wts.bn2.beta.length,
      "conv3.w" -> convLen(wts.conv3), "conv3.b" -> wts.conv3.b.length,
      "bn3.g" -> wts.bn3.gamma.length, "bn3.b" -> wts.bn3.beta.length,
      "conv4.w" -> convLen(wts.conv4), "conv4.b" -> wts.conv4.b.length,
      "bn4.g" -> wts.bn4.gamma.length, "bn4.b" -> wts.bn4.beta.length,
      "head.w" -> wts.head.w.length * wts.head.w(0).length,
      "head.b" -> wts.head.b.length)
  }

  def nParams(wts: CnnWeights): Int = blockSpec(wts).map(_._2).sum

  /** Weights → flat double vector in [[blockSpec]] order. */
  def flatten(wts: CnnWeights): Array[Double] = {
    val out = Array.ofDim[Double](nParams(wts))
    var i = 0
    def conv(c: ConvW): Unit = {
      c.w.foreach(_.foreach(_.foreach { v => out(i) = v; i += 1 }))
      c.b.foreach { v => out(i) = v; i += 1 }
    }
    def bn(b: BnW): Unit = {
      b.gamma.foreach { v => out(i) = v; i += 1 }
      b.beta.foreach { v => out(i) = v; i += 1 }
    }
    conv(wts.conv1); bn(wts.bn1)
    conv(wts.resConv1); conv(wts.resConv2); bn(wts.resBn)
    conv(wts.conv2); bn(wts.bn2)
    conv(wts.conv3); bn(wts.bn3)
    conv(wts.conv4); bn(wts.bn4)
    wts.head.w.foreach(_.foreach { v => out(i) = v; i += 1 })
    wts.head.b.foreach { v => out(i) = v; i += 1 }
    out
  }

  /** Flat double vector → weights (float32), shapes taken from `like`;
    * BN running stats are carried over unchanged (frozen).
    */
  def unflatten(flat: Array[Double], like: CnnWeights): CnnWeights = {
    var i = 0
    def conv(c: ConvW): ConvW = {
      val w = c.w.map(_.map(_.map { _ => val v = flat(i).toFloat; i += 1; v }))
      val b = c.b.map { _ => val v = flat(i).toFloat; i += 1; v }
      ConvW(w, b, c.dilation, c.padding)
    }
    def bn(b: BnW): BnW = {
      val g = b.gamma.map { _ => val v = flat(i).toFloat; i += 1; v }
      val bt = b.beta.map { _ => val v = flat(i).toFloat; i += 1; v }
      BnW(g, bt, b.mean, b.variance, b.eps)
    }
    val c1 = conv(like.conv1); val b1 = bn(like.bn1)
    val r1 = conv(like.resConv1); val r2 = conv(like.resConv2); val rb = bn(like.resBn)
    val c2 = conv(like.conv2); val b2 = bn(like.bn2)
    val c3 = conv(like.conv3); val b3 = bn(like.bn3)
    val c4 = conv(like.conv4); val b4 = bn(like.bn4)
    val hw = like.head.w.map(_.map { _ => val v = flat(i).toFloat; i += 1; v })
    val hb = like.head.b.map { _ => val v = flat(i).toFloat; i += 1; v }
    CnnWeights(c1, b1, r1, r2, rb, c2, b2, c3, b3, c4, b4, LinearW(hw, hb))
  }

  // ---- forward: the scorer's kernel, whose buffers are the cache ----

  private def forwardCached(window: Array[Array[Float]], wts: CnnWeights): Trunk = {
    val c = new Trunk(wts); c.run(window); c
  }

  private def logits(c: Trunk): Array[Double] =
    CnnScorer.logits(c.pooled, c.wts.head).map(_.toDouble)

  // ---- backward (double accumulation, flat (C, T) layout like the forward) ----

  /** dL/dInput of a conv layer whose (C_in, t) input was `x`; `dy` is
    * (C_out, tOut), the result (C_in, t). With `grad` non-null dW/db also
    * accumulate into it from `off`; the moment passes pass null, they only
    * propagate dy downward.
    */
  private def convBackward(x: Array[Float], t: Int, cw: ConvW, dy: Array[Double],
                           grad: Array[Double], off: Int): Array[Double] = {
    val cOut = cw.b.length
    val cIn = cw.cIn
    val k = cw.k
    val w = cw.flat
    val tOut = cw.outLen(t)
    val dx = new Array[Double](cIn * t)
    val acc = grad != null
    val bOff = off + cOut * cIn * k
    var o = 0
    while (o < cOut) {
      var ti = 0
      while (ti < tOut) {
        val d = dy(o * tOut + ti)
        if (d != 0.0) {
          if (acc) grad(bOff + o) += d
          var ci = 0
          while (ci < cIn) {
            val wi = (o * cIn + ci) * k
            var kk = 0
            while (kk < k) {
              val src = ti - cw.padding + kk * cw.dilation
              if (src >= 0 && src < t) {
                if (acc) grad(off + wi + kk) += d * x(ci * t + src)
                dx(ci * t + src) += w(wi + kk) * d
              }
              kk += 1
            }
            ci += 1
          }
        }
        ti += 1
      }
      o += 1
    }
    dx
  }

  /** Frozen-stats BN backward: dγ/dβ accumulate into `grad`, returns dx. */
  private def bnBackward(xPre: Array[Float], t: Int, bn: BnW,
                         dy: Array[Double],
                         grad: Array[Double], off: Int): Array[Double] = {
    val cN = bn.gamma.length
    val dx = new Array[Double](cN * t)
    val gOff = off
    val bOff = off + cN
    var c = 0
    while (c < cN) {
      val inv = 1.0 / math.sqrt(bn.variance(c).toDouble + bn.eps.toDouble)
      val g = bn.gamma(c).toDouble
      val m = bn.mean(c).toDouble
      var i = c * t
      while (i < (c + 1) * t) {
        val d = dy(i)
        grad(gOff + c) += d * (xPre(i) - m) * inv
        grad(bOff + c) += d
        dx(i) = d * inv * g
        i += 1
      }
      c += 1
    }
    dx
  }

  /** dy masked by the sign of the pre-ReLU activation, read from the
    * post-ReLU one (x > 0 exactly when relu(x) > 0).
    */
  private def reluBackward(post: Array[Float], dy: Array[Double]): Array[Double] =
    Array.tabulate(dy.length)(i => if (post(i) > 0f) dy(i) else 0.0)

  /** The pooled gradient spread over the last layer's t4 steps. */
  private def unpool(dPooled: Array[Double], t4: Int): Array[Double] =
    Array.tabulate(dPooled.length * t4)(i => dPooled(i / t4) / t4)

  /** Residual join h2 = relu(h1 + blk): dh1 = skip path + through-block path. */
  private def addGrad(a: Array[Double], b: Array[Double]): Array[Double] =
    Array.tabulate(a.length)(i => a(i) + b(i))

  /** Forward-only masked-BCE loss of one row: the same cached forward and
    * [[bceDz]] as [[rowGradient]] (per-row loss bit-identical) with no
    * backward pass and no gradient buffer — the validation-eval path,
    * ~3× cheaper than running backprop just to discard the gradient.
    */
  def rowLoss(window: Array[Array[Float]], y: Array[Double],
              wts: CnnWeights): (Double, Long) = {
    val (loss, labeled, _) = bceDz(logits(forwardCached(window, wts)), y)
    (loss, labeled)
  }

  // ---- train-mode (batch-statistics) BatchNorm ----
  //
  // The reference trains from scratch with train-mode BN
  // (model/model_training.py:76-103,115-177): normalization uses the
  // CURRENT BATCH's per-channel mean/biased-variance, which couples the
  // rows of a batch in both directions — forward through the stats,
  // backward through d(stats)/d(x). The exact distributed shape is
  // SyncBatchNorm's: one synchronization per BN layer per batch on the
  // way down (stats) and one on the way up (the Σdy / Σdy·x̂ moments the
  // train-mode backward needs), plus a final gradient pass —
  // 2·L+1 = 11 bounded aggregations per batch for this net's 5 BN
  // layers. [[TrunkTrainer.gradPassBn]] drives the phases; the helpers
  // below are the per-row kernels. (A cluster implementation would keep
  // per-row activations resident across the syncs — barrier stage +
  // task-local state — making each sync an O(channels) all-reduce; here
  // each pass recomputes its forward, trading idempotent-task safety for
  // ~L× compute on the trunk, still per-batch-bounded.)
  //
  // Frozen-stats mode above remains the fine-tuning default; batch mode
  // closes the last semantic gap with the reference trainer.

  /** BN layers in forward-dependency order: the batch stats of layer k
    * depend on the resolved stats of layers before it.
    */
  val BnOrder: Seq[String] = Seq("bn1", "resbn", "bn2", "bn3", "bn4")

  /** Batch moments of one BN layer needed by the train-mode backward:
    * per-channel Σdy and Σdy·x̂ over the whole batch, and the element
    * count m (= rows · T of that layer).
    */
  final case class BnMom(sumDy: Array[Double], sumDyXhat: Array[Double], m: Long)

  def bnOf(wts: CnnWeights, layer: String): BnW = layer match {
    case "bn1" => wts.bn1
    case "resbn" => wts.resBn
    case "bn2" => wts.bn2
    case "bn3" => wts.bn3
    case "bn4" => wts.bn4
  }

  /** Weights with the given layers' BN mean/variance slots replaced by
    * batch statistics — the forward then IS the train-mode forward for
    * those layers, through the unchanged [[CnnScorer.Trunk]] kernel.
    */
  def withBnStats(wts: CnnWeights,
                  stats: Map[String, (Array[Float], Array[Float])]): CnnWeights = {
    def sub(name: String, bn: BnW): BnW = stats.get(name)
      .map { case (m, v) => BnW(bn.gamma, bn.beta, m, v, bn.eps) }
      .getOrElse(bn)
    wts.copy(bn1 = sub("bn1", wts.bn1), resBn = sub("resbn", wts.resBn),
      bn2 = sub("bn2", wts.bn2), bn3 = sub("bn3", wts.bn3),
      bn4 = sub("bn4", wts.bn4))
  }

  /** `layer`'s pre-BN input (the conv output) and its length. */
  private def preActOf(c: Trunk, layer: String): (Array[Float], Int) = layer match {
    case "bn1" => (c.c1, c.t1)
    case "resbn" => (c.r2, c.t1)
    case "bn2" => (c.c2, c.t2)
    case "bn3" => (c.c3, c.t3)
    case "bn4" => (c.c4, c.t4)
  }

  /** Phase-1 kernel: accumulate per-channel (Σx, Σx²) of `layer`'s pre-BN
    * input into `sum(c)`/`sumsq(sqOff + c)` (one buffer can hold both),
    * forwarding with the batch stats resolved so far (layers after
    * `layer` still carry stale stats — harmless, the pre-activation of
    * `layer` never reads them). Returns the element
    * count per channel contributed by this row.
    */
  def rowPreBnSums(window: Array[Array[Float]], wts: CnnWeights, layer: String,
                   sum: Array[Double], sumsq: Array[Double], sqOff: Int = 0): Long = {
    val (pre, t) = preActOf(forwardCached(window, wts), layer)
    var c = 0
    while (c < pre.length / t) {
      var i = c * t
      while (i < (c + 1) * t) {
        val x = pre(i).toDouble
        sum(c) += x
        sumsq(sqOff + c) += x * x
        i += 1
      }
      c += 1
    }
    t.toLong
  }

  /** Train-mode BN backward: with μ/σ² treated as functions of the batch,
    * dx_i = γ·inv·(dy_i − Σdy/m − x̂_i·Σ(dy·x̂)/m). dγ/dβ accumulate into
    * `grad` when non-null (full-gradient pass) and are skipped in the
    * moment passes.
    */
  private def bnBackwardTrain(xPre: Array[Float], t: Int, bn: BnW, mom: BnMom,
                              dy: Array[Double],
                              grad: Array[Double], off: Int): Array[Double] = {
    val cN = bn.gamma.length
    val dx = new Array[Double](cN * t)
    val acc = grad != null
    var c = 0
    while (c < cN) {
      val inv = 1.0 / math.sqrt(bn.variance(c).toDouble + bn.eps.toDouble)
      val g = bn.gamma(c).toDouble
      val m = bn.mean(c).toDouble
      val mDy = mom.sumDy(c) / mom.m
      val mDyX = mom.sumDyXhat(c) / mom.m
      var i = c * t
      while (i < (c + 1) * t) {
        val d = dy(i)
        val xhat = (xPre(i) - m) * inv
        if (acc) {
          grad(off + c) += d * xhat
          grad(off + cN + c) += d
        }
        dx(i) = g * inv * (d - mDy - xhat * mDyX)
        i += 1
      }
      c += 1
    }
    dx
  }

  /** Accumulate one row's (Σdy, Σdy·x̂) for a BN layer into
    * `outDy(c)`/`outDyX(dyxOff + c)`.
    */
  private def momentsAt(xPre: Array[Float], t: Int, bn: BnW,
                        dy: Array[Double],
                        outDy: Array[Double], outDyX: Array[Double],
                        dyxOff: Int): Unit = {
    var c = 0
    while (c < bn.gamma.length) {
      val inv = 1.0 / math.sqrt(bn.variance(c).toDouble + bn.eps.toDouble)
      val m = bn.mean(c).toDouble
      var i = c * t
      while (i < (c + 1) * t) {
        val d = dy(i)
        outDy(c) += d
        outDyX(dyxOff + c) += d * (xPre(i) - m) * inv
        i += 1
      }
      c += 1
    }
  }

  /** Shared backward walker for batch-stats BN. Walks from the BCE dz
    * toward the input; at `stopAt` (a BN layer name) it accumulates that
    * layer's moments into outDy/outDyX (Σdy·x̂ from `dyxOff`) and returns;
    * with stopAt == null it applies every layer's train-mode backward and
    * accumulates the FULL gradient into `grad`. `moments` must contain every BN layer above
    * the stopping point (all five when stopAt == null).
    */
  private def backwardWithBatchBn(c: Trunk, wts: CnnWeights, dz: Array[Double],
                                  moments: Map[String, BnMom], stopAt: String,
                                  grad: Array[Double], outDy: Array[Double],
                                  outDyX: Array[Double], dyxOff: Int): Unit = {
    val k = wts.head.b.length
    val dHid = wts.head.w(0).length
    val full = stopAt == null
    val g = if (full) grad else null
    val offOf: Map[String, Int] =
      if (full) {
        val spec = blockSpec(wts)
        spec.map(_._1).zip(spec.scanLeft(0)(_ + _._2).init).toMap
      } else Map.empty
    def off(name: String): Int = if (full) offOf(name) else 0

    val dPooled = Array.ofDim[Double](dHid)
    var o = 0
    while (o < k) {
      val d = dz(o)
      if (d != 0.0) {
        if (full) {
          grad(offOf("head.b") + o) += d
          val hwOff = offOf("head.w")
          var j = 0
          while (j < dHid) { grad(hwOff + o * dHid + j) += d * c.pooled(j); j += 1 }
        }
        val row = wts.head.w(o)
        var j = 0
        while (j < dHid) { dPooled(j) += d * row(j); j += 1 }
      }
      o += 1
    }
    var dH = unpool(dPooled, c.t4)

    dH = reluBackward(c.h5, dH)
    if (stopAt == "bn4") { momentsAt(c.c4, c.t4, wts.bn4, dH, outDy, outDyX, dyxOff); return }
    dH = bnBackwardTrain(c.c4, c.t4, wts.bn4, moments("bn4"), dH, g, off("bn4.g"))
    dH = convBackward(c.h4, c.t3, wts.conv4, dH, g, off("conv4.w"))

    dH = reluBackward(c.h4, dH)
    if (stopAt == "bn3") { momentsAt(c.c3, c.t3, wts.bn3, dH, outDy, outDyX, dyxOff); return }
    dH = bnBackwardTrain(c.c3, c.t3, wts.bn3, moments("bn3"), dH, g, off("bn3.g"))
    dH = convBackward(c.h3, c.t2, wts.conv3, dH, g, off("conv3.w"))

    dH = reluBackward(c.h3, dH)
    if (stopAt == "bn2") { momentsAt(c.c2, c.t2, wts.bn2, dH, outDy, outDyX, dyxOff); return }
    dH = bnBackwardTrain(c.c2, c.t2, wts.bn2, moments("bn2"), dH, g, off("bn2.g"))
    dH = convBackward(c.h2, c.t1, wts.conv2, dH, g, off("conv2.w"))

    val dS2 = reluBackward(c.h2, dH)
    var dBlk = reluBackward(c.blk, dS2)
    if (stopAt == "resbn") { momentsAt(c.r2, c.t1, wts.resBn, dBlk, outDy, outDyX, dyxOff); return }
    dBlk = bnBackwardTrain(c.r2, c.t1, wts.resBn, moments("resbn"), dBlk, g, off("resbn.g"))
    dBlk = convBackward(c.r1, c.t1, wts.resConv2, dBlk, g, off("res2.w"))
    dBlk = reluBackward(c.r1, dBlk)
    dBlk = convBackward(c.h1, c.t1, wts.resConv1, dBlk, g, off("res1.w"))
    val dH1 = addGrad(dS2, dBlk)

    var dB1 = reluBackward(c.h1, dH1)
    if (stopAt == "bn1") { momentsAt(c.c1, c.t1, wts.bn1, dB1, outDy, outDyX, dyxOff); return }
    dB1 = bnBackwardTrain(c.c1, c.t1, wts.bn1, moments("bn1"), dB1, g, off("bn1.g"))
    if (full) convBackward(c.x0, c.t0, wts.conv1, dB1, grad, offOf("conv1.w"))
  }

  /** The masked-BCE kernel: dz (∂L/∂logit; 0 where unlabeled), `loss0`
    * plus each labeled element's loss added in class order, and the
    * labeled count.
    */
  def bceDz(logits: Array[Double], y: Array[Double],
            loss0: Double = 0.0): (Double, Long, Array[Double]) = {
    val k = logits.length
    val dz = Array.ofDim[Double](k)
    var loss = loss0
    var labeled = 0L
    var o = 0
    while (o < k) {
      val yk = y(o)
      if (!yk.isNaN) {
        val z = logits(o)
        loss += math.max(z, 0.0) - z * yk + math.log1p(math.exp(-math.abs(z)))
        dz(o) = 1.0 / (1.0 + math.exp(-z)) - yk
        labeled += 1L
      }
      o += 1
    }
    (loss, labeled, dz)
  }

  /** Phase-2 kernel: one row's (Σdy, Σdy·x̂) contribution for `layer` into
    * `outDy(c)`/`outDyX(dyxOff + c)`, given the moments of every BN layer
    * above it. `wts` must carry the batch stats ([[withBnStats]]).
    */
  def rowBnMoments(window: Array[Array[Float]], y: Array[Double],
                   wts: CnnWeights, moments: Map[String, BnMom], layer: String,
                   outDy: Array[Double], outDyX: Array[Double],
                   dyxOff: Int = 0): Unit = {
    val c = forwardCached(window, wts)
    val (_, labeled, dz) = bceDz(logits(c), y)
    // A zero-label row has dy ≡ 0 only down to the TOPMOST BN layer — its
    // moment contribution there is identically zero, so the walk can skip.
    // BELOW that layer the batch coupling terms (−Σdy/m − x̂·Σdy·x̂/m,
    // with Σ over the whole batch) inject nonzero dy into this row's
    // path, so its lower-layer moments must still be accumulated.
    if (labeled == 0L && layer == BnOrder.last) return
    backwardWithBatchBn(c, wts, dz, moments, layer, null, outDy, outDyX, dyxOff)
  }

  /** Phase-3 kernel: one row's full train-mode-BN gradient, all batch
    * stats and moments known. Same contract as [[rowGradient]].
    */
  def rowGradientBn(window: Array[Array[Float]], y: Array[Double],
                    wts: CnnWeights, moments: Map[String, BnMom],
                    grad: Array[Double]): (Double, Long) = {
    val c = forwardCached(window, wts)
    val (loss, labeled, dz) = bceDz(logits(c), y)
    // No early-out on a zero-label row: with batch statistics its dz ≡ 0
    // only above the topmost BN layer — the coupling terms give it nonzero
    // dy below, so it still owes conv/BN gradient contributions whenever
    // any OTHER row in the batch carries labels. (With a fully-unlabeled
    // batch all moments are zero and the walk accumulates exact zeros.)
    backwardWithBatchBn(c, wts, dz, moments, null, grad, null, null, 0)
    (loss, labeled)
  }

  /** Masked-BCE loss + full-network gradient for one (window, y) row.
    * `window` is the (T, C_in) normalized matrix; `y` the K targets with
    * NaN = unlabeled. Gradient SUMS (not means) accumulate into `grad`
    * (length [[nParams]]); returns (summed element loss, labeled count) —
    * the partial shape a [[HeadTrainer.SumAgg]] pass sums, so batch means
    * are taken once, driver-side.
    */
  def rowGradient(window: Array[Array[Float]], y: Array[Double],
                  wts: CnnWeights, grad: Array[Double]): (Double, Long) = {
    val c = forwardCached(window, wts)
    val k = wts.head.b.length
    val dHid = wts.head.w(0).length

    val (loss, labeled, dz) = bceDz(logits(c), y)
    if (labeled == 0L) return (0.0, 0L)

    val spec = blockSpec(wts)
    val offs = spec.scanLeft(0)(_ + _._2).init
    val offOf = spec.map(_._1).zip(offs).toMap

    // head
    val dPooled = Array.ofDim[Double](dHid)
    val hwOff = offOf("head.w"); val hbOff = offOf("head.b")
    var o = 0
    while (o < k) {
      val d = dz(o)
      if (d != 0.0) {
        grad(hbOff + o) += d
        val row = wts.head.w(o)
        var j = 0
        while (j < dHid) {
          grad(hwOff + o * dHid + j) += d * c.pooled(j)
          dPooled(j) += d * row(j)
          j += 1
        }
      }
      o += 1
    }

    var dH = unpool(dPooled, c.t4)

    dH = reluBackward(c.h5, dH)
    dH = bnBackward(c.c4, c.t4, wts.bn4, dH, grad, offOf("bn4.g"))
    dH = convBackward(c.h4, c.t3, wts.conv4, dH, grad, offOf("conv4.w"))

    dH = reluBackward(c.h4, dH)
    dH = bnBackward(c.c3, c.t3, wts.bn3, dH, grad, offOf("bn3.g"))
    dH = convBackward(c.h3, c.t2, wts.conv3, dH, grad, offOf("conv3.w"))

    dH = reluBackward(c.h3, dH)
    dH = bnBackward(c.c2, c.t2, wts.bn2, dH, grad, offOf("bn2.g"))
    dH = convBackward(c.h2, c.t1, wts.conv2, dH, grad, offOf("conv2.w"))

    val dS2 = reluBackward(c.h2, dH)
    var dBlk = reluBackward(c.blk, dS2)
    dBlk = bnBackward(c.r2, c.t1, wts.resBn, dBlk, grad, offOf("resbn.g"))
    dBlk = convBackward(c.r1, c.t1, wts.resConv2, dBlk, grad, offOf("res2.w"))
    dBlk = reluBackward(c.r1, dBlk)
    dBlk = convBackward(c.h1, c.t1, wts.resConv1, dBlk, grad, offOf("res1.w"))
    val dH1 = addGrad(dS2, dBlk)

    var dB1 = reluBackward(c.h1, dH1)
    dB1 = bnBackward(c.c1, c.t1, wts.bn1, dB1, grad, offOf("bn1.g"))
    convBackward(c.x0, c.t0, wts.conv1, dB1, grad, offOf("conv1.w"))

    (loss, labeled)
  }
}
