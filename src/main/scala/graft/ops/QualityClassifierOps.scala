package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Trained quality classifier — the fastText-style third leg of corpus
  * quality (after rule gates [[TextQualityOps.qualityGate]] and the
  * corpus-LM score [[TextQualityOps.unigramLogProb]]): hashed
  * unigram+bigram bag-of-words features into a fixed bucket space,
  * logistic regression trained by full-batch gradient descent with the
  * model on the driver — the published web-curation recipe (a linear
  * classifier over hashed n-grams is what "trained a quality classifier
  * on Wikipedia-vs-crawl" means in the GPT-3/LLaMA data papers).
  *
  * EXACT INTEGER STATE: weights live in integer micro-units, per-doc
  * scores are integer dot products (order-independent sums — no float
  * summation anywhere), and the only float step per round (the sigmoid
  * of a per-doc scalar) is immediately re-quantized to integer
  * micro-error. Training is therefore bit-reproducible on any engine —
  * the same derandomization posture as [[KMeansOps]] — which is what
  * lets a SQL oracle replay every round.
  *
  * Scale shape: the model is `numBuckets` integers (closure-shipped
  * each round); each round is ONE single-stage aggregation over the
  * cached per-doc feature layout with map-side combine — the shuffle
  * carries one `numBuckets` array per task, never corpus rows — and
  * the driver receives exactly one gradient array. Nothing
  * corpus-sized is ever collected. Magnitude note: per-round gradient
  * sums are `Σ err_µ·x` with |err_µ| ≤ 5·10⁵ — exact in int64 up to
  * ~10¹³ feature occurrences per bucket, far past any real corpus
  * shard; shard the gradient agg before that.
  */
object QualityClassifierOps {

  /** Hashed unigram+bigram counts plus a constant bias feature:
    * (docId, b, x). The n-gram order is part of the hashed string
    * ("1:"/"2:" prefix; "0:bias" for the intercept — without it the
    * decision boundary must pass through the origin and no length-like
    * label is learnable) so a unigram and an identical-text bigram
    * can't collide by construction; the hash is the engine's shared
    * salted md5 ([[SamplingOps.hash60]], salt `ftq:`) so any engine
    * rebuilds the same feature space.
    */
  def features(df: DataFrame, docId: String, textCol: String,
               numBuckets: Int = 256): DataFrame = {
    val toks = df.select(col(docId), TextOps.tokens(col(textCol)).as("__toks"))
    val uni = toks.select(col(docId),
      explode(col("__toks")).as("g")).select(col(docId),
      concat(lit("1:"), col("g")).as("k"))
    val bi = toks.select(col(docId),
      explode(TextOps.shinglesOf(col("__toks"), 2)).as("g")).select(col(docId),
      concat(lit("2:"), col("g")).as("k"))
    val bias = df.select(col(docId), lit("0:bias").as("k"))
    uni.unionByName(bi).unionByName(bias)
      .select(col(docId),
        pmod(SamplingOps.hash60(col("k"), "ftq:"), lit(numBuckets.toLong)).as("b"))
      .groupBy(col(docId), col("b"))
      .agg(count(lit(1)).as("x"))
  }

  /** Per-document feature bundle: one row per doc with its bucket ids,
    * counts, and label — the cached training layout. Bounded per row by
    * the document's own gram count.
    */
  case class DocFeats(doc: Long, bs: Array[Long], xs: Array[Long], y: Int)

  /** One training round as ONE typed aggregation: per doc, the exact
    * integer score under the broadcast weights, the quantized error,
    * and the per-task gradient partial (a `numBuckets` array) — merged
    * elementwise. Map-side combine bounds the shuffle at one array per
    * task regardless of corpus size, and per-doc work never crosses a
    * row boundary, so the whole round is a single stage + a
    * `numBuckets`-sized reduce (the [[graft.vesc.HeadTrainer.SumAgg]]
    * shape).
    */
  private class RoundGrad(w: Array[Long], numBuckets: Int)
      extends org.apache.spark.sql.expressions.Aggregator[DocFeats, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](numBuckets)
    override def reduce(buf: Array[Long], d: DocFeats): Array[Long] = {
      var s = 0L
      var i = 0
      while (i < d.bs.length) { s += w(d.bs(i).toInt) * d.xs(i); i += 1 }
      val p = 1.0 / (1.0 + math.exp(-(s.toDouble / 1e6)))
      val err = math.floor((p - d.y.toDouble) * 1e6 + 0.5).toLong
      i = 0
      while (i < d.bs.length) { buf(d.bs(i).toInt) += err * d.xs(i); i += 1 }
      buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder = org.apache.spark.sql.Encoders.kryo[Array[Long]]
    override def outputEncoder = org.apache.spark.sql.Encoders.kryo[Array[Long]]
  }

  /** The cached per-doc layout for training: features grouped by doc and
    * joined with the label — computed once, reused every round.
    */
  def docFeatures(feat: DataFrame, labels: DataFrame, docId: String): Dataset[DocFeats] = {
    val spark = feat.sparkSession
    import spark.implicits._
    feat.join(labels, Seq(docId))
      .groupBy(col(docId), col("y"))
      .agg(collect_list(struct(col("b"), col("x"))).as("f"))
      .select(col(docId).cast("long").as("doc"),
        expr("transform(f, p -> p.b)").as("bs"),
        expr("transform(f, p -> p.x)").as("xs"),
        col("y").cast("int").as("y"))
      .as[DocFeats]
  }

  /** Full-batch gradient descent with FREQUENCY-NORMALIZED momentum,
    * micro-unit integer weights. Plain GD is badly conditioned here —
    * hot token buckets see 10⁴× the bias feature's gradient mass and
    * the iterates oscillate — so the update whitens per-feature by the
    * corpus count (the Adagrad idea with the count as the static
    * curvature proxy) and smooths with integer momentum.
    *
    * Per round, with w the integer weights and v the momentum state:
    *  - `s_d = Σ_b w_b·x_db` (exact long)
    *  - `p_d = σ(s_d/10⁶)` (the one float step, per-doc scalar)
    *  - `err_d = ⌊(p_d − y_d)·10⁶ + ½⌋` (re-quantized)
    *  - `grad_b = Σ_d err_d·x_db` (exact long)
    *  - `v_b ← ⌊9·v_b/10⌋ + grad_b` (floor-div — exact momentum)
    *  - `w_b ← w_b − ⌊v_b·lr/freq_b + ½⌋` with `freq_b = Σ_d x_db`
    *
    * Every cross-row reduction is an integer sum, so training is
    * bit-reproducible on any engine and a SQL oracle replays every
    * round — and each round executes as ONE [[RoundGrad]] aggregation
    * over the cached [[docFeatures]] layout (single stage + a
    * `numBuckets`-sized reduce; summation order cannot matter because
    * every cross-row sum is integer).
    *
    * @param labels (docId, y) with y ∈ {0,1}
    * @return final weights, index = bucket id
    */
  def trainLogReg(feat: DataFrame, labels: DataFrame, docId: String,
                  numBuckets: Int = 256, rounds: Int = 20,
                  lr: Double = 1.0): Array[Long] = {
    val freq = new Array[Long](numBuckets)
    feat.groupBy(col("b")).agg(sum(col("x")).as("c")).collect()
      .foreach(r => freq(r.getLong(0).toInt) = r.getLong(1))
    val docs = docFeatures(feat, labels, docId).persist()
    val w = new Array[Long](numBuckets)
    val v = new Array[Long](numBuckets)
    (1 to rounds).foreach { _ =>
      val gr = docs.select(new RoundGrad(w.clone(), numBuckets).toColumn).head()
      (0 until numBuckets).foreach { b =>
        v(b) = Math.floorDiv(9L * v(b), 10L) + gr(b)
        val delta =
          math.floor(v(b).toDouble * lr / math.max(freq(b), 1L) + 0.5).toLong
        w(b) -= delta
      }
    }
    docs.unpersist()
    w
  }

  /** Apply trained weights: (docId, score_int, pred). Integer scores —
    * `pred = score_int > 0` (the 0.5-probability boundary).
    */
  def classify(feat: DataFrame, docId: String, w: Array[Long]): DataFrame = {
    val spark = feat.sparkSession
    import spark.implicits._
    val wDf = w.zipWithIndex.map { case (v, b) => (b.toLong, v) }
      .toSeq.toDF("b", "w")
    feat.join(broadcast(wDf), Seq("b"))
      .groupBy(col(docId))
      .agg(sum(col("w") * col("x")).as("score_int"))
      .select(col(docId), col("score_int"),
        when(col("score_int") > 0, 1).otherwise(0).as("pred"))
  }
}
