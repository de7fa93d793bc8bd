package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): rank
  * every raw-corpus document by how much more likely its text is under a
  * TARGET distribution (the high-quality slice you want more of) than
  * under the RAW distribution, using hashed n-gram bag-of-words models —
  * the published, embarrassingly-parallel recipe for "give me the 10% of
  * the crawl that looks most like Wikipedia".
  *
  * Both models live on `numBuckets` hashed features (the paper's hashed
  * n-grams; the hash is the engine's shared salted-md5
  * [[SamplingOps.hash60]] so any engine replays it), add-one smoothed.
  * Per document: `log_ratio = (1/n) Σ_tokens log p_target(b(t)) /
  * p_raw(b(t))` — the average per-token log importance weight.
  *
  * Scale shape: both models are ONE pass over the corpus (a groupBy on
  * the bucket id — at most `numBuckets` groups, map-side partials bound
  * each task's contribution), materialized at `numBuckets` rows and
  * broadcast; scoring is a second pass joining each token's bucket to
  * the broadcast table and averaging per doc. Nothing corpus-sized is
  * ever collected or shuffled wide — the same bounded-LM posture as
  * [[TextQualityOps.unigramLogProb]].
  */
object ImportanceOps {

  /** Bucket id of a token: salted 60-bit md5 mod `numBuckets` (replayable
    * in any engine with md5 — the determinism contract of the sampling
    * family).
    */
  def bucketOf(token: Column, numBuckets: Int, salt: String = "dsir:"): Column =
    pmod(SamplingOps.hash60(token, salt), lit(numBuckets.toLong))

  /** Per-document average log importance weight.
    *
    * @param df corpus
    * @param isTarget row predicate marking the target slice (its docs
    *   still get scores — the model just also learns from them)
    * @return (docId, n_tokens, log_ratio) — log_ratio floored to 4dp
    *   for engine-portable hashing; docs with no tokens are absent (no
    *   evidence either way)
    */
  def dsirLogRatio(df: DataFrame, docId: String, textCol: String,
                   isTarget: Column, numBuckets: Int = 128): DataFrame = {
    val tok = df.select(col(docId), isTarget.as("__t"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .select(col(docId), col("__t"), bucketOf(col("token"), numBuckets).as("b"))
    // both bucket models in ONE corpus pass: conditional counts per bucket
    val model = tok.groupBy(col("b")).agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val totals = tok.agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__nt"),
      count(lit(1)).as("__nr"))
    val b = numBuckets.toLong
    tok.join(broadcast(model), Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_tokens"),
        (floor(avg(
          log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double")
            / (col("__nt") + lit(b)).cast("double"))
            - log((coalesce(col("cr"), lit(0L)) + lit(1L)).cast("double")
              / (col("__nr") + lit(b)).cast("double"))) * 1e4 + lit(0.5)) / 1e4)
          .as("log_ratio"))
  }

  /** DoReMi domain reweighting (Xie et al. 2023, "DoReMi: Optimizing
    * Data Mixtures Speeds Up Language Model Pretraining"): the
    * published mixing method AFTER temperature/UniMax — domain weights
    * follow an exponentiated-gradient ascent on per-domain EXCESS loss
    * (proxy minus reference), clipped at zero, averaged over steps,
    * then smoothed toward uniform. This operator is the update rule on
    * an arbitrary (step, domain, excess) table; the caller supplies
    * the losses (the query layer measures them per hash-sharded
    * minibatch with the real df-capped unigram LM, the paper's
    * one-loss-batch-per-step shape).
    *
    * Determinism: the EG step is LINEARIZED to integer multiplicative
    * weights — factor = 10⁶ + η_ppm·max(excess, 0) div 10⁶ (first
    * order in η, the standard hedge variant), normalization and the
    * final (1−ε)·ᾱ + ε·uniform smoothing all in integer ppm via BigInt
    * on the driver — so a SQL oracle unrolls every round exactly.
    *
    * Scale shape: the loss table is BOUNDED (steps × domains ≤
    * `maxCells`, guarded loudly); the greedy is a driver-side model
    * table like [[SamplingOps.unimaxSample]]'s. Output one row per
    * domain: (domain, avg_weight_ppm, weight_ppm).
    */
  def doremiWeights(losses: DataFrame, stepCol: String, domainCol: String,
                    excessCol: String, etaPpm: Long = 100000L,
                    smoothPpm: Long = 50000L,
                    maxCells: Int = 100000,
                    nSteps: Int = -1): DataFrame = {
    require(etaPpm >= 0 && smoothPpm >= 0 && smoothPpm <= 1000000L)
    val spark = losses.sparkSession
    import spark.implicits._
    val rows = losses
      .select(col(stepCol).cast("long"), col(domainCol).cast("string"),
        col(excessCol).cast("long"))
      .limit(maxCells + 1).collect()
    require(rows.length <= maxCells,
      s"doremiWeights saw more than $maxCells (step, domain) cells — " +
        "the update is a driver-side model table by design")
    // Null cells are a caller bug (a null step would silently drop an
    // EG round; a null excess would NPE mid-update) — refuse loudly.
    rows.zipWithIndex.foreach { case (r, i) =>
      require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
        s"doremiWeights: null $stepCol/$domainCol/$excessCol at row $i — " +
          "every (step, domain, excess) cell must be non-null")
    }
    // With nSteps ≥ 0 the round count is FIXED at steps 0..nSteps−1 and
    // an absent (step, domain) cell reads as zero excess — callers that
    // shard steps by hash must pass this, or a shard that happens to be
    // empty at small scale silently skips an EG round.
    val steps: Seq[Long] =
      if (nSteps >= 0) 0L until nSteps.toLong
      else rows.map(_.getLong(0)).distinct.sorted.toSeq
    val domains = rows.map(_.getString(1)).distinct.sorted
    require(domains.nonEmpty, "doremiWeights needs at least one domain")
    val excess = rows.map(r =>
      (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val d = domains.length
    var alpha = domains.map(_ -> BigInt(1000000L / d)).toMap
    var acc = domains.map(_ -> BigInt(0)).toMap
    steps.foreach { t =>
      val upd = domains.map { dom =>
        val ex = math.max(excess.getOrElse((t, dom), 0L), 0L)
        dom -> alpha(dom) * (BigInt(1000000) + BigInt(etaPpm) * ex / 1000000)
      }.toMap
      val tot = upd.values.sum
      alpha = domains.map(dom =>
        dom -> (if (tot == 0) BigInt(0) else upd(dom) * 1000000 / tot)).toMap
      acc = domains.map(dom => dom -> (acc(dom) + alpha(dom))).toMap
    }
    val stepCount = math.max(steps.length, 1)
    domains.map { dom =>
      val avg = acc(dom) / stepCount
      val w = (BigInt(1000000) - smoothPpm) * avg / 1000000 +
        BigInt(smoothPpm) / d
      (dom, avg.toLong, w.toLong)
    }.toSeq.toDF("domain", "avg_weight_ppm", "weight_ppm")
  }
}
