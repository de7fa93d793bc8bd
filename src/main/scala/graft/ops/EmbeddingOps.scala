package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Vector similarity-search operators over an `array<float>` embedding
  * column: brute-force cosine top-k as the exact baseline, and an
  * IVF-style bucketed variant as the scale path (probe only the coarse
  * cluster(s) instead of the full corpus).
  *
  * All scoring arithmetic is native Catalyst expressions
  * ([[graft.functions.DotProduct]]/[[graft.functions.CosineSim]]/
  * [[graft.functions.L2Norm]] — primitive loops with `doGenCode`, no UDFs,
  * bit-identical to the `zip_with`+`aggregate` HOF fallback kept as
  * [[EmbeddingOps.dotHof]]). The
  * brute-force path broadcasts the (small) query set so the corpus is
  * scanned exactly once with no shuffle. Top-k selection is a bounded
  * [[Aggregator]] ([[EmbeddingOps.TopKAgg]]): each task keeps only its k
  * best candidates per query (map-side partial aggregation), so the
  * shuffle moves ≤ k·tasks rows per query instead of every scored
  * (corpus × queries) row — the per-query `row_number` window it replaces
  * funneled the full scored set into #queries partitions, a few-reducer
  * bottleneck at corpus scale. At 100 TB the bucketed variant additionally
  * turns the cross product into an equi-join on the cluster id, cutting
  * the scanned fraction to 1/clusters per query.
  */
object EmbeddingOps {

  // Spark 4 Columns wrap ColumnNodes, not Expressions, so the native vector
  // expressions surface through `call_function` of their catalog names
  // (installed on every session by graft.GraftExtensions).

  /** Σ aᵢ·bᵢ, sequential left fold in doubles — the native codegen'd
    * [[graft.functions.DotProduct]] Expression. Bit-identical to the HOF
    * formulation [[dotHof]] (same element order, same double accumulator;
    * VectorExprsSpec asserts parity on both interpreted and codegen paths)
    * but compiles to a tight primitive loop inside WholeStageCodegen
    * instead of one boxed lambda call per element.
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def l2Norm(a: Column): Column = call_function("vec_norm_l2", a)

  /** One fused pass over both arrays (dot + both norms in a single loop);
    * same floating evaluation order as `dotHof / (l2NormHof · l2NormHof)`.
    */
  def cosine(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Reference `zip_with`+`aggregate` formulation of [[dot]] — interpreted
    * lambda per element; kept as the independent parity oracle for
    * VectorExprsSpec and for engines without the graft extensions.
    */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private[graft] def l2NormHof(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  private[graft] def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (l2NormHof(a) * l2NormHof(b))

  /** Bounded top-k aggregate over (score, id) pairs: the buffer never holds
    * more than 2k items before re-trimming, and partial (map-side) buffers
    * merge by concat + trim, so per-task state is O(k) regardless of group
    * size. Order: score desc, then id asc — ties deterministic.
    *
    * The buffer is typed `collection.Seq` so `reduce` can mutate an
    * ArrayBuffer in place — Aggregator permits buffer mutation — making
    * appends amortized O(1) and each 2k trim one in-place sort, instead of
    * the O(k) copy per element a `b :+ a` on an immutable Seq costs.
    * Matters once k is in the thousands; a decode boundary (after shuffle)
    * hands back a read-only Seq, which is converted to a fresh ArrayBuffer
    * exactly once.
    */
  class TopKAgg(k: Int)
      extends Aggregator[(Double, Long), collection.Seq[(Double, Long)], Seq[(Double, Long)]] {
    import scala.collection.mutable.ArrayBuffer
    private def trimInPlace(b: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] = {
      b.sortInPlaceBy { case (score, id) => (-score, id) }
      if (b.size > k) b.remove(k, b.size - k)
      b
    }
    override def zero: collection.Seq[(Double, Long)] = ArrayBuffer.empty
    override def reduce(b: collection.Seq[(Double, Long)],
                        a: (Double, Long)): collection.Seq[(Double, Long)] = {
      val buf = b match {
        case ab: ArrayBuffer[(Double, Long)] @unchecked => ab
        case other => ArrayBuffer.from(other)
      }
      buf += a
      if (buf.size >= 2 * k) trimInPlace(buf) else buf
    }
    override def merge(x: collection.Seq[(Double, Long)],
                       y: collection.Seq[(Double, Long)]): collection.Seq[(Double, Long)] =
      trimInPlace(ArrayBuffer.from(x) ++= y)
    override def finish(r: collection.Seq[(Double, Long)]): Seq[(Double, Long)] =
      trimInPlace(ArrayBuffer.from(r)).toSeq
    override def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[collection.Seq[(Double, Long)]]()
    override def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** Shared tail: group scored rows per query through the bounded top-k
    * aggregate, then unnest ranks 1..k. (`private[graft]`: [[PqOps]] reuses
    * it for the ADC shortlist and rerank.)
    */
  private[graft] def takeTopK(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    val topk = udaf(new TopKAgg(k))
    scored.groupBy(col("query_id"))
      .agg(topk(col("score"), col(idCol).cast("long")).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__item")))
      .select(col("query_id"), (col("__pos") + 1).cast("int").as("rank"),
        col("__item._2").as("neighbor_id"), col("__item._1").as("score"))
  }

  /** Embedding-cosine near-duplicate pairs, bucketed AND block-capped:
    * candidate pairs are restricted to rows sharing `bucketCol` (an
    * IVF/LSH coarse bucket), so generation is an equi-join on the bucket —
    * never an all-pairs cross join — and each block is (n/buckets)²
    * instead of n². Scores are rounded to `roundDigits` before the
    * threshold so float noise can't flip borderline pairs between engines.
    *
    * The within-bucket self-join goes through
    * [[DedupOps.cappedBandPairs]] because bucketing alone does NOT bound
    * block size — SemDeDup's premise is that near-duplicates CONCENTRATE
    * in clusters, so a boilerplate-heavy corpus yields one giant cluster
    * and an uncapped join emits O(m²) pairs each shuffling TWO full
    * embedding vectors (the payload multiplies the shuffle bytes, unlike
    * string-id band pairs). Blocks ≤ `maxBlock` run the exact all-pairs
    * join (bit-identical to the uncapped form); bigger blocks emit only
    * the consecutive-by-id chain, and the exact cosine filter still runs
    * on every chained edge — a chain edge failing the threshold splits
    * the downstream component exactly where the clique would have split.
    * Connected components over the output (what SemDeDup consumes) are
    * therefore identical whenever within-block similarity is transitive
    * at the threshold — the regime clustering targets; components must
    * use [[DedupOps.connectedComponentsStar]] (chains have diameter m).
    */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                  bucketCol: String, minCos: Double,
                  roundDigits: Int = 4, maxBlock: Int = 1000): DataFrame = {
    val scale = math.pow(10, roundDigits)
    // norms once per ROW before the join — recomputing them per PAIR would
    // triple the work of every block
    val normed = emb.select(col(bucketCol).as("__bk"), col(idCol),
      col(vecCol).as("__v"), l2Norm(col(vecCol)).as("__n"))
    DedupOps.cappedBandPairs(normed, idCol, Seq("__bk"),
        payload = Seq("__v", "__n"), maxBlock = maxBlock)
      .withColumn("cos",
        floor(dot(col("__v_a"), col("__v_b")) / (col("__n_a") * col("__n_b"))
          * scale + lit(0.5)) / scale)
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Exact brute-force cosine top-k: for every query row, the k nearest
    * corpus rows (query set must be small — it is broadcast).
    * Deterministic tie-break on (score desc, corpus id asc) after rounding
    * `score` to `roundDigits` so float noise can't reorder ranks.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, roundDigits: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val scale = math.pow(10, roundDigits)
    val scored = corpus.join(broadcast(q))
      .withColumn("score",
        floor(cosine(col("__qv"), col(vecCol)) * scale + lit(0.5)) / scale)
    takeTopK(scored, idCol, k)
  }

  /** IVF-style approximate top-k: identical scoring, but candidates are
    * restricted to the query's coarse cluster (`clusterCol`), turning the
    * broadcast cross product into an equi-join on the cluster id.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, clusterCol: String, k: Int,
              roundDigits: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      col(clusterCol).as("__qc"))
    val scale = math.pow(10, roundDigits)
    val scored = corpus.join(broadcast(q), col(clusterCol) === col("__qc"))
      .withColumn("score",
        floor(cosine(col("__qv"), col(vecCol)) * scale + lit(0.5)) / scale)
    takeTopK(scored, idCol, k)
  }

  /** Per-cluster mean-of-members centroids — the SQL-replayable IVF
    * coarse codebook: per-dimension average over each cluster's member
    * vectors, rounded to `roundDigits` so a DuckDB oracle replaying the
    * same formula lands on identical values. One explode + two bounded
    * aggregations (groups are dim-sized, the collect_list is exactly one
    * row per dimension); output is cluster-count rows — broadcastable at
    * any corpus scale, like every IVF codebook.
    */
  def meanCentroids(corpus: DataFrame, vecCol: String, clusterCol: String,
                    roundDigits: Int = 4): DataFrame = {
    val scale = math.pow(10, roundDigits)
    corpus
      .select(col(clusterCol).cast("long").as("cluster"),
        posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .groupBy(col("cluster"), col("__d"))
      .agg((floor(avg(col("__x").cast("double")) * scale + lit(0.5)) / scale)
        .as("__c"))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("__d"), col("__c")))),
        s => s.getField("__c")).as("centroid"))
  }

  /** The IVF probe step: for every query, its `nprobe` nearest centroids
    * by exact cosine → (query_id, probe_rank, cluster), probe_rank 1-based
    * in (cosine desc, cluster asc) order after rounding — deterministic
    * and oracle-replayable.
    *
    * The scoring join is the centroid table broadcast against every query
    * with no join key — that is the probe step's inherent shape (each
    * query must score ALL centroids to find its nearest), and the
    * codebook side is O(√n) rows, so the product is queries × centroids,
    * never anything corpus-sized. Selection is the bounded [[TopKAgg]].
    */
  def probeAssignments(queries: DataFrame, idCol: String, vecCol: String,
                       centroids: DataFrame, nprobe: Int,
                       roundDigits: Int = 4): DataFrame = {
    val scale = math.pow(10, roundDigits)
    val scored = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .join(broadcast(centroids))
      .withColumn("__score",
        floor(cosine(col("__qv"), col("centroid")) * scale + lit(0.5)) / scale)
    val topk = udaf(new TopKAgg(nprobe))
    scored.groupBy(col("query_id"))
      .agg(topk(col("__score"), col("cluster")).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__item")))
      .select(col("query_id"), (col("__pos") + 1).cast("int").as("probe_rank"),
        col("__item._2").as("cluster"))
  }

  /** Multi-probe IVF top-k: candidates are the corpus rows whose cluster
    * appears in the query's probe table ([[probeAssignments]] output,
    * optionally rank-filtered to vary nprobe without re-scoring the
    * codebook) — an EQUI-join on the cluster id below the bounded top-k
    * aggregate, exactly the [[ivfTopK]] plan shape but with the scanned
    * fraction nprobe/clusters instead of 1/clusters. A corpus row joins a
    * query at most once (its single cluster either is or isn't probed),
    * so no dedup is needed before the top-k.
    */
  def ivfTopKProbed(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, clusterCol: String, probes: DataFrame,
                    k: Int, roundDigits: Int = 4): DataFrame = {
    val scale = math.pow(10, roundDigits)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    // probe-side cluster under a reserved name: a corpus clusterCol that is
    // itself named "cluster" must not make the join condition ambiguous
    val probeQ = probes.select(col("query_id"),
      col("cluster").as("__pcluster")).join(q, "query_id")
    val scored = corpus
      .join(broadcast(probeQ), col(clusterCol).cast("long") === col("__pcluster"))
      .withColumn("score",
        floor(cosine(col("__qv"), col(vecCol)) * scale + lit(0.5)) / scale)
    takeTopK(scored, idCol, k)
  }

  /** Int8-style scalar-quantized ANN with exact rerank — the memory-
    * bandwidth scale path: candidate generation runs on vectors quantized
    * against ONE global symmetric scale (127/max|x| over the corpus — a
    * broadcast scalar, the calibration pass every quantized index needs),
    * which at real scale means scanning a 4× smaller index and doing
    * integer dot products; then only the `k·oversample` shortlist is
    * re-scored with exact float cosine.
    *
    * Everything is deterministic and engine-reproducible: quantization is
    * `floor(x·127/maxabs + 0.5)` (exact IEEE ops), quantized dots are
    * exact integers, and both top-k selections tie-break on id — so a SQL
    * oracle can replay the identical shortlist and ranking.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, oversample: Int = 3,
                    roundDigits: Int = 4): DataFrame =
    quantizedTopKImpl(corpus, queries, idCol, vecCol, None, k, oversample, roundDigits)

  /** [[quantizedTopK]] composed with the IVF cluster restriction of
    * [[ivfTopK]] — the fully-bucketed quantized scan for 100 TB corpora.
    * Plain `quantizedTopK`'s phase 1 scans the whole quantized corpus per
    * query (right for a calibration pass); here candidates are first cut
    * to the query's coarse cluster by an equi-join on `clusterCol`
    * BELOW the shortlist aggregation, so the integer-dot scan touches
    * 1/clusters of the corpus AND reads 4× less per row — the two scale
    * levers compose. Rerank is unchanged: exact float cosine on the
    * k·oversample shortlist only.
    */
  def ivfQuantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, clusterCol: String, k: Int,
                       oversample: Int = 3, roundDigits: Int = 4): DataFrame =
    quantizedTopKImpl(corpus, queries, idCol, vecCol, Some(clusterCol), k,
      oversample, roundDigits)

  private def quantizedTopKImpl(corpus: DataFrame, queries: DataFrame,
                                idCol: String, vecCol: String,
                                clusterCol: Option[String], k: Int,
                                oversample: Int, roundDigits: Int): DataFrame = {
    val maxAbsDf = corpus.agg(
      max(array_max(transform(col(vecCol), x => abs(x.cast("double"))))).as("__maxabs"))
    def qz(v: Column) = transform(v, x =>
      floor(x.cast("double") * lit(127.0) / col("__maxabs") + lit(0.5)).cast("long"))
    val qCols = col(idCol).as("query_id") +: col(vecCol).as("__qv") +:
      clusterCol.map(c => col(c).as("__qc")).toSeq
    val q = queries.select(qCols: _*)
    val qq = q.crossJoin(broadcast(maxAbsDf))
      .select((col("query_id") +: qz(col("__qv")).as("__qq") +:
        clusterCol.map(_ => col("__qc")).toSeq): _*)
    val cq = corpus.crossJoin(broadcast(maxAbsDf))
      .select((col(idCol) +: qz(col(vecCol)).as("__cq") +:
        clusterCol.map(col).toSeq): _*)
    // phase 1: integer dot on quantized vectors → k·oversample shortlist;
    // with a cluster column the broadcast join is an EQUI-join on the
    // cluster id (below the top-k agg), not a cross product
    val cand = clusterCol match {
      case Some(c) => cq.join(broadcast(qq), col(c) === col("__qc"))
      case None    => cq.join(broadcast(qq))
    }
    val scored = cand.withColumn("score",
      aggregate(zip_with(col("__qq"), col("__cq"), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x).cast("double"))
    val shortlist = takeTopK(scored, idCol, k * oversample)
    // phase 2: exact float cosine rerank of the shortlist only
    val scale = math.pow(10, roundDigits)
    val rerank = shortlist.select(col("query_id"), col("neighbor_id"))
      .join(corpus.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).as("__cv")), "neighbor_id")
      .join(broadcast(q.select(col("query_id"), col("__qv"))), "query_id")
      .withColumn("score",
        floor(cosine(col("__qv"), col("__cv")) * scale + lit(0.5)) / scale)
    takeTopK(rerank, "neighbor_id", k)
  }

  /** MARGIN-based bitext mining (Artetxe & Schwenk 2019 — the
    * LASER/CCMatrix recipe behind every large parallel-corpus release):
    * a source-language and a target-language embedding side are matched
    * by the RATIO margin, cos(x,y) over the mean of both points'
    * k-NN neighborhoods — absolute cosine alone over-selects hubs
    * (vectors close to everything); the margin demands y be close to x
    * RELATIVE to everything else either is close to. Forward direction:
    * best target per source, thresholded.
    *
    * Integer determinism: cosines quantize to e4 integers BEFORE any
    * sum (4dp doubles re-summed in arbitrary order would drift a ulp
    * across engines), neighborhood sums are integer, and
    * margin_e4 = cos_e4·2k·10⁴ div (sumNN_x + sumNN_y) — so a SQL
    * oracle replays every margin exactly. Pairs whose neighborhood sum
    * is not positive drop (the margin is undefined there).
    *
    * Scale shape: candidates are an equi-join on `bucketCol` (IVF
    * coarse cluster — never all-pairs), materialized ONCE and reused
    * for both neighborhoods; k-NN sums and the forward argmax are the
    * bounded [[TopKAgg]] — map-side partials, no corpus window.
    */
  def bitextMine(src: DataFrame, tgt: DataFrame, idCol: String,
                 vecCol: String, bucketCol: String, k: Int = 4,
                 minMarginE4: Long = 10100L): DataFrame = {
    require(k > 0)
    val a = src.select(col(bucketCol).as("__b"), col(idCol).as("src_id"),
      col(vecCol).as("__xv"))
    val b = tgt.select(col(bucketCol).as("__b"), col(idCol).as("tgt_id"),
      col(vecCol).as("__yv"))
    val cand = a.join(b, "__b")
      .select(col("src_id"), col("tgt_id"),
        floor(cosine(col("__xv"), col("__yv")) * 1e4 + lit(0.5)).cast("long")
          .as("cos_e4"))
      .localCheckpoint(true) // reused three times below
    val topk = udaf(new TopKAgg(k))
    def nnSum(key: String, other: String, out: String) = cand
      .groupBy(col(key))
      .agg(topk(col("cos_e4").cast("double"), col(other)).as("__t"))
      .select(col(key),
        aggregate(transform(col("__t"), s => s.getField("_1")),
          lit(0.0), (acc, x) => acc + x).cast("long").as(out))
    val scored = cand
      .join(nnSum("src_id", "tgt_id", "__nnx"), "src_id")
      .join(nnSum("tgt_id", "src_id", "__nny"), "tgt_id")
      .filter(col("__nnx") + col("__nny") > 0)
      // cos_e4 is clamped at 0 before the ratio: negative cosines are
      // never mined (they fall below any sane minMarginE4), and the
      // clamp keeps Spark `div` (truncates toward zero) and a floor-style
      // replay identical — for negative numerators they differ by 1.
      .withColumn("margin_e4",
        expr(s"greatest(cos_e4, 0L) * ${2 * k} * 10000 div (__nnx + __nny)"))
    val top1 = udaf(new TopKAgg(1))
    scored.groupBy(col("src_id"))
      .agg(top1(col("margin_e4").cast("double"), col("tgt_id")).as("__m"))
      .select(col("src_id"),
        element_at(col("__m"), 1).getField("_2").as("tgt_id"),
        element_at(col("__m"), 1).getField("_1").cast("long").as("margin_e4"))
      .filter(col("margin_e4") >= minMarginE4)
      .join(cand, Seq("src_id", "tgt_id"))
      .select(col("src_id"), col("tgt_id"), col("cos_e4"), col("margin_e4"))
  }

  /** LATE-INTERACTION (multi-vector MaxSim) retrieval — the ColBERT
    * scoring shape: query and document are each a BAG of per-token
    * vectors, and score(q, d) = Σ over query tokens of the MAX dot
    * against any document token. Catches term-level matches a single
    * pooled vector dilutes away (the published retrieval family between
    * one-vector ANN and full cross-attention).
    *
    * `vecsCol` holds each row's per-token INTEGER vectors
    * (`array<array<long>>` — quantized, so every dot is an exact
    * integer and a SQL oracle replays every dot/max/sum bit-for-bit).
    *
    * Scale shape: query tokens explode on the (tiny, broadcast) query
    * side only; documents stay ONE ROW each — the per-token max runs
    * scan-side over the document's token array (`transform` +
    * `array_max`, no doc-side explode), candidates are cut to the
    * query's coarse cluster by an equi-join on `clusterCol` BELOW the
    * shortlist aggregation (never all-pairs), and the final top-k is
    * the bounded [[TopKAgg]] — map-side partials, no corpus window.
    */
  def maxSimTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecsCol: String, clusterCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(clusterCol).as("__qc"),
      posexplode(col(vecsCol)).as(Seq("__qt", "__qv")))
    val cand = corpus.join(broadcast(q), col(clusterCol) === col("__qc"))
    val perTok = cand.select(col("query_id"), col("__qt"), col(idCol),
      array_max(transform(col(vecsCol), dv =>
        aggregate(zip_with(col("__qv"), dv, (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))).as("__m"))
    val scored = perTok.groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__m")).cast("double").as("score"))
    takeTopK(scored, idCol, k)
  }

  /** SEMANTIC decontamination support: per train row, the maximum cosine
    * against a benchmark/eval embedding set — the embedding-space
    * sibling of the n-gram leak scrub ([[DedupOps.contaminated]]): a
    * paraphrased eval item shares no 8-gram but sits next to its source
    * in embedding space.
    *
    * Scale shape: eval sets are benchmark-sized, so the whole set
    * broadcasts and the corpus is scanned ONCE (train × broadcast-eval
    * expansion, then one max-agg per train row keyed by id — map-side
    * partials bound it). Nothing all-pairs over the corpus.
    *
    * `maxEvalRows` (default 100k) is a loud guard against passing a
    * CORPUS as `eval`: the operator's whole design is a broadcast
    * expansion, so a corpus-sized eval side would be an accidental n²
    * cross join. The pre-count is one cheap job over the (small) eval
    * side — and when the side is NOT small, failing before the cross
    * join is exactly the point.
    */
  def maxEvalCosine(train: DataFrame, eval: DataFrame, idCol: String,
                    vecCol: String, roundDigits: Int = 4,
                    maxEvalRows: Long = 100000L): DataFrame = {
    val evalCount = eval.limit(Math.toIntExact(maxEvalRows) + 1).count()
    require(evalCount <= maxEvalRows,
      s"maxEvalCosine eval side exceeds $maxEvalRows rows — it is broadcast " +
        "whole against every train row, so a corpus-sized eval set makes this " +
        "an all-pairs cross join. Pass the benchmark/eval slice, not a corpus " +
        "(or raise maxEvalRows deliberately).")
    val scale = math.pow(10, roundDigits)
    val ev = broadcast(eval.select(col(vecCol).as("__ev")))
    train.select(col(idCol), col(vecCol).as("__tv"))
      .crossJoin(ev)
      .withColumn("__cos",
        floor(cosine(col("__tv"), col("__ev")) * scale + lit(0.5)) / scale)
      .groupBy(col(idCol))
      .agg(max(col("__cos")).as("max_eval_cos"))
  }

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein 1998)
    * — the standard retrieval DIVERSIFIER: from a per-query candidate
    * pool, greedily pick k results maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` so near-duplicate hits
    * don't crowd the result list.
    *
    * Determinism: relevance and candidate-pair similarities arrive
    * MILLI-QUANTIZED (the caller floors the established cosine), λ as
    * the integer fraction lamNum/lamDen, so the running score
    * `lamNum·rel − (lamDen−lamNum)·maxsim` is exact integer arithmetic
    * and the argmax (score desc, id asc) is a strict total order the
    * oracle replays round by round.
    *
    * Scale shape: candidate pools are k-bounded per query BY
    * CONSTRUCTION (they come from a top-k), so the pairwise `sims`
    * input is O(k²) per query and each of the k rounds is a bounded
    * join + max aggregate + per-query argmax — distributed over
    * queries, never a driver collect (query batches can be millions of
    * rows at serving scale). Per-round localCheckpoint keeps the
    * iterative lineage flat, the [[graft.ops.GraphOps]] posture.
    *
    * Inputs: `cands` = (queryCol, idCol, relCol: milli long);
    * `sims` = (queryCol, id_a, id_b, simCol: milli long), DIRECTED
    * both ways. Output: (queryCol, rank, idCol, mmr_milli).
    */
  def mmrSelect(cands: DataFrame, sims: DataFrame, queryCol: String,
                idCol: String, relCol: String, simCol: String, k: Int,
                lamNum: Int = 7, lamDen: Int = 10): DataFrame = {
    require(k >= 1 && lamNum >= 0 && lamNum <= lamDen)
    val c = cands.select(col(queryCol), col(idCol), col(relCol))
      .localCheckpoint(true)
    val muNum = lamDen - lamNum
    def argmax(scored: DataFrame, rank: Int): DataFrame =
      scored
        .groupBy(col(queryCol))
        .agg(min(struct((col("__mmr") * -1L).as("__neg"), col(idCol)))
          .as("__best"))
        .select(col(queryCol), lit(rank).as("rank"),
          col(s"__best.$idCol").as(idCol),
          (col("__best.__neg") * -1L).as("mmr_milli"))
    var selected = argmax(
      c.withColumn("__mmr", col(relCol) * lamNum), 1).localCheckpoint(true)
    var r = 2
    while (r <= k) {
      val unsel = c.join(selected.select(col(queryCol), col(idCol)),
        Seq(queryCol, idCol), "left_anti")
      // LEFT-join the redundancy penalty: a candidate with no sims row
      // against any already-selected item is maximally DIVERSE (penalty
      // 0), not disqualified — an inner join here would silently drop
      // it from every later round whenever the caller's pairwise pool
      // is incomplete, returning fewer than k rows with no error.
      val pen = sims.withColumnRenamed("id_a", idCol)
        .join(selected.select(col(queryCol), col(idCol).as("id_b")),
          Seq(queryCol, "id_b"))
        .groupBy(col(queryCol), col(idCol))
        .agg(max(col(simCol)).as("__maxsim"))
      val scored = unsel
        .join(pen, Seq(queryCol, idCol), "left")
        .withColumn("__mmr",
          col(relCol) * lamNum -
            coalesce(col("__maxsim"), lit(0L)) * muNum)
      selected = selected
        .unionByName(argmax(scored, r))
        .localCheckpoint(true)
      r += 1
    }
    selected
  }
}
