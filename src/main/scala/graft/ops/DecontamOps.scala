package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the n-gram exact-overlap gate (the GPT-3
  * appendix-C / PaLM posture: a training document is contaminated when
  * it shares any length-n token window with an evaluation set; the
  * standard n is 8–13 for web text, lower for short benchmark prompts).
  *
  * Shape at 100 TB: the corpus side is a single linear pass — tokenize,
  * slide an n-token window, md5 each window (the md5 makes the oracle
  * replay engine-independent, the house convention) — and the benchmark
  * side is SMALL by nature (eval suites are at most millions of
  * n-grams), so the membership probe is a broadcast semi-equi-join:
  * corpus rows never shuffle, there is no corpus-side window function,
  * and the per-doc rollup is a partial-aggregating groupBy on doc_id.
  * This is the same candidate-generation discipline as
  * [[DedupOps]]' banded LSH: never all-pairs, never a global sort.
  */
object DecontamOps {

  private val TokPat = "[a-z0-9]+"

  /** Per-document overlap counts against a benchmark table.
    *
    * @param docs  corpus with `docId` and `textCol`
    * @param bench evaluation set with `benchTextCol` (its other columns
    *              are ignored); expected small — it is broadcast
    * @param n     n-gram order
    * @return one row per input doc: `docId, n_contaminated (distinct
    *         overlapping n-grams, 0 for clean docs), is_contaminated`
    */
  def ngramOverlap(docs: DataFrame, docId: String, textCol: String,
                   bench: DataFrame, benchTextCol: String,
                   n: Int): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")

    def grams(df: DataFrame, keyCols: Seq[String], t: String) =
      df.select(keyCols.map(col) :+
          expr(s"regexp_extract_all(lower($t), '$TokPat', 0)").as("__l"): _*)
        .where(expr(s"size(__l) >= $n"))
        .select(keyCols.map(col) :+ explode(expr(
          s"transform(sequence(1, size(__l) - ${n - 1}), " +
            s"i -> md5(concat_ws(' ', slice(__l, i, $n))))")).as("h"): _*)

    val corpusGrams = grams(docs, Seq(docId), textCol)
      .dropDuplicates(docId, "h")
    val benchGrams = grams(bench, Seq.empty, benchTextCol)
      .select(col("h")).distinct()

    val hits = corpusGrams
      .join(broadcast(benchGrams), Seq("h"), "left_semi")
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_contaminated"))

    docs.select(col(docId))
      .join(hits, Seq(docId), "left")
      .select(col(docId),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)) > 0).as("is_contaminated"))
  }

  /** Driver-side benchmark n-gram hash set, CAPPED — the bounded
    * model-table posture (same as the ≤65536-row vocab collects in
    * TextOps): eval suites are small by nature; a "benchmark" bigger
    * than the cap refuses loudly instead of silently OOMing the driver.
    */
  def benchNgramHashes(bench: DataFrame, benchTextCol: String, n: Int,
                       cap: Int = 65536): Array[String] = {
    val grams = bench
      .select(expr(s"regexp_extract_all(lower($benchTextCol), '$TokPat', 0)")
        .as("__l"))
      .where(expr(s"size(__l) >= $n"))
      .select(explode(expr(
        s"transform(sequence(1, size(__l) - ${n - 1}), " +
          s"i -> md5(concat_ws(' ', slice(__l, i, $n))))")).as("h"))
      .distinct()
      .limit(cap + 1)
      .collect().map(_.getString(0))
    require(grams.length <= cap,
      s"benchNgramHashes: benchmark exceeds $cap distinct $n-grams — " +
        "use the distributed ngramOverlap instead")
    grams.sorted
  }

  private val ShingleN = 3
  private val NumHashes = 8
  private val Bands = 4

  /** FUZZY decontamination — MinHash-estimated Jaccard against the
    * benchmark set, catching paraphrase-level and partial overlap the
    * exact n-gram gate misses (the "13-gram with edits" contamination
    * the GPT-4 report describes deduplicating against).
    *
    * Same scale shape as [[ngramOverlap]]: corpus signatures and band
    * keys are one scan-side projection (the native
    * [[graft.functions.MinHashSig]] expression — no explode of corpus
    * shingles, no shuffle), the benchmark's banded signatures broadcast,
    * and the only aggregation is the per-doc rollup. Benchmark items are
    * keyed by md5 of their text so the oracle replays identically.
    *
    * @param estMilliThreshold flag when the best signature-agreement
    *                          estimate reaches this (1000 = all 8
    *                          hashes agree)
    * @return `docId, n_bench_candidates, max_est_milli,
    *         is_fuzzy_contaminated` — one row per input doc
    */
  def minhashOverlap(docs: DataFrame, docId: String, textCol: String,
                     bench: DataFrame, benchTextCol: String,
                     estMilliThreshold: Int): DataFrame = {
    def withSigBands(df: DataFrame, keyCols: Seq[org.apache.spark.sql.Column],
                     t: String, sigName: String, bandName: String) =
      df.select(keyCols :+
          DedupOps.minhashSignatureRow(col(t), ShingleN, NumHashes)
            .as(sigName) :+
          DedupOps.minhashBandsRow(col(t), ShingleN, NumHashes, Bands)
            .as("__bands"): _*)
        .where(col(sigName).isNotNull)
        .select(keyCols :+ col(sigName) :+
          explode(col("__bands")).as(bandName): _*)

    val corpus = withSigBands(docs, Seq(col(docId)), textCol, "__sig", "__cb")
    val benchB = withSigBands(
      bench.select(md5(col(benchTextCol)).as("__bid"), col(benchTextCol)),
      Seq(col("__bid")), benchTextCol, "__bsig", "__bb")

    val est = corpus
      .join(broadcast(benchB), col("__cb") === col("__bb"))
      .dropDuplicates(docId, "__bid")
      .withColumn("__est",
        aggregate(zip_with(col("__sig"), col("__bsig"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (a, x) => a + x) * lit(1000 / NumHashes))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_bench_candidates"),
        max(col("__est")).cast("long").as("max_est_milli"))

    docs.select(col(docId))
      .join(est, Seq(docId), "left")
      .select(col(docId),
        coalesce(col("n_bench_candidates"), lit(0L)).as("n_bench_candidates"),
        coalesce(col("max_est_milli"), lit(0L)).as("max_est_milli"),
        (coalesce(col("max_est_milli"), lit(0L)) >= estMilliThreshold)
          .as("is_fuzzy_contaminated"))
  }
}
