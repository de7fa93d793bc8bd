package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Repetition-based document quality (the Gopher/MassiveText family of
  * filters — Rae et al. 2021 §A1.1): documents dominated by a few repeated
  * n-grams are boilerplate/spam and get dropped before LLM training. The
  * engine-level primitives here are the per-document repetition statistics
  * plus a configurable gate.
  *
  * Scale shape: one `explode` per n-gram order, aggregated by
  * (doc_id, gram) then by doc_id — both hash aggregations with map-side
  * partials, partitioned by doc id, no windows and no self-joins. Bigrams
  * are built with `zip_with` on the token array BEFORE exploding (no
  * per-doc sort window to pair neighbours). At 100 TB this is
  * embarrassingly parallel in the document dimension.
  */
object TextQualityOps {

  // the ONE corpus tokenizer — chunker, packer and the SQL oracles all
  // assume this exact definition, so no local re-derivation
  private def toks(textCol: Column): Column = TextOps.tokens(textCol)

  // Materialize a subtree that several model-table branches consume —
  // the LM ladders fan the tokenized corpus into a dozen independent
  // aggregations, and without this every count table re-runs the scan +
  // regex tokenize + shingle explode from the source (measured: the
  // dominant cost of every kn/kn5 bench row). Same spill/checkpoint
  // contract as the dedup family's intermediates.
  private def mat(df: DataFrame, name: String): DataFrame =
    DedupOps.materialize(df, name)

  // Tokenize-and-materialize with REAL scan parallelism: a single-file
  // corpus scans as 1-2 partitions, so without an explicit exchange the
  // tokenize pass AND every branch's first aggregation stage above the
  // materialized arrays run near-serially no matter how many cores the
  // session has (the r18 driver's 8-vs-32-core inversion). Repartition
  // the (id, text) rows — the cheap proxy, before the regex tokenize —
  // to defaultParallelism, so tokenization and the downstream fan-out
  // parallelize, and the checkpoint/parquet intermediate carries that
  // partition count to every consumer (guide §2/§6; holds at cluster
  // scale, where the intermediate table's file count sets downstream
  // parallelism).
  private def matToks(df: DataFrame, docId: String, textCol: String,
                      extraCols: Seq[Column], name: String): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    mat(df.select(col(docId) +: col(textCol) +: extraCols: _*)
      .repartition(p)
      .select(col(docId) +: toks(col(textCol)).as("__l") +: extraCols: _*),
      name)
  }

  /** Per-document repetition statistics:
    *  - `n_tokens`, `n_distinct`
    *  - `top_unigram_frac`: count of the most frequent token / n_tokens
    *  - `dup_token_frac`: fraction of tokens whose token occurs more than
    *    once (mass of all duplicated unigrams)
    *  - `top_bigram_frac`: count of the most frequent bigram / n_bigrams
    */
  def repetitionStats(df: DataFrame, docId: String, textCol: String): DataFrame = {
    val base = df.select(col(docId), toks(col(textCol)).as("__t"))
      // bigrams without a window: pair arr[i] with arr[i+1] via zip_with
      .withColumn("__b",
        when(size(col("__t")) > 1,
          zip_with(slice(col("__t"), lit(1), size(col("__t")) - 1),
            slice(col("__t"), lit(2), size(col("__t")) - 1),
            (a, b) => concat_ws(" ", a, b)))
          .otherwise(array().cast("array<string>")))

    val uni = base.select(col(docId), explode(col("__t")).as("g"))
      .groupBy(col(docId), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(docId))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("__top_uni"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).as("__dup_mass"))

    val bi = base.select(col(docId), explode(col("__b")).as("g"))
      .groupBy(col(docId), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(docId))
      .agg(sum(col("c")).as("__n_bi"), max(col("c")).as("__top_bi"))

    // left join: a 0/1-token doc has no bigrams but still gets stats
    uni.join(bi, Seq(docId), "left")
      .select(col(docId),
        col("n_tokens"), col("n_distinct"),
        (col("__top_uni") / col("n_tokens")).as("top_unigram_frac"),
        (col("__dup_mass") / col("n_tokens")).as("dup_token_frac"),
        coalesce(col("__top_bi") / col("__n_bi"), lit(0.0)).as("top_bigram_frac"))
  }

  /** Quality gate over [[repetitionStats]] output: keep documents inside
    * the token-count band whose repetition fractions stay under the caps
    * (Gopher-style thresholds, tunable per corpus).
    */
  def qualityGate(stats: DataFrame, minTokens: Long = 50, maxTokens: Long = 100000,
                  maxTopUnigramFrac: Double = 0.2,
                  maxDupTokenFrac: Double = 0.8,
                  maxTopBigramFrac: Double = 0.1): DataFrame =
    stats.withColumn("quality_pass",
      col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
        col("top_unigram_frac") <= maxTopUnigramFrac &&
        col("dup_token_frac") <= maxDupTokenFrac &&
        col("top_bigram_frac") <= maxTopBigramFrac)

  /** The REST of the Gopher rule set (Rae et al. 2021 §A1.1) beyond the
    * repetition fractions: per document —
    *
    *  - `n_words`, `mean_word_len` (the published gate keeps 3–10);
    *  - `frac_alpha_words`: words containing at least one alphabetic
    *    character (gate ≥ 0.8 — OCR junk and markup soup fail here);
    *  - `frac_symbol_words`: words carrying `#` or ellipsis (gate ≤ 0.1);
    *  - line shape over `\n`-split lines: `n_lines`,
    *    `frac_bullet_lines` (leading -, *, • — gate ≤ 0.9),
    *    `frac_ellipsis_lines` (trailing ... or … — gate ≤ 0.3),
    *    `frac_dup_lines` (1 − distinct/total — WITHIN-document
    *    boilerplate, distinct from the corpus-wide [[DedupOps.lineDedup]]);
    *  - `gopher_pass`: the conjunction at the published thresholds.
    *
    * All fractions are floor-rounded to 4dp BEFORE the gate compares, so
    * the verdict is bit-identical across engines. Pure per-document
    * arithmetic — one projection, no joins, no windows, embarrassingly
    * parallel in the document dimension.
    */
  def gopherRules(df: DataFrame, docId: String, textCol: String): DataFrame = {
    val r4 = (c: Column) => floor(c * 1e4 + lit(0.5)) / 1e4
    val base = df.select(col(docId), toks(col(textCol)).as("__w"),
      transform(split(col(textCol), "\n"), l => trim(l)).as("__l"))
    val n = size(col("__w")).cast("long")
    val nl = size(col("__l")).cast("long")
    val nD = n.cast("double")
    val nlD = nl.cast("double")
    val scored = base.select(col(docId),
      n.as("n_words"),
      r4(aggregate(col("__w"), lit(0L), (a, w) => a + length(w)).cast("double")
        / nD).as("mean_word_len"),
      r4(size(filter(col("__w"), w => w.rlike("\\p{L}"))).cast("double") / nD)
        .as("frac_alpha_words"),
      r4(size(filter(col("__w"), w =>
        w.contains("#") || w.contains("...") || w.contains("…")))
        .cast("double") / nD).as("frac_symbol_words"),
      nl.as("n_lines"),
      r4(size(filter(col("__l"), l =>
        l.startsWith("-") || l.startsWith("*") || l.startsWith("•")))
        .cast("double") / nlD).as("frac_bullet_lines"),
      r4(size(filter(col("__l"), l =>
        l.endsWith("...") || l.endsWith("…"))).cast("double") / nlD)
        .as("frac_ellipsis_lines"),
      r4((nl - size(array_distinct(col("__l")))).cast("double") / nlD)
        .as("frac_dup_lines"))
    scored.withColumn("gopher_pass",
      col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
        col("frac_alpha_words") >= 0.8 &&
        col("frac_symbol_words") <= 0.1 &&
        col("frac_bullet_lines") <= 0.9 &&
        col("frac_ellipsis_lines") <= 0.3)
  }

  /** The C4 cleaning rules (Raffel et al. 2020 §2.2) — the third
    * published rule family next to Gopher shape rules and CCNet LM
    * gates, operating line-first:
    *
    *  - LINE filter: keep lines that end in terminal punctuation
    *    (`.`/`!`/`?`/`"`) AND carry at least `minLineWords` words;
    *    lines containing "javascript" (case-insensitive) are dropped
    *    regardless (cookie/JS boilerplate);
    *  - PAGE filter: drop any page containing "lorem ipsum"
    *    (case-insensitive) or a curly brace (code leakage), or whose
    *    KEPT line count is below `minLines` (C4's ≥-sentences rule with
    *    kept terminal-punctuated lines as the sentence proxy).
    *
    * Output per document: `n_lines`, `n_kept`, `n_words_kept`,
    * `has_lorem`, `has_brace`, `page_keep`, and `text_kept` (the
    * surviving lines re-joined — what downstream tokenization consumes).
    * One projection over the line array — no joins, no windows, no
    * shuffles before the caller's own aggregation.
    */
  def c4Rules(df: DataFrame, docId: String, textCol: String,
              minLineWords: Int = 3, minLines: Int = 3): DataFrame = {
    val lines = transform(split(col(textCol), "\n"), l => trim(l))
    val isKept = (l: Column) =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
        l.endsWith("\"")) &&
        size(split(l, "\\s+")) >= minLineWords &&
        !lower(l).contains("javascript")
    val base = df.select(col(docId), col(textCol).as("__t"), lines.as("__l"))
      .withColumn("__kept", filter(col("__l"), isKept))
    base.select(col(docId),
      size(col("__l")).cast("long").as("n_lines"),
      size(col("__kept")).cast("long").as("n_kept"),
      aggregate(col("__kept"), lit(0L),
        (a, l) => a + size(split(l, "\\s+"))).as("n_words_kept"),
      lower(col("__t")).contains("lorem ipsum").as("has_lorem"),
      (col("__t").contains("{") || col("__t").contains("}")).as("has_brace"),
      (!lower(col("__t")).contains("lorem ipsum") &&
        !col("__t").contains("{") && !col("__t").contains("}") &&
        size(col("__kept")) >= minLines).as("page_keep"),
      array_join(col("__kept"), " ").as("text_kept"))
  }

  /** C4's page-level BLOCKLIST filter (Raffel et al. 2020 §2.2 — the
    * "bad words" gate applied alongside the line rules): a page
    * containing ANY blocklisted token drops. Token-level membership
    * (not substring — "scunthorpe" must survive a "thorpe"-free list),
    * list broadcast as a literal array, `arrays_overlap` + a filter
    * count, all codegen'd scan-side. The embedded default list is a
    * small spam/adult-lite REPRESENTATIVE set; a production deployment
    * swaps in the full public blocklist — the mechanism, not the
    * lexicon, is what the engine certifies.
    */
  def blocklistFilter(df: DataFrame, docId: String, textCol: String,
                      words: Seq[String] = DefaultBlocklist): DataFrame = {
    val lst = typedlit(words)
    val t = TextOps.tokens(col(textCol))
    df.select(col(docId), t.as("__t"))
      .select(col(docId),
        size(filter(col("__t"), x => array_contains(lst, x)))
          .cast("long").as("n_blocked"),
        (!arrays_overlap(col("__t"), lst)).as("keep_blocklist"))
  }

  val DefaultBlocklist: Seq[String] =
    Seq("casino", "viagra", "xxx", "porn", "gambling", "escort")

  /** Language-model quality scoring, the CCNet/perplexity-filter family
    * (Wenzek et al. 2020): score each document by the mean add-one-
    * smoothed unigram log-probability of its tokens under the corpus's
    * own LM. Junk (random strings, OCR noise, rare-token soup) scores
    * far below fluent text; a downstream gate keeps the head of the
    * distribution.
    *
    * Two passes over the corpus:
    *  1. the LM — token counts df-capped DETERMINISTICALLY at `maxVocab`
    *    entries (count desc, token asc): the droppped Zipf tail is
    *    singleton junk, and the cap bounds what ships to every scorer
    *    task at 100 TB (the same cap argument as BPE's vocab pass).
    *    Smoothing totals N (all tokens) and V (all distinct tokens) are
    *    computed BEFORE the cap, so the cap only moves tail tokens to
    *    the unseen bucket — it never changes the denominator.
    *  2. scoring — exploded tokens left-join the capped LM (a broadcast
    *    at real scale: maxVocab rows) and aggregate per document:
    *    `n_tokens`, `n_oov` (tokens outside the capped LM — itself a
    *    useful junk signal, and exactly integer), and `avg_logprob` =
    *    mean ln((c+1)/(N+V)), with c = 0 for unseen.
    *
    * Perplexity is `exp(-avg_logprob)` — left to the caller: exp would
    * re-amplify the rounded mean into a magnitude where a 4-decimal
    * hash compare tests float library bits, not engine correctness.
    */
  def unigramLogProb(df: DataFrame, docId: String, textCol: String,
                     maxVocab: Int = 65536): DataFrame = {
    // tokenize once (500-doc-sized token arrays — cheap to hold), then
    // derive the three exploded consumers (totals, capped LM, scoring
    // join) from the materialized arrays instead of three regex passes
    val arr = matToks(df, docId, textCol, Nil, "unilm-arr")
    val tok = arr.select(col(docId), explode(col("__l")).as("t"))
    val totals = tok.agg(count(lit(1)).as("__n"),
      count_distinct(col("t")).as("__v"))
    val lm = capped(tok.groupBy(col("t")).agg(count(lit(1)).as("c")), Nil, "t", "c", maxVocab)
    tok.join(broadcast(lm), Seq("t"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_oov"),
        round4(avg(log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double")
          / (col("__n") + col("__v")).cast("double")))).as("avg_logprob"))
  }

  /** BIGRAM conditional LM score — one order up from
    * [[unigramLogProb]] toward the n-gram perplexity filter CCNet
    * actually ships: per document, the mean add-one-smoothed
    * `ln p(w₂|w₁) = ln (c(w₁w₂)+1) / (c(w₁)+V)` under the corpus's own
    * counts. Both count tables are df-capped deterministically at
    * `maxVocab` (count desc / gram asc — the cap only moves tail grams
    * to the unseen bucket) and broadcast; `V` (distinct unigrams) is
    * computed PRE-cap, same posture as the unigram scorer. `n_oov2`
    * (bigrams outside the capped table) is the junk signal: templated
    * text repeats few bigrams, gibberish hits none.
    *
    * Docs with fewer than 2 tokens have no bigram evidence and are
    * absent, like the unigram scorer's empty docs.
    */
  def bigramLogProb(df: DataFrame, docId: String, textCol: String,
                    maxVocab: Int = 65536): DataFrame = {
    // tokenize once: the unigram branches (totals, capped table) and both
    // bigram consumers (capped table, scoring join) all derive from arr
    val arr = matToks(df, docId, textCol, Nil, "bilm-arr")
    val tok = arr.select(col(docId), explode(col("__l")).as("t"))
    val totals = tok.agg(count_distinct(col("t")).as("__v"))
    val uni = capped(tok.groupBy(col("t")).agg(count(lit(1)).as("c1")), Nil, "t", "c1", maxVocab)
      .withColumnRenamed("t", "w1")
    // token array materialized into its own column BEFORE shinglesOf —
    // the documented O(tokens²) re-split trap of passing tokens() inline
    val bi = arr
      .select(col(docId), explode(TextOps.shinglesOf(col("__l"), 2)).as("b"))
      .withColumn("w1", split(col("b"), " ").getItem(0))
    val blm = capped(bi.groupBy(col("b")).agg(count(lit(1)).as("c2")), Nil, "b", "c2", maxVocab)
    bi.join(broadcast(blm), Seq("b"), "left")
      .join(broadcast(uni), Seq("w1"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_oov2"),
        round4(avg(log((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double")
          / (coalesce(col("c1"), lit(0L)) + col("__v")).cast("double")))).as("avg_logprob2"))
  }

  /** INTERPOLATED TRIGRAM LM score — the next order up from
    * [[bigramLogProb]], closing most of the gap to CCNet's 5-gram
    * perplexity filter with the same df-capped broadcast design:
    * per trigram position, fixed-weight Jelinek-Mercer interpolation of
    * three add-one-smoothed conditionals
    *
    *   p = λ₃·(c(w₁w₂w₃)+1)/(c(w₁w₂)+V)
    *     + λ₂·(c(w₂w₃)+1)/(c(w₂)+V)
    *     + λ₁·(c(w₃)+1)/(N+V)
    *
    * so an unseen trigram backs off smoothly to bigram and unigram
    * evidence instead of cratering to the add-one floor. Fixed λ (no EM
    * fitting) keeps the score deterministic and oracle-replayable; all
    * three count tables are df-capped deterministically at `maxVocab`
    * (count desc / gram asc) and broadcast — the scorer's working set is
    * three bounded tables regardless of corpus size, and N/V totals are
    * computed PRE-cap (the cap only moves tail grams to the unseen
    * bucket). `n_oov3` (trigrams outside the capped table) is the junk
    * signal at this order. Docs with fewer than 3 tokens are absent.
    */
  def trigramLogProb(df: DataFrame, docId: String, textCol: String,
                     maxVocab: Int = 65536, l3: Double = 0.6,
                     l2: Double = 0.3, l1: Double = 0.1): DataFrame =
    trigramMean(trigramPositions(df, docId, textCol, Nil, maxVocab, l3, l2, l1),
      docId, Nil)

  /** MIN-K% PROB membership signal (Shi et al. 2023, "Detecting
    * Pretraining Data from Large Language Models"): the mean of the
    * LOWEST k% per-position log-probabilities under the corpus LM —
    * a member document's surprising tail is thin, a non-member's is
    * fat, and the bottom-k mean separates them far better than the
    * full mean. Positions score under the same interpolated trigram
    * arithmetic as [[trigramLogProb]]; per-position log-probs are
    * quantized to MILLI INTEGERS before ranking (the Viterbi lesson —
    * a libm ulp must not flip a selection), selection ties break on
    * position, and the bottom-⌈n/ (100/k)⌉ mean is emitted as an
    * integer-exact e4 value via truncating division (identical in
    * Spark `div` and DuckDB `//`, negative sums included).
    *
    * Scale shape: the [[trigramLogProb]] broadcast-join ladder plus
    * ONE window partitioned by doc (per-doc bounded, the text_tfidf
    * family) — no corpus-wide ordering.
    *
    * Output: (docId, n_trigrams, k_used, mink_e4, full_e4).
    */
  def minkProb(df: DataFrame, docId: String, textCol: String,
               pctK: Int = 20, maxVocab: Int = 65536): DataFrame = {
    require(pctK >= 1 && pctK <= 100)
    val scored = trigramPositions(df, docId, textCol, Nil, maxVocab, 0.6, 0.3, 0.1)
      .select(col(docId), col("pos"), floor(log(col("__p3")) * 1000).cast("long").as("lp"))
    val w = Window.partitionBy(col(docId)).orderBy(col("lp").asc, col("pos").asc)
    scored
      .withColumn("__rn", row_number().over(w))
      .withColumn("__nt", count(lit(1)).over(Window.partitionBy(col(docId))))
      .withColumn("__k", expr(s"(__nt * $pctK + 99) div 100"))
      .groupBy(col(docId))
      .agg(first(col("__nt")).as("n_trigrams"),
        first(col("__k")).as("k_used"),
        expr("(sum(CASE WHEN __rn <= __k THEN lp ELSE 0 END) * 10) div max(__k)")
          .as("mink_e4"),
        expr("(sum(lp) * 10) div max(__nt)").as("full_e4"))
      .withColumn("n_trigrams", col("n_trigrams").cast("long"))
      .withColumn("k_used", col("k_used").cast("long"))
  }

  /** The interpolated trigram model scored at every trigram position:
    * `(docId, keys…, pos, ct, __p3)`, with `ct` the position's capped
    * trigram count (null when out of the table) and `__p3` its
    * interpolated probability. Every count table, total and cap is keyed
    * by `keys` (none, or the language column), so a keyed document is
    * scored under its own group's counts only, with the group's V driving
    * its add-one floors. Tokenized once; the exploded rows feed both the
    * capped trigram table and the scoring joins.
    */
  private def trigramPositions(df: DataFrame, docId: String, textCol: String,
                               keys: Seq[String], maxVocab: Int, l3: Double,
                               l2: Double, l1: Double): DataFrame = {
    require(math.abs(l3 + l2 + l1 - 1.0) < 1e-9, "interpolation weights must sum to 1")
    val k = keys.map(col)
    val arr = matToks(df, docId, textCol, k, "trilm-arr")
    val tok = arr.select(k :+ explode(col("__l")).as("t"): _*)
    val totals = tok.groupBy(k: _*).agg(count(lit(1)).as("__n"),
      count_distinct(col("t")).as("__v"))
    val uni = capped(tok.groupBy(k :+ col("t"): _*).agg(count(lit(1)).as("cu")),
      keys, "t", "cu", maxVocab)
    val tri = arr
      .select(col(docId) +: k :+
        posexplode(TextOps.shinglesOf(col("__l"), 3)).as(Seq("pos", "g3")): _*)
      .withColumn("__p", split(col("g3"), " "))
      .withColumn("b12", concat_ws(" ", col("__p").getItem(0), col("__p").getItem(1)))
      .withColumn("b23", concat_ws(" ", col("__p").getItem(1), col("__p").getItem(2)))
      .withColumn("w2", col("__p").getItem(1))
      .withColumn("w3", col("__p").getItem(2))
      .drop("__p")
    val blm = capped(arr.select(k :+ explode(TextOps.shinglesOf(col("__l"), 2)).as("b"): _*)
      .groupBy(k :+ col("b"): _*).agg(count(lit(1)).as("cb")), keys, "b", "cb", maxVocab)
    val tlm = capped(tri.groupBy(k :+ col("g3"): _*).agg(count(lit(1)).as("ct")),
      keys, "g3", "ct", maxVocab)
    val c = (x: String) => coalesce(col(x), lit(0L)).cast("double")
    withScalars(tri
      .join(broadcast(tlm), keys :+ "g3", "left")
      .join(broadcast(blm.withColumnRenamed("b", "b12")
        .withColumnRenamed("cb", "cb12")), keys :+ "b12", "left")
      .join(broadcast(blm.withColumnRenamed("b", "b23")
        .withColumnRenamed("cb", "cb23")), keys :+ "b23", "left")
      .join(broadcast(uni.withColumnRenamed("t", "w2")
        .withColumnRenamed("cu", "cu2")), keys :+ "w2", "left")
      .join(broadcast(uni.withColumnRenamed("t", "w3")
        .withColumnRenamed("cu", "cu3")), keys :+ "w3", "left"), keys, totals)
      .select(Seq(col(docId)) ++ k ++ Seq(col("pos"), col("ct"),
        (lit(l3) * (c("ct") + 1.0) / (c("cb12") + col("__v")) +
          lit(l2) * (c("cb23") + 1.0) / (c("cu2") + col("__v")) +
          lit(l1) * (c("cu3") + 1.0) / (col("__n") + col("__v"))).as("__p3")): _*)
  }

  /** Per-document mean of [[trigramPositions]]' log-probabilities. */
  private def trigramMean(positions: DataFrame, docId: String,
                          keys: Seq[String]): DataFrame =
    positions.groupBy(col(docId) +: keys.map(col): _*)
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("ct").isNull, 1L).otherwise(0L)).as("n_oov3"),
        round4(avg(log(col("__p3")))).as("avg_logprob3"))

  /** MODIFIED KNESER-NEY trigram LM score — the smoothing CCNet's
    * published 5-gram filter actually uses (Kneser & Ney 1995; the
    * three-discount "modified" variant of Chen & Goodman 1999),
    * replacing [[trigramLogProb]]'s fixed-weight Jelinek-Mercer
    * interpolation with count-dependent absolute discounting over
    * CONTINUATION counts:
    *
    *   p(w₃|w₁w₂) = (c(w₁w₂w₃) − D(c))⁺/c(w₁w₂) + γ(w₁w₂)·p(w₃|w₂)
    *   p(w₃|w₂)   = (N₁₊(•w₂w₃) − D′(N))⁺/N₁₊(•w₂•) + γ′(w₂)·p(w₃)
    *   p(w₃)      = (N₁₊(•w₃) + 1)/(N₁₊(••) + V)     [add-one for OOV]
    *
    * with per-order discounts D₁,D₂,D₃₊ from the count-of-counts
    * (Y = n₁/(n₁+2n₂); Dᵢ = i − (i+1)·Y·nᵢ₊₁/nᵢ, clamped ≥ 0, slot
    * defaults 0.5/1.0/1.5 when a count-of-count is empty) and backoff
    * mass γ = (D₁N₁ + D₂N₂ + D₃₊N₃₊)/denominator. A context absent
    * from its (capped) table falls through to the next order whole.
    *
    * This is [[knLogProb]] at order 3: every model table df-capped
    * deterministically (magnitude desc / key asc) at `maxVocab` and
    * broadcast; count-of-counts and totals are tiny aggregates over the
    * PRE-cap tables. All discount arithmetic is closed-form over
    * integers, so the oracle replays it to the bit. `ln` takes a 1e-10
    * floor (a pathological corpus could zero every γ); docs with < 3
    * tokens are absent.
    *
    * Output: (docId, n_trigrams, n_oov3, avg_logprob_kn).
    */
  def knTrigramLogProb(df: DataFrame, docId: String, textCol: String,
                       maxVocab: Int = 65536): DataFrame =
    knLogProb(df, docId, textCol, 3, Nil, maxVocab)

  /** PER-LANGUAGE interpolated trigram LM score — the sharding CCNet
    * actually runs (Wenzek et al. 2020 §3.2-3.3 train ONE LM per
    * language and bucket within the language): the [[trigramLogProb]]
    * model with every table, total, and cap keyed by `langCol`.
    * A French document is scored under the French counts only; the
    * per-language vocabulary size V_lang drives its own add-one floors.
    *
    * Scale shape: counts aggregate by (lang, gram) — still map-side
    * partials, one shuffle per order; the deterministic df-cap becomes
    * a row_number window over the MODEL table partitioned by lang
    * (gram-vocabulary-sized, never documents); per-language totals are
    * a #langs-row broadcast joined on lang. The interpolation arithmetic
    * is the global scorer's, so the oracle replays the lang-keyed model.
    */
  def langTrigramLogProb(df: DataFrame, docId: String, textCol: String,
                         langCol: String, maxVocab: Int = 65536,
                         l3: Double = 0.6, l2: Double = 0.3,
                         l1: Double = 0.1): DataFrame =
    trigramMean(trigramPositions(df, docId, textCol, Seq(langCol), maxVocab,
      l3, l2, l1), docId, Seq(langCol))

  /** PER-LANGUAGE perplexity bucketing — CCNet's published shard shape:
    * [[langTrigramLogProb]] scores under each language's own LM, then
    * head/middle/tail terciles WITHIN each language (an easy language
    * must not crowd a hard one out of the head). The [[bucketize]]
    * terciles keyed by lang: the cumulative window runs over (lang,
    * centi-cell) histogram rows, never documents, and assignment is a
    * #langs-row broadcast.
    */
  def langPerplexityBuckets(df: DataFrame, docId: String, textCol: String,
                            langCol: String,
                            maxVocab: Int = 65536): DataFrame =
    bucketize(langTrigramLogProb(df, docId, textCol, langCol, maxVocab),
      docId, "avg_logprob3", Seq(langCol))

  /** CCNet-style PERPLEXITY BUCKETING (Wenzek et al. 2020 §3.3): score
    * every document under the corpus LM ([[trigramLogProb]]), then
    * split the corpus into equal-count head / middle / tail buckets —
    * the head is what CCNet keeps for training, the tail is dropped,
    * the middle is the tunable margin. Thresholds come from
    * [[bucketize]] without a corpus sort.
    *
    * Output: (docId, avg_logprob3, lp_centi, ppl_bucket); docs with
    * fewer than 3 tokens are absent (no trigram evidence), as in
    * [[trigramLogProb]].
    */
  def perplexityBuckets(df: DataFrame, docId: String, textCol: String,
                        maxVocab: Int = 65536): DataFrame =
    bucketize(trigramLogProb(df, docId, textCol, maxVocab), docId, "avg_logprob3", Nil)

  /** [[perplexityBuckets]] over the modified-KN scorer
    * ([[knTrigramLogProb]]) — CCNet's published combination: KN-smoothed
    * LM scores into head/middle/tail terciles.
    */
  def knPerplexityBuckets(df: DataFrame, docId: String, textCol: String,
                          maxVocab: Int = 65536): DataFrame =
    bucketize(knTrigramLogProb(df, docId, textCol, maxVocab), docId, "avg_logprob_kn", Nil)

  /** MODIFIED KNESER-NEY **5-gram** LM score — the exact order of
    * CCNet's published filter (Wenzek et al. 2020 use KenLM's 5-gram
    * modified-KN models), extending [[knTrigramLogProb]]'s ladder two
    * orders up:
    *
    *   p₅(w₅|w₁..w₄) = (c(g₅) − D₅(c))⁺/c(w₁..w₄) + γ₅·p₄(w₅|w₂w₃w₄)
    *   p₄(w₅|w₂w₃w₄) = (N₁₊(•w₂..w₅) − D₄)⁺/N₁₊(•w₂w₃w₄•) + γ₄·p₃
    *   p₃(w₅|w₃w₄)   = (N₁₊(•w₃w₄w₅) − D₃)⁺/N₁₊(•w₃w₄•)   + γ₃·p₂
    *   p₂(w₅|w₄)     = (N₁₊(•w₄w₅) − D₂)⁺/N₁₊(•w₄•)       + γ₂·p₁
    *   p₁(w₅)        = (N₁₊(•w₅) + 1)/(N₁₊(••) + V)
    *
    * Only the top order uses raw counts; each middle order's ĉ is a
    * continuation count — the number of distinct NEXT-higher-order raw
    * n-gram types ending in the gram (Chen & Goodman 1999 eq. 18) — and
    * each order carries its own three-discount set D₁/D₂/D₃₊ derived
    * from that order's count-of-counts. This is [[knLogProb]] at order 5:
    * nine model tables, each df-capped and broadcast. Docs with < 5
    * tokens are absent (no 5-gram evidence).
    *
    * Output: (docId, n_5grams, n_oov5, avg_logprob_kn5).
    */
  def kn5LogProb(df: DataFrame, docId: String, textCol: String,
                 maxVocab: Int = 65536): DataFrame =
    knLogProb(df, docId, textCol, 5, Nil, maxVocab)

  /** [[perplexityBuckets]] over the 5-gram modified-KN scorer
    * ([[kn5LogProb]]) — the full CCNet recipe at its published order.
    */
  def kn5PerplexityBuckets(df: DataFrame, docId: String, textCol: String,
                           maxVocab: Int = 65536): DataFrame =
    bucketize(kn5LogProb(df, docId, textCol, maxVocab), docId, "avg_logprob_kn5", Nil)

  /** PER-LANGUAGE 5-gram modified-KN perplexity buckets — the EXACT
    * published CCNet recipe (Wenzek et al. 2020 deploy one 5-gram KN
    * model PER LANGUAGE and bucket within the language). The language
    * list is an EXPLICIT whitelist (the way CCNet itself runs — a fixed
    * set of supported languages, not a data-driven discovery), so a
    * regenerated corpus introducing a new language is excluded BY
    * CONSTRUCTION on both engine and oracle sides rather than silently
    * diverging.
    *
    * ONE lang-keyed ladder ([[knLogProb]] keyed by `langCol`) over one
    * tokenize pass, not a union of #langs ladders: the r18/r19 union
    * shape was bistable at 32 cores (quiet medians flapping 36→93 s:
    * five ladders × ~12 branches = ~60 concurrent stages contending
    * however the shared token frame was held). Per-language counts are
    * identical integers (grouping keys partition exactly as the filters
    * did), so each language's rows equal [[kn5PerplexityBuckets]] on its
    * slice.
    *
    * Output: (docId, avg_logprob_kn5, lp_centi, ppl_bucket, lang).
    */
  def langKn5PerplexityBuckets(df: DataFrame, docId: String, textCol: String,
                               langCol: String, langs: Seq[String],
                               maxVocab: Int = 65536): DataFrame = {
    val lang = col(langCol)
    bucketize(knLogProb(df.filter(lang.isin(langs: _*)), docId, textCol, 5,
        Seq(langCol), maxVocab), docId, "avg_logprob_kn5", Seq(langCol))
      .select(col(docId), col("avg_logprob_kn5"), col("lp_centi"), col("ppl_bucket"), lang)
  }

  /** The modified-Kneser-Ney ladder at `order` (3 or 5), with every model
    * table, df-cap, count-of-counts row and total keyed by `keys` (none,
    * or the language column). Per key group the arithmetic is the
    * unkeyed ladder's on that group's slice.
    *
    * For top-order words w₁..w_N, order m's continuation count belongs
    * to the suffix sₘ (the last m words) and its denominator to the
    * context cₘ (sₘ without its last word). The top order counts raw
    * N-grams against the raw (N−1)-gram count of w₁..w_{N−1}; order N−1
    * counts continuations from the N-gram types, each order m < N−1 from
    * the raw (m+1)-gram types, and p₁ from the raw bigram types.
    *
    * Scale shape (r18/r19): the corpus is tokenized and materialized
    * once; the exploded n-gram rows and every count table stay
    * UN-materialized — their aggregation exchanges are shared across
    * consumers by ReuseExchange, and caching the corpus-sized exploded
    * tables measured SLOWER than recomputing them from the cached arrays
    * (r18 bisect: 15.4 s → 40-100 s). Each count table groups by the gram
    * alone and splits its keys off the counted rows: carrying the derived
    * keys through the `groupBy` widens every shuffled row, and measured
    * about 15 % slower at order 3 and 10 % at order 5 (sf0.1, 4 vCPUs).
    * Each order's probability is one column built from the order below
    * it, so the plan holds each expression once (inlined, p₁ appeared 16
    * times at order 5 and the aggregate outgrew Janino's 64 KB method
    * limit).
    *
    * Output: (docId, keys…, n_trigrams | n_5grams, n_oov3 | n_oov5,
    * avg_logprob_kn | avg_logprob_kn5).
    */
  private[ops] def knLogProb(df: DataFrame, docId: String, textCol: String,
                             order: Int, keys: Seq[String], maxVocab: Int): DataFrame = {
    require(order == 3 || order == 5, s"KN order $order")
    val k = keys.map(col)
    def on(cs: String*): Seq[String] = keys ++ cs
    val cap = (t: DataFrame, key: String, cnt: String) => capped(t, keys, key, cnt, maxVocab)
    val arr = matToks(df, docId, textCol, k, s"kn$order-arr")
    val vTot = arr.select(k :+ explode(col("__l")).as("t"): _*)
      .groupBy(k: _*).agg(count_distinct(col("t")).as("__v"))
    // the j-grams as `__g`, split into words in `__p`
    def grams(j: Int, lead: Column*): DataFrame =
      arr.select(lead ++ k :+ explode(TextOps.shinglesOf(col("__l"), j)).as("__g"): _*)
        .withColumn("__p", split(col("__g"), " "))
    // the j-gram counts `__c`, split into words in `__p` again
    def counts(j: Int): DataFrame = grams(j).groupBy(k :+ col("__g"): _*)
      .agg(count(lit(1)).as("__c")).withColumn("__p", split(col("__g"), " "))
    // words i until j of `__p`, space-joined
    def span(i: Int, j: Int): Column =
      if (j - i == 1) col("__p").getItem(i)
      else concat_ws(" ", (i until j).map(col("__p").getItem(_)): _*)
    // count-of-counts n1..n4 of one order's counts (PRE-cap)
    def coc(t: DataFrame, cnt: String, pfx: String): DataFrame =
      t.groupBy(k: _*).agg(
        sum(when(col(cnt) === 1, 1L).otherwise(0L)).as(pfx + "_n1"),
        sum(when(col(cnt) === 2, 1L).otherwise(0L)).as(pfx + "_n2"),
        sum(when(col(cnt) === 3, 1L).otherwise(0L)).as(pfx + "_n3"),
        sum(when(col(cnt) === 4, 1L).otherwise(0L)).as(pfx + "_n4"))
    // follower classes: how many counts are 1, 2 and ≥ 3
    def classes(cnt: String, pfx: String): Seq[Column] = Seq(
      sum(when(col(cnt) === 1, 1L).otherwise(0L)).as(pfx + "1"),
      sum(when(col(cnt) === 2, 1L).otherwise(0L)).as(pfx + "2"),
      sum(when(col(cnt) >= 3, 1L).otherwise(0L)).as(pfx + "3"))
    val mids = (order - 1) to 2 by -1
    val top = grams(order, col(docId)).select(Seq(col(docId)) ++ k ++
      Seq(col("__g"), span(0, order - 1).as("__h")) ++
      mids.flatMap(m => Seq(span(order - m, order).as(s"__s$m"),
        span(order - m, order - 1).as(s"__c$m"))) :+
      span(order - 1, order).as("__w"): _*)
    // N-gram counts with their context and order N−1's suffix/context keys
    val topFull = counts(order).select(k ++ Seq(col("__g"), col("__c").as("__ct"),
      span(0, order - 1).as("__h"), span(1, order).as(s"__s${order - 1}"),
      span(1, order - 1).as(s"__c${order - 1}")): _*)
    val topCounts = topFull.select(k ++ Seq(col("__g"), col("__ct")): _*)
    // raw j-gram counts for 2 ≤ j < order, carrying their suffix (and,
    // above bigrams, the suffix's context) keys
    val raw = (2 until order).map { j =>
      j -> counts(j).select(k ++ Seq(col("__g").as("__q"), col("__c").as("__cq"),
        span(1, j).as("__qs")) ++ (if (j > 2) Seq(span(1, j - 1).as("__qc")) else Nil): _*)
    }.toMap
    // top-order context: the raw (N−1)-gram count + the follower classes
    // of the N-gram types — ONE table so presence is consistent
    val nf = classes("__ct", "__nf")
    val ctx = raw(order - 1).select(k ++ Seq(col("__q").as("__h"), col("__cq").as("__hc")): _*)
      .join(topFull.groupBy(on("__h").map(col): _*).agg(nf.head, nf.tail: _*), on("__h"), "left")
      .select(k ++ Seq(col("__h"), col("__hc")) ++
        (1 to 3).map(i => coalesce(col(s"__nf$i"), lit(0L)).as(s"__nf$i")): _*)
    // middle orders: continuation counts per suffix, their count-of-counts,
    // and the per-context denominators / follower classes
    val middle = mids.map { m =>
      val (s, c, n) = (s"__s$m", s"__c$m", s"__n$m")
      val types =
        if (m == order - 1) topFull.select(k ++ Seq(col(s), col(c)): _*)
        else raw(m + 1).select(k ++ Seq(col("__qs").as(s), col("__qc").as(c)): _*)
      val contF = types.groupBy(on(s, c).map(col): _*).agg(count(lit(1)).as(n))
      val cont = contF.select(k ++ Seq(col(s), col(n)): _*)
      val den = contF.groupBy(on(c).map(col): _*)
        .agg(sum(col(n)).as(s"__d$m"), classes(n, s"__e${m}_"): _*)
      (m, coc(cont, n, s"__k$m"), cap(cont, s, n), cap(den, c, s"__d$m"))
    }
    // lowest order: unigram continuation counts over raw bigram TYPES
    val contW = raw(2).groupBy(on("__qs").map(col): _*).agg(count(lit(1)).as("__nw"))
      .withColumnRenamed("__qs", "__w")
    val nbTot = raw(2).groupBy(k: _*).agg(count(lit(1)).as("__nb"))
    val tables = Seq(cap(topCounts, "__g", "__ct") -> "__g", cap(ctx, "__h", "__hc") -> "__h") ++
      middle.flatMap { case (m, _, cont, den) => Seq(cont -> s"__s$m", den -> s"__c$m") } :+
      (cap(contW, "__w", "__nw") -> "__w")
    val scored = withScalars(
      tables.foldLeft(top) { case (d, (t, key)) => d.join(broadcast(t), on(key), "left") },
      keys, (coc(topCounts, "__ct", s"__k$order") +: middle.map(_._2)) ++ Seq(vTot, nbTot): _*)
    // discounts: Y = n1/(n1+2n2); Di = i - (i+1)·Y·n(i+1)/ni, clamped
    def discounts(pfx: String): Seq[Column] = {
      val n = (1 to 4).map(i => col(s"${pfx}_n$i"))
      val y = n(0).cast("double") / (n(0) + lit(2) * n(1)).cast("double")
      (1 to 3).map(i => when(n(i - 1) > 0 && (n(0) + lit(2) * n(1)) > 0,
        greatest(lit(i.toDouble) - lit(i + 1.0) * y * n(i).cast("double")
          / n(i - 1).cast("double"), lit(0.0))).otherwise(lit(i * 0.5)))
    }
    // one order from the order below: the discounted count over the
    // context's denominator plus the backoff mass; an absent context
    // falls through to `lower` whole
    def level(cnt: Column, den: Column, d: Seq[Column], e: Seq[Column],
              lower: Column): Column = {
      val dOf = when(cnt >= 3, d(2)).when(cnt === 2, d(1)).when(cnt === 1, d(0))
        .otherwise(lit(0.0))
      when(den.isNull, lower).otherwise(
        greatest(cnt.cast("double") - dOf, lit(0.0)) / den.cast("double")
          + ((d(0) * e(0) + d(1) * e(1) + d(2) * e(2)) / den.cast("double")) * lower)
    }
    val p1 = (coalesce(col("__nw"), lit(0L)) + lit(1L)).cast("double") /
      (col("__nb") + col("__v")).cast("double")
    val probs = mids.reverse.foldLeft(scored.withColumn("__pr1", p1)) { (d, m) =>
      d.withColumn(s"__pr$m", level(coalesce(col(s"__n$m"), lit(0L)), col(s"__d$m"),
        discounts(s"__k$m"), (1 to 3).map(i => col(s"__e${m}_$i")), col(s"__pr${m - 1}")))
    }.withColumn("__prN", level(coalesce(col("__ct"), lit(0L)), col("__hc"),
      discounts(s"__k$order"), (1 to 3).map(i => col(s"__nf$i")), col(s"__pr${order - 1}")))
    val (nGrams, nOov, lp) =
      if (order == 3) ("n_trigrams", "n_oov3", "avg_logprob_kn")
      else (s"n_${order}grams", s"n_oov$order", s"avg_logprob_kn$order")
    probs.groupBy(col(docId) +: k: _*)
      .agg(count(lit(1)).as(nGrams),
        sum(when(col("__ct").isNull, 1L).otherwise(0L)).as(nOov),
        round4(avg(log(greatest(col("__prN"), lit(1e-10))))).as(lp))
  }

  /** Deterministic df-cap of a model table: its first `maxVocab` rows by
    * (`cnt` desc, `key` asc) per key group. Without keys this is
    * `orderBy` + `limit`; with keys a `row_number` partitioned by them,
    * over the MODEL table (gram-vocabulary-sized, never documents).
    */
  private def capped(t: DataFrame, keys: Seq[String], key: String, cnt: String,
                     maxVocab: Int): DataFrame = {
    val order = Seq(col(cnt).desc, col(key).asc)
    if (keys.isEmpty) t.orderBy(order: _*).limit(maxVocab)
    else t.withColumn("__r", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col("__r") <= maxVocab).drop("__r")
  }

  /** `df` with each per-group scalar row attached: one-row broadcast
    * cross joins without keys, #groups-row broadcasts joined on the keys
    * with them.
    */
  private def withScalars(df: DataFrame, keys: Seq[String], rows: DataFrame*): DataFrame =
    rows.foldLeft(df)((d, r) =>
      if (keys.isEmpty) d.crossJoin(broadcast(r)) else d.join(broadcast(r), keys))

  /** ⌊x·10⁴ + ½⌋ / 10⁴: the 4-decimal rounding every LM mean leaves with. */
  private def round4(x: Column): Column = floor(x * 1e4 + lit(0.5)) / 1e4

  /** The tercile machinery behind every bucketing front, per key group
    * (none, or the language column): centi-quantize the `score` column,
    * histogram it, take one cumulative count over the bounded cells, and
    * bucket by the inclusive threshold maxima.
    *
    * Thresholds WITHOUT a corpus sort: centi-log-prob integers span a few
    * thousand cells regardless of corpus size, so the histogram is
    * broadcast-sized by construction and the only window runs over its
    * cells (single-partition without keys, deliberately), never over
    * documents. This is the sampled-quantile posture production CCNet
    * uses, made exact and engine-replayable by the quantization. A
    * boundary cell's documents all land in the BETTER bucket, so buckets
    * are equal-count up to boundary-cell ties. `scored` feeds the
    * histogram, the total and the assignment; the three share the
    * scorer's final exchange via ReuseExchange, so materializing it
    * measured as pure overhead (r18 bisect: +1.2 s on the trigram
    * buckets, no gain on kn5).
    *
    * Output: (docId, keys…, score, lp_centi, ppl_bucket).
    */
  private def bucketize(scored: DataFrame, docId: String, score: String,
                        keys: Seq[String]): DataFrame = {
    val k = keys.map(col)
    val centi = scored.withColumn("lp_centi", floor(col(score) * 100).cast("long"))
    val cum = centi.groupBy(k :+ col("lp_centi"): _*).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(
        Window.partitionBy(k: _*).orderBy(col("lp_centi").desc)))
    val ths = withScalars(cum, keys, centi.groupBy(k: _*).agg(count(lit(1)).as("__n")))
      .groupBy(k: _*)
      .agg(
        max(when(col("__cum") >= expr("(__n + 2) div 3"), col("lp_centi")))
          .as("__t1"),
        max(when(col("__cum") >= expr("(2 * __n + 2) div 3"), col("lp_centi")))
          .as("__t2"))
    withScalars(centi, keys, ths)
      .select(Seq(col(docId)) ++ k ++ Seq(col(score), col("lp_centi"),
        when(col("lp_centi") >= col("__t1"), "head")
          .when(col("lp_centi") >= col("__t2"), "middle")
          .otherwise("tail").as("ppl_bucket")): _*)
  }

  /** Compression-ratio quality signal (the MassiveText/Gopher-family
    * cheap gibberish detector): highly repetitive or templated text
    * deflates far below normal prose, random noise barely deflates at
    * all, so `deflated_bytes / raw_bytes` separates both junk tails
    * with ONE scan-side pass and zero linguistic machinery. Built on
    * the engine's own gzip member codec ([[graft.functions.Gzip]]), so
    * the whole signal is a codegen'd projection.
    *
    * Ratio is an integer milli-ratio (⌊1000·deflated/raw⌋) — the
    * gate-threshold arithmetic stays float-free. Compressed size is a
    * zlib-implementation detail, so the TABLE-doc sizes have no
    * cross-engine oracle; certification is layered instead:
    * `roundtrip_ok` (gunzip of the member reproduces the input bytes
    * exactly — computed per row inside the same projection, so the hash
    * gate certifies invertibility corpus-wide), pinned python-zlib
    * sizes over committed fixture docs in the gated query, and the
    * ORDERING properties (repetition < prose < noise) in CorpusOpsSpec.
    *
    * Output: (docId, raw_bytes, deflated_bytes, ratio_milli,
    * roundtrip_ok); docs shorter than `minBytes` get ratio null (too
    * short to mean anything — the empty-document guard).
    */
  def compressionRatio(df: DataFrame, docId: String, textCol: String,
                       minBytes: Int = 32): DataFrame = {
    val raw = octet_length(col(textCol).cast("binary"))
    val member = call_function("gzip_member", col(textCol).cast("binary"))
    val deflated = octet_length(member)
    df.select(col(docId),
      raw.cast("long").as("raw_bytes"),
      deflated.cast("long").as("deflated_bytes"),
      when(raw >= minBytes,
        floor(deflated.cast("double") * 1000 / raw.cast("double")).cast("long"))
        .as("ratio_milli"),
      (call_function("gunzip_all", member) === col(textCol).cast("binary"))
        .as("roundtrip_ok"))
  }
}
