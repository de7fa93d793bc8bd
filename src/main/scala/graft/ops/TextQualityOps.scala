package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
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
    val lm = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t").asc)
      .limit(maxVocab)
    tok.join(broadcast(lm), Seq("t"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_oov"),
        (floor(avg(log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double")
          / (col("__n") + col("__v")).cast("double"))) * 1e4 + lit(0.5)) / 1e4)
          .as("avg_logprob"))
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
    val uni = tok.groupBy(col("t")).agg(count(lit(1)).as("c1"))
      .orderBy(col("c1").desc, col("t").asc)
      .limit(maxVocab)
      .withColumnRenamed("t", "w1")
    // token array materialized into its own column BEFORE shinglesOf —
    // the documented O(tokens²) re-split trap of passing tokens() inline
    val bi = arr
      .select(col(docId), explode(TextOps.shinglesOf(col("__l"), 2)).as("b"))
      .withColumn("w1", split(col("b"), " ").getItem(0))
    val blm = bi.groupBy(col("b")).agg(count(lit(1)).as("c2"))
      .orderBy(col("c2").desc, col("b").asc)
      .limit(maxVocab)
    bi.join(broadcast(blm), Seq("b"), "left")
      .join(broadcast(uni), Seq("w1"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_oov2"),
        (floor(avg(log((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double")
          / (coalesce(col("c1"), lit(0L)) + col("__v")).cast("double"))) * 1e4
          + lit(0.5)) / 1e4).as("avg_logprob2"))
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
                     l2: Double = 0.3, l1: Double = 0.1): DataFrame = {
    require(math.abs(l3 + l2 + l1 - 1.0) < 1e-9, "interpolation weights must sum to 1")
    // token arrays materialized once — five model/total branches plus the
    // scoring join all fan out from arr, and the trigram rows feed both
    // the capped table and the scoring join
    val arr = matToks(df, docId, textCol, Nil, "trilm-arr")
    val tok = arr.select(col(docId), explode(col("__l")).as("t"))
    val totals = tok.agg(count(lit(1)).as("__n"),
      count_distinct(col("t")).as("__v"))
    val uni = tok.groupBy(col("t")).agg(count(lit(1)).as("cu"))
      .orderBy(col("cu").desc, col("t").asc)
      .limit(maxVocab)
    val tri = arr
      .select(col(docId), explode(TextOps.shinglesOf(col("__l"), 3)).as("g3"))
      .withColumn("__p", split(col("g3"), " "))
      .withColumn("b12", concat_ws(" ", col("__p").getItem(0), col("__p").getItem(1)))
      .withColumn("b23", concat_ws(" ", col("__p").getItem(1), col("__p").getItem(2)))
      .withColumn("w2", col("__p").getItem(1))
      .withColumn("w3", col("__p").getItem(2))
      .drop("__p")
    val bi = arr.select(explode(TextOps.shinglesOf(col("__l"), 2)).as("b"))
    val blm = bi.groupBy(col("b")).agg(count(lit(1)).as("cb"))
      .orderBy(col("cb").desc, col("b").asc)
      .limit(maxVocab)
    val tlm = tri.groupBy(col("g3")).agg(count(lit(1)).as("ct"))
      .orderBy(col("ct").desc, col("g3").asc)
      .limit(maxVocab)
    val c = (x: String) => coalesce(col(x), lit(0L)).cast("double")
    tri
      .join(broadcast(tlm), Seq("g3"), "left")
      .join(broadcast(blm.withColumnRenamed("b", "b12")
        .withColumnRenamed("cb", "cb12")), Seq("b12"), "left")
      .join(broadcast(blm.withColumnRenamed("b", "b23")
        .withColumnRenamed("cb", "cb23")), Seq("b23"), "left")
      .join(broadcast(uni.withColumnRenamed("t", "w2")
        .withColumnRenamed("cu", "cu2")), Seq("w2"), "left")
      .join(broadcast(uni.withColumnRenamed("t", "w3")
        .withColumnRenamed("cu", "cu3")), Seq("w3"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("ct").isNull, 1L).otherwise(0L)).as("n_oov3"),
        (floor(avg(log(
          lit(l3) * (c("ct") + 1.0) / (c("cb12") + col("__v")) +
            lit(l2) * (c("cb23") + 1.0) / (c("cu2") + col("__v")) +
            lit(l1) * (c("cu3") + 1.0) / (col("__n") + col("__v"))))
          * 1e4 + lit(0.5)) / 1e4).as("avg_logprob3"))
  }

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
    // same materialization shape as trigramLogProb: tokenize once, keep
    // the positioned trigram rows for both the capped table and scoring
    val arr = matToks(df, docId, textCol, Nil, "mink-arr")
    val tok = arr.select(col(docId), explode(col("__l")).as("t"))
    val totals = tok.agg(count(lit(1)).as("__n"),
      count_distinct(col("t")).as("__v"))
    val uni = tok.groupBy(col("t")).agg(count(lit(1)).as("cu"))
      .orderBy(col("cu").desc, col("t").asc).limit(maxVocab)
    val tri = arr
      .select(col(docId),
        posexplode(TextOps.shinglesOf(col("__l"), 3)).as(Seq("pos", "g3")))
      .withColumn("__p", split(col("g3"), " "))
      .withColumn("b12", concat_ws(" ", col("__p").getItem(0), col("__p").getItem(1)))
      .withColumn("b23", concat_ws(" ", col("__p").getItem(1), col("__p").getItem(2)))
      .withColumn("w2", col("__p").getItem(1))
      .withColumn("w3", col("__p").getItem(2))
      .drop("__p")
    val bi = arr.select(explode(TextOps.shinglesOf(col("__l"), 2)).as("b"))
    val blm = bi.groupBy(col("b")).agg(count(lit(1)).as("cb"))
      .orderBy(col("cb").desc, col("b").asc).limit(maxVocab)
    val tlm = tri.groupBy(col("g3")).agg(count(lit(1)).as("ct"))
      .orderBy(col("ct").desc, col("g3").asc).limit(maxVocab)
    val c = (x: String) => coalesce(col(x), lit(0L)).cast("double")
    val lpMilli = floor(log(
      lit(0.6) * (c("ct") + 1.0) / (c("cb12") + col("__v")) +
        lit(0.3) * (c("cb23") + 1.0) / (c("cu2") + col("__v")) +
        lit(0.1) * (c("cu3") + 1.0) / (col("__n") + col("__v"))) * 1000)
      .cast("long")
    val scored = tri
      .join(broadcast(tlm), Seq("g3"), "left")
      .join(broadcast(blm.withColumnRenamed("b", "b12")
        .withColumnRenamed("cb", "cb12")), Seq("b12"), "left")
      .join(broadcast(blm.withColumnRenamed("b", "b23")
        .withColumnRenamed("cb", "cb23")), Seq("b23"), "left")
      .join(broadcast(uni.withColumnRenamed("t", "w2")
        .withColumnRenamed("cu", "cu2")), Seq("w2"), "left")
      .join(broadcast(uni.withColumnRenamed("t", "w3")
        .withColumnRenamed("cu", "cu3")), Seq("w3"), "left")
      .crossJoin(broadcast(totals))
      .select(col(docId), col("pos"), lpMilli.as("lp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(docId)).orderBy(col("lp").asc, col("pos").asc)
    val n = org.apache.spark.sql.expressions.Window.partitionBy(col(docId))
    scored
      .withColumn("__rn", row_number().over(w))
      .withColumn("__nt", count(lit(1)).over(n))
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
    * Scale shape is [[trigramLogProb]]'s: every model table df-capped
    * deterministically (magnitude desc / key asc) at `maxVocab` and
    * broadcast — the trigram, the b12-context (counts + follower-class
    * counts, one table so presence is consistent), the b23 continuation
    * counts, the w2 middle-order table, the w3 unigram-continuation
    * counts; count-of-counts and totals are two tiny aggregates over
    * the PRE-cap tables (the cap only moves tail grams to the unseen
    * bucket). All discount arithmetic is closed-form over integers, so
    * the oracle replays it to the bit. `ln` takes a 1e-10 floor (a
    * pathological corpus could zero every γ); docs with < 3 tokens are
    * absent.
    */
  def knTrigramLogProb(df: DataFrame, docId: String, textCol: String,
                       maxVocab: Int = 65536): DataFrame = {
    // tokenize once (doc-sized token arrays); the exploded n-gram rows
    // and every count table stay UN-materialized — their aggregation
    // exchanges are shared across consumers by Spark's ReuseExchange,
    // and caching the corpus-sized exploded tables measured SLOWER than
    // recomputing them from the cached arrays (r18 bisect).
    val arr = matToks(df, docId, textCol, Nil, "knlm-arr")
    val tok = arr.select(col(docId), explode(col("__l")).as("t"))
    val vTot = tok.agg(count_distinct(col("t")).as("__v"))
    val tri = arr
      .select(col(docId), explode(TextOps.shinglesOf(col("__l"), 3)).as("g3"))
      .withColumn("__p", split(col("g3"), " "))
      .withColumn("b12", concat_ws(" ", col("__p").getItem(0), col("__p").getItem(1)))
      .withColumn("b23", concat_ws(" ", col("__p").getItem(1), col("__p").getItem(2)))
      .withColumn("w2", col("__p").getItem(1))
      .withColumn("w3", col("__p").getItem(2))
      .drop("__p")
    val triCounts = tri.groupBy(col("g3")).agg(count(lit(1)).as("ct"))
    // trigram-order count-of-counts (for the top-level discounts)
    val cocT = triCounts.agg(
      sum(when(col("ct") === 1, 1L).otherwise(0L)).as("t_n1"),
      sum(when(col("ct") === 2, 1L).otherwise(0L)).as("t_n2"),
      sum(when(col("ct") === 3, 1L).otherwise(0L)).as("t_n3"),
      sum(when(col("ct") === 4, 1L).otherwise(0L)).as("t_n4"))
    val triTypes = triCounts.withColumn("__p", split(col("g3"), " "))
      .select(col("ct"),
        concat_ws(" ", col("__p").getItem(0), col("__p").getItem(1)).as("b12"),
        concat_ws(" ", col("__p").getItem(1), col("__p").getItem(2)).as("b23"))
    // b12 context table: bigram count + follower-type counts by class —
    // ONE table so cb12 and the γ numerator are present/absent together
    val biCounts = arr
      .select(explode(TextOps.shinglesOf(col("__l"), 2)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cb"))
    val nf = triTypes.groupBy(col("b12")).agg(
      sum(when(col("ct") === 1, 1L).otherwise(0L)).as("nf1"),
      sum(when(col("ct") === 2, 1L).otherwise(0L)).as("nf2"),
      sum(when(col("ct") >= 3, 1L).otherwise(0L)).as("nf3p"))
    val ctx12 = biCounts.withColumnRenamed("b", "b12")
      .join(nf, Seq("b12"), "left")
      .select(col("b12"), col("cb"),
        coalesce(col("nf1"), lit(0L)).as("nf1"),
        coalesce(col("nf2"), lit(0L)).as("nf2"),
        coalesce(col("nf3p"), lit(0L)).as("nf3p"))
    // middle order: continuation counts per b23 type + their
    // count-of-counts + the per-w2 denominators / follower classes
    val cont23 = triTypes.groupBy(col("b23")).agg(count(lit(1)).as("n123"))
    val cocC = cont23.agg(
      sum(when(col("n123") === 1, 1L).otherwise(0L)).as("c_n1"),
      sum(when(col("n123") === 2, 1L).otherwise(0L)).as("c_n2"),
      sum(when(col("n123") === 3, 1L).otherwise(0L)).as("c_n3"),
      sum(when(col("n123") === 4, 1L).otherwise(0L)).as("c_n4"))
    val mid = cont23.withColumn("w2", split(col("b23"), " ").getItem(0))
      .groupBy(col("w2")).agg(
        sum(col("n123")).as("midden"),
        sum(when(col("n123") === 1, 1L).otherwise(0L)).as("m1"),
        sum(when(col("n123") === 2, 1L).otherwise(0L)).as("m2"),
        sum(when(col("n123") >= 3, 1L).otherwise(0L)).as("m3p"))
    // lowest order: unigram continuation counts over bigram TYPES
    val biTypes = biCounts.withColumn("w3", split(col("b"), " ").getItem(1))
    val contW = biTypes.groupBy(col("w3")).agg(count(lit(1)).as("nw"))
    val nbTot = biCounts.agg(count(lit(1)).as("__nb"))
    // deterministic df-caps (magnitude desc / key asc) on every
    // broadcast table — the scorer's working set stays bounded
    val tlmC = triCounts.orderBy(col("ct").desc, col("g3").asc).limit(maxVocab)
    val ctxC = ctx12.orderBy(col("cb").desc, col("b12").asc).limit(maxVocab)
    val c23C = cont23.orderBy(col("n123").desc, col("b23").asc).limit(maxVocab)
    val midC = mid.orderBy(col("midden").desc, col("w2").asc).limit(maxVocab)
    val cwC = contW.orderBy(col("nw").desc, col("w3").asc).limit(maxVocab)
    // discounts: Y = n1/(n1+2n2); Di = i - (i+1)·Y·n(i+1)/ni, clamped
    val disc = (n1: Column, n2: Column, n3: Column, n4: Column,
        slot: Int, dflt: Double) => {
      val y = n1.cast("double") / (n1 + lit(2) * n2).cast("double")
      val (num, den, base) = slot match {
        case 1 => (n2, n1, 1.0); case 2 => (n3, n2, 2.0); case _ => (n4, n3, 3.0)
      }
      when(den > 0 && (n1 + lit(2) * n2) > 0,
        greatest(lit(base) - lit(base + 1) * y * num.cast("double")
          / den.cast("double"), lit(0.0))).otherwise(lit(dflt))
    }
    val scored = tri
      .join(broadcast(tlmC), Seq("g3"), "left")
      .join(broadcast(ctxC), Seq("b12"), "left")
      .join(broadcast(c23C), Seq("b23"), "left")
      .join(broadcast(midC), Seq("w2"), "left")
      .join(broadcast(cwC), Seq("w3"), "left")
      .crossJoin(broadcast(cocT))
      .crossJoin(broadcast(cocC))
      .crossJoin(broadcast(vTot))
      .crossJoin(broadcast(nbTot))
    val tD1 = disc(col("t_n1"), col("t_n2"), col("t_n3"), col("t_n4"), 1, 0.5)
    val tD2 = disc(col("t_n1"), col("t_n2"), col("t_n3"), col("t_n4"), 2, 1.0)
    val tD3 = disc(col("t_n1"), col("t_n2"), col("t_n3"), col("t_n4"), 3, 1.5)
    val cD1 = disc(col("c_n1"), col("c_n2"), col("c_n3"), col("c_n4"), 1, 0.5)
    val cD2 = disc(col("c_n1"), col("c_n2"), col("c_n3"), col("c_n4"), 2, 1.0)
    val cD3 = disc(col("c_n1"), col("c_n2"), col("c_n3"), col("c_n4"), 3, 1.5)
    val dOf = (c: Column, d1: Column, d2: Column, d3: Column) =>
      when(c >= 3, d3).when(c === 2, d2).when(c === 1, d1).otherwise(lit(0.0))
    val p1 = (coalesce(col("nw"), lit(0L)) + lit(1L)).cast("double") /
      (col("__nb") + col("__v")).cast("double")
    val n123v = coalesce(col("n123"), lit(0L))
    val p2 = when(col("midden").isNull, p1).otherwise(
      greatest(n123v.cast("double") - dOf(n123v, cD1, cD2, cD3), lit(0.0))
        / col("midden").cast("double")
        + ((cD1 * col("m1") + cD2 * col("m2") + cD3 * col("m3p"))
          / col("midden").cast("double")) * p1)
    val ctv = coalesce(col("ct"), lit(0L))
    val p3 = when(col("cb").isNull, p2).otherwise(
      greatest(ctv.cast("double") - dOf(ctv, tD1, tD2, tD3), lit(0.0))
        / col("cb").cast("double")
        + ((tD1 * col("nf1") + tD2 * col("nf2") + tD3 * col("nf3p"))
          / col("cb").cast("double")) * p2)
    scored
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("ct").isNull, 1L).otherwise(0L)).as("n_oov3"),
        (floor(avg(log(greatest(p3, lit(1e-10)))) * 1e4 + lit(0.5)) / 1e4)
          .as("avg_logprob_kn"))
  }

  /** PER-LANGUAGE interpolated trigram LM score — the sharding CCNet
    * actually runs (Wenzek et al. 2020 §3.2-3.3 train ONE LM per
    * language and bucket within the language): the [[trigramLogProb]]
    * ladder with every model table, total, and cap keyed by `langCol`.
    * A French document is scored under the French counts only; the
    * per-language vocabulary size V_lang drives its own add-one floors.
    *
    * Scale shape: counts aggregate by (lang, gram) — still map-side
    * partials, one shuffle per order; the deterministic df-cap becomes
    * a row_number window over the MODEL table partitioned by lang
    * (gram-vocabulary-sized, never documents); per-language totals are
    * a #langs-row broadcast joined on lang. All tables stay broadcast
    * (≤ #langs·maxVocab rows) and the interpolation arithmetic is
    * bit-identical to the global scorer, so the oracle replays the
    * whole lang-keyed ladder.
    */
  def langTrigramLogProb(df: DataFrame, docId: String, textCol: String,
                         langCol: String, maxVocab: Int = 65536,
                         l3: Double = 0.6, l2: Double = 0.3,
                         l1: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(math.abs(l3 + l2 + l1 - 1.0) < 1e-9, "interpolation weights must sum to 1")
    val lang = col(langCol)
    val arr = matToks(df, docId, textCol, Seq(lang), "langlm-arr")
    val tok = arr.select(lang, col(docId), explode(col("__l")).as("t"))
    val totals = tok.groupBy(lang).agg(count(lit(1)).as("__n"),
      count_distinct(col("t")).as("__v"))
    def capped(grams: DataFrame, key: String, cnt: String): DataFrame =
      grams.withColumn("__r", row_number().over(
          Window.partitionBy(lang).orderBy(col(cnt).desc, col(key).asc)))
        .filter(col("__r") <= maxVocab).drop("__r")
    val uni = capped(tok.groupBy(lang, col("t")).agg(count(lit(1)).as("cu")),
      "t", "cu")
    val tri = arr
      .select(col(docId), lang,
        explode(TextOps.shinglesOf(col("__l"), 3)).as("g3"))
      .withColumn("__p", split(col("g3"), " "))
      .withColumn("b12", concat_ws(" ", col("__p").getItem(0), col("__p").getItem(1)))
      .withColumn("b23", concat_ws(" ", col("__p").getItem(1), col("__p").getItem(2)))
      .withColumn("w2", col("__p").getItem(1))
      .withColumn("w3", col("__p").getItem(2))
      .drop("__p")
    val bi = arr.select(lang, explode(TextOps.shinglesOf(col("__l"), 2)).as("b"))
    val blm = capped(bi.groupBy(lang, col("b")).agg(count(lit(1)).as("cb")),
      "b", "cb")
    val tlm = capped(tri.groupBy(lang, col("g3")).agg(count(lit(1)).as("ct")),
      "g3", "ct")
    val c = (x: String) => coalesce(col(x), lit(0L)).cast("double")
    tri
      .join(broadcast(tlm), Seq(langCol, "g3"), "left")
      .join(broadcast(blm.withColumnRenamed("b", "b12")
        .withColumnRenamed("cb", "cb12")), Seq(langCol, "b12"), "left")
      .join(broadcast(blm.withColumnRenamed("b", "b23")
        .withColumnRenamed("cb", "cb23")), Seq(langCol, "b23"), "left")
      .join(broadcast(uni.withColumnRenamed("t", "w2")
        .withColumnRenamed("cu", "cu2")), Seq(langCol, "w2"), "left")
      .join(broadcast(uni.withColumnRenamed("t", "w3")
        .withColumnRenamed("cu", "cu3")), Seq(langCol, "w3"), "left")
      .join(broadcast(totals), Seq(langCol))
      .groupBy(col(docId), lang)
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("ct").isNull, 1L).otherwise(0L)).as("n_oov3"),
        (floor(avg(log(
          lit(l3) * (c("ct") + 1.0) / (c("cb12") + col("__v")) +
            lit(l2) * (c("cb23") + 1.0) / (c("cu2") + col("__v")) +
            lit(l1) * (c("cu3") + 1.0) / (col("__n") + col("__v"))))
          * 1e4 + lit(0.5)) / 1e4).as("avg_logprob3"))
  }

  /** PER-LANGUAGE perplexity bucketing — CCNet's published shard shape:
    * [[langTrigramLogProb]] scores under each language's own LM, then
    * head/middle/tail terciles WITHIN each language (an easy language
    * must not crowd a hard one out of the head). Same bounded-histogram
    * threshold machinery as [[perplexityBuckets]], with the histogram,
    * cumulative window, and the two threshold scalars all keyed by
    * lang — the window still runs over (lang, centi-cell) histogram
    * rows, never documents, and assignment is a #langs-row broadcast.
    */
  def langPerplexityBuckets(df: DataFrame, docId: String, textCol: String,
                            langCol: String,
                            maxVocab: Int = 65536): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = langTrigramLogProb(df, docId, textCol, langCol, maxVocab)
      .withColumn("lp_centi", floor(col("avg_logprob3") * 100).cast("long"))
    val lang = col(langCol)
    val hist = scored.groupBy(lang, col("lp_centi"))
      .agg(count(lit(1)).as("__c"))
    val cum = hist.withColumn("__cum",
      sum(col("__c")).over(Window.partitionBy(lang).orderBy(col("lp_centi").desc)))
    val tot = scored.groupBy(lang).agg(count(lit(1)).as("__n"))
    val ths = cum.join(broadcast(tot), Seq(langCol))
      .groupBy(lang)
      .agg(
        max(when(col("__cum") >= expr("(__n + 2) div 3"), col("lp_centi")))
          .as("__t1"),
        max(when(col("__cum") >= expr("(2 * __n + 2) div 3"), col("lp_centi")))
          .as("__t2"))
    scored.join(broadcast(ths), Seq(langCol))
      .select(col(docId), lang, col("avg_logprob3"), col("lp_centi"),
        when(col("lp_centi") >= col("__t1"), "head")
          .when(col("lp_centi") >= col("__t2"), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** CCNet-style PERPLEXITY BUCKETING (Wenzek et al. 2020 §3.3): score
    * every document under the corpus LM ([[trigramLogProb]]), then
    * split the corpus into equal-count head / middle / tail buckets —
    * the head is what CCNet keeps for training, the tail is dropped,
    * the middle is the tunable margin.
    *
    * Scale shape — thresholds WITHOUT a corpus sort: scores are
    * quantized to centi-log-prob integers, histogrammed (the value
    * space is score-granularity-bounded — a few thousand cells
    * regardless of corpus size — so the table is broadcast-sized by
    * construction), and the two tercile boundaries fall out of one
    * cumulative count over that bounded histogram. The only window in
    * the plan runs over histogram CELLS, never documents; bucket
    * assignment is a broadcast of two scalars. This is the
    * sampled-quantile posture production CCNet uses, made exact and
    * engine-replayable by the quantization.
    *
    * Tie handling is deterministic: a boundary cell's documents all
    * land in the BETTER bucket (thresholds are inclusive maxima), so
    * buckets are equal-count up to boundary-cell ties.
    *
    * Output: (docId, avg_logprob3, lp_centi, ppl_bucket); docs with
    * fewer than 3 tokens are absent (no trigram evidence), as in
    * [[trigramLogProb]].
    */
  def perplexityBuckets(df: DataFrame, docId: String, textCol: String,
                        maxVocab: Int = 65536): DataFrame =
    bucketize(trigramLogProb(df, docId, textCol, maxVocab)
      .withColumnRenamed("avg_logprob3", "__score"), docId)
      .withColumnRenamed("__score", "avg_logprob3")

  /** [[perplexityBuckets]] over the modified-KN scorer
    * ([[knTrigramLogProb]]) — CCNet's published combination: KN-smoothed
    * LM scores into head/middle/tail terciles. Identical
    * histogram-bounded threshold machinery.
    */
  def knPerplexityBuckets(df: DataFrame, docId: String, textCol: String,
                          maxVocab: Int = 65536): DataFrame =
    bucketize(knTrigramLogProb(df, docId, textCol, maxVocab)
      .withColumnRenamed("avg_logprob_kn", "__score"), docId)
      .withColumnRenamed("__score", "avg_logprob_kn")

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
    * from that order's count-of-counts (same Y/Dᵢ arithmetic and slot
    * defaults as [[knTrigramLogProb]]). A context missing from its
    * (capped) denominator table falls through to the next order whole.
    *
    * Scale shape is unchanged: nine model tables (the 5-gram LM, the
    * w₁..w₄ context table, and a continuation + denominator table pair
    * per middle order plus the unigram-continuation floor), each
    * df-capped deterministically (magnitude desc / key asc) at
    * `maxVocab` and broadcast; count-of-counts are four tiny aggregates
    * over the PRE-cap tables; all arithmetic is closed-form over
    * integers so the oracle replays it to the bit. Docs with < 5 tokens
    * are absent (no 5-gram evidence).
    */
  def kn5LogProb(df: DataFrame, docId: String, textCol: String,
                 maxVocab: Int = 65536): DataFrame =
    // tokenize once (doc-sized token arrays, the one expensive regex
    // pass every branch shares); the exploded 5-gram rows and the count
    // tables stay UN-materialized — their aggregation exchanges are
    // shared across the nine model-table branches by ReuseExchange, and
    // caching the corpus-sized exploded tables measured SLOWER than
    // recomputing them from the cached arrays (r18 bisect: 15.4 s →
    // 40-100 s with g5/g5cFull/q*c persisted).
    kn5LogProbArr(
      matToks(df, docId, textCol, Nil, "kn5-arr"),
      docId, maxVocab)

  /** [[kn5LogProb]] over an ALREADY-TOKENIZED frame `(docId, __l)` —
    * the shared back half that lets callers (the per-language fan-out
    * especially) tokenize and materialize the corpus ONCE and feed
    * slices of that one cache through the ladder.
    */
  private def kn5LogProbArr(arr: DataFrame, docId: String,
                            maxVocab: Int): DataFrame = {
    val tok = arr.select(col(docId), explode(col("__l")).as("t"))
    val vTot = tok.agg(count_distinct(col("t")).as("__v"))
    val pp = (i: Int) => col("__p").getItem(i)
    val g5 = arr
      .select(col(docId), explode(TextOps.shinglesOf(col("__l"), 5)).as("g5"))
      .withColumn("__p", split(col("g5"), " "))
      .withColumn("b1234", concat_ws(" ", pp(0), pp(1), pp(2), pp(3)))
      .withColumn("s2345", concat_ws(" ", pp(1), pp(2), pp(3), pp(4)))
      .withColumn("c234", concat_ws(" ", pp(1), pp(2), pp(3)))
      .withColumn("s345", concat_ws(" ", pp(2), pp(3), pp(4)))
      .withColumn("c34", concat_ws(" ", pp(2), pp(3)))
      .withColumn("s45", concat_ws(" ", pp(3), pp(4)))
      .withColumn("w4", pp(3))
      .withColumn("w5", pp(4))
      .drop("__p")
    // raw 5-gram counts, carrying the derived keys (all functions of g5)
    val g5cFull = g5.groupBy(col("g5"), col("b1234"), col("s2345"),
      col("c234")).agg(count(lit(1)).as("ct"))
    val g5c = g5cFull.select(col("g5"), col("ct"))
    // per-order count-of-counts helper (PRE-cap, for the discounts)
    def coc(dfc: DataFrame, cc: String, pfx: String): DataFrame = dfc.agg(
      sum(when(col(cc) === 1, 1L).otherwise(0L)).as(pfx + "_n1"),
      sum(when(col(cc) === 2, 1L).otherwise(0L)).as(pfx + "_n2"),
      sum(when(col(cc) === 3, 1L).otherwise(0L)).as(pfx + "_n3"),
      sum(when(col(cc) === 4, 1L).otherwise(0L)).as(pfx + "_n4"))
    val coc5 = coc(g5c, "ct", "a")
    // raw lower-order n-gram count tables (their TYPES feed the
    // continuation ladder), each carrying its suffix/prefix keys
    val q4c = arr.select(explode(TextOps.shinglesOf(col("__l"), 4)).as("q4"))
      .withColumn("__p", split(col("q4"), " "))
      .select(col("q4"), concat_ws(" ", pp(1), pp(2), pp(3)).as("s345k"),
        concat_ws(" ", pp(1), pp(2)).as("c34k"))
      .groupBy(col("q4"), col("s345k"), col("c34k"))
      .agg(count(lit(1)).as("cq4"))
    val q3c = arr.select(explode(TextOps.shinglesOf(col("__l"), 3)).as("q3"))
      .withColumn("__p", split(col("q3"), " "))
      .select(col("q3"), concat_ws(" ", pp(1), pp(2)).as("s45k"),
        pp(1).as("w4k"))
      .groupBy(col("q3"), col("s45k"), col("w4k"))
      .agg(count(lit(1)).as("cq3"))
    val q2c = arr.select(explode(TextOps.shinglesOf(col("__l"), 2)).as("q2"))
      .withColumn("__p", split(col("q2"), " "))
      .select(col("q2"), pp(1).as("w5k"))
      .groupBy(col("q2"), col("w5k")).agg(count(lit(1)).as("cq2"))
    // top-order context table: raw 4-gram count + follower classes from
    // the raw 5-gram type counts — ONE table so presence is consistent
    val nf5 = g5cFull.groupBy(col("b1234")).agg(
      sum(when(col("ct") === 1, 1L).otherwise(0L)).as("nf1"),
      sum(when(col("ct") === 2, 1L).otherwise(0L)).as("nf2"),
      sum(when(col("ct") >= 3, 1L).otherwise(0L)).as("nf3p"))
    val ctx5 = q4c.select(col("q4").as("b1234"), col("cq4").as("cb1234"))
      .join(nf5, Seq("b1234"), "left")
      .select(col("b1234"), col("cb1234"),
        coalesce(col("nf1"), lit(0L)).as("nf1"),
        coalesce(col("nf2"), lit(0L)).as("nf2"),
        coalesce(col("nf3p"), lit(0L)).as("nf3p"))
    // order-4 continuation: distinct 5-gram types per 4-suffix, and the
    // per-context (w2w3w4) denominators / follower classes
    val cont4F = g5cFull.groupBy(col("s2345"), col("c234"))
      .agg(count(lit(1)).as("n4"))
    val cont4 = cont4F.select(col("s2345"), col("n4"))
    val coc4 = coc(cont4, "n4", "b")
    val den4 = cont4F.groupBy(col("c234")).agg(
      sum(col("n4")).as("d4"),
      sum(when(col("n4") === 1, 1L).otherwise(0L)).as("e4_1"),
      sum(when(col("n4") === 2, 1L).otherwise(0L)).as("e4_2"),
      sum(when(col("n4") >= 3, 1L).otherwise(0L)).as("e4_3p"))
    // order-3 continuation from raw 4-gram TYPES
    val cont3F = q4c.groupBy(col("s345k"), col("c34k"))
      .agg(count(lit(1)).as("n3"))
    val cont3 = cont3F.select(col("s345k").as("s345"), col("n3"))
    val coc3 = coc(cont3, "n3", "c")
    val den3 = cont3F.groupBy(col("c34k")).agg(
        sum(col("n3")).as("d3"),
        sum(when(col("n3") === 1, 1L).otherwise(0L)).as("e3_1"),
        sum(when(col("n3") === 2, 1L).otherwise(0L)).as("e3_2"),
        sum(when(col("n3") >= 3, 1L).otherwise(0L)).as("e3_3p"))
      .withColumnRenamed("c34k", "c34")
    // order-2 continuation from raw trigram TYPES
    val cont2F = q3c.groupBy(col("s45k"), col("w4k"))
      .agg(count(lit(1)).as("n2"))
    val cont2 = cont2F.select(col("s45k").as("s45"), col("n2"))
    val coc2 = coc(cont2, "n2", "d")
    val den2 = cont2F.groupBy(col("w4k")).agg(
        sum(col("n2")).as("d2"),
        sum(when(col("n2") === 1, 1L).otherwise(0L)).as("e2_1"),
        sum(when(col("n2") === 2, 1L).otherwise(0L)).as("e2_2"),
        sum(when(col("n2") >= 3, 1L).otherwise(0L)).as("e2_3p"))
      .withColumnRenamed("w4k", "w4")
    // lowest order: unigram continuation counts over raw bigram TYPES
    val contW = q2c.groupBy(col("w5k")).agg(count(lit(1)).as("nw"))
      .withColumnRenamed("w5k", "w5")
    val nbTot = q2c.agg(count(lit(1)).as("__nb"))
    // deterministic df-caps (magnitude desc / key asc) on every
    // broadcast table — the scorer's working set stays bounded
    val g5lm = g5c.orderBy(col("ct").desc, col("g5").asc).limit(maxVocab)
    val ctx5C = ctx5.orderBy(col("cb1234").desc, col("b1234").asc).limit(maxVocab)
    val cont4C = cont4.orderBy(col("n4").desc, col("s2345").asc).limit(maxVocab)
    val den4C = den4.orderBy(col("d4").desc, col("c234").asc).limit(maxVocab)
    val cont3C = cont3.orderBy(col("n3").desc, col("s345").asc).limit(maxVocab)
    val den3C = den3.orderBy(col("d3").desc, col("c34").asc).limit(maxVocab)
    val cont2C = cont2.orderBy(col("n2").desc, col("s45").asc).limit(maxVocab)
    val den2C = den2.orderBy(col("d2").desc, col("w4").asc).limit(maxVocab)
    val cwC = contW.orderBy(col("nw").desc, col("w5").asc).limit(maxVocab)
    // discounts: Y = n1/(n1+2n2); Di = i - (i+1)·Y·n(i+1)/ni, clamped
    val disc = (n1: Column, n2: Column, n3: Column, n4: Column,
        slot: Int, dflt: Double) => {
      val y = n1.cast("double") / (n1 + lit(2) * n2).cast("double")
      val (num, den, base) = slot match {
        case 1 => (n2, n1, 1.0); case 2 => (n3, n2, 2.0); case _ => (n4, n3, 3.0)
      }
      when(den > 0 && (n1 + lit(2) * n2) > 0,
        greatest(lit(base) - lit(base + 1) * y * num.cast("double")
          / den.cast("double"), lit(0.0))).otherwise(lit(dflt))
    }
    val scored = g5
      .join(broadcast(g5lm), Seq("g5"), "left")
      .join(broadcast(ctx5C), Seq("b1234"), "left")
      .join(broadcast(cont4C), Seq("s2345"), "left")
      .join(broadcast(den4C), Seq("c234"), "left")
      .join(broadcast(cont3C), Seq("s345"), "left")
      .join(broadcast(den3C), Seq("c34"), "left")
      .join(broadcast(cont2C), Seq("s45"), "left")
      .join(broadcast(den2C), Seq("w4"), "left")
      .join(broadcast(cwC), Seq("w5"), "left")
      .crossJoin(broadcast(coc5)).crossJoin(broadcast(coc4))
      .crossJoin(broadcast(coc3)).crossJoin(broadcast(coc2))
      .crossJoin(broadcast(vTot)).crossJoin(broadcast(nbTot))
    def d3of(pfx: String): (Column, Column, Column) = (
      disc(col(pfx + "_n1"), col(pfx + "_n2"), col(pfx + "_n3"),
        col(pfx + "_n4"), 1, 0.5),
      disc(col(pfx + "_n1"), col(pfx + "_n2"), col(pfx + "_n3"),
        col(pfx + "_n4"), 2, 1.0),
      disc(col(pfx + "_n1"), col(pfx + "_n2"), col(pfx + "_n3"),
        col(pfx + "_n4"), 3, 1.5))
    val (aD1, aD2, aD3) = d3of("a")
    val (bD1, bD2, bD3) = d3of("b")
    val (cD1, cD2, cD3) = d3of("c")
    val (dD1, dD2, dD3) = d3of("d")
    val dOf = (c: Column, d1: Column, d2: Column, d3: Column) =>
      when(c >= 3, d3).when(c === 2, d2).when(c === 1, d1).otherwise(lit(0.0))
    val p1 = (coalesce(col("nw"), lit(0L)) + lit(1L)).cast("double") /
      (col("__nb") + col("__v")).cast("double")
    def mid(cnt: Column, den: Column, d1: Column, d2: Column, d3: Column,
        e1: Column, e2: Column, e3p: Column, lower: Column): Column =
      when(den.isNull, lower).otherwise(
        greatest(cnt.cast("double") - dOf(cnt, d1, d2, d3), lit(0.0))
          / den.cast("double")
          + ((d1 * e1 + d2 * e2 + d3 * e3p) / den.cast("double")) * lower)
    val p2 = mid(coalesce(col("n2"), lit(0L)), col("d2"), dD1, dD2, dD3,
      col("e2_1"), col("e2_2"), col("e2_3p"), p1)
    val p3 = mid(coalesce(col("n3"), lit(0L)), col("d3"), cD1, cD2, cD3,
      col("e3_1"), col("e3_2"), col("e3_3p"), p2)
    val p4 = mid(coalesce(col("n4"), lit(0L)), col("d4"), bD1, bD2, bD3,
      col("e4_1"), col("e4_2"), col("e4_3p"), p3)
    val ctv = coalesce(col("ct"), lit(0L))
    val p5 = when(col("cb1234").isNull, p4).otherwise(
      greatest(ctv.cast("double") - dOf(ctv, aD1, aD2, aD3), lit(0.0))
        / col("cb1234").cast("double")
        + ((aD1 * col("nf1") + aD2 * col("nf2") + aD3 * col("nf3p"))
          / col("cb1234").cast("double")) * p4)
    scored
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_5grams"),
        sum(when(col("ct").isNull, 1L).otherwise(0L)).as("n_oov5"),
        (floor(avg(log(greatest(p5, lit(1e-10)))) * 1e4 + lit(0.5)) / 1e4)
          .as("avg_logprob_kn5"))
  }

  /** [[perplexityBuckets]] over the 5-gram modified-KN scorer
    * ([[kn5LogProb]]) — the full CCNet recipe at its published order.
    */
  def kn5PerplexityBuckets(df: DataFrame, docId: String, textCol: String,
                           maxVocab: Int = 65536): DataFrame =
    bucketize(kn5LogProb(df, docId, textCol, maxVocab)
      .withColumnRenamed("avg_logprob_kn5", "__score"), docId)
      .withColumnRenamed("__score", "avg_logprob_kn5")

  /** PER-LANGUAGE 5-gram modified-KN perplexity buckets — the EXACT
    * published CCNet recipe (Wenzek et al. 2020 deploy one 5-gram KN
    * model PER LANGUAGE and bucket within the language): one
    * [[kn5PerplexityBuckets]] invocation per whitelisted language
    * slice, unioned. The language list is an EXPLICIT whitelist (the
    * way CCNet itself runs — a fixed set of supported languages, not a
    * data-driven discovery), so plan size is bounded by the list, each
    * language's model/thresholds see only its shard, and a regenerated
    * corpus introducing a new language is excluded BY CONSTRUCTION on
    * both engine and oracle sides rather than silently diverging. At
    * cluster scale each language shard is its own independent job —
    * the union here is the single-session rendering of that fan-out.
    */
  def langKn5PerplexityBuckets(df: DataFrame, docId: String, textCol: String,
                               langCol: String, langs: Seq[String],
                               maxVocab: Int = 65536): DataFrame = {
    // ONE lang-keyed ladder instead of a union of #langs inline ladders
    // — the [[langTrigramLogProb]] shape applied to the kn5 scorer:
    // every model table, cap, count-of-counts row and total is keyed by
    // `langCol`, so the whole fan-out is a single ladder's worth of
    // stages (~12 aggregation branches) regardless of the language
    // count, over ONE tokenize pass of the corpus instead of #langs
    // filtered passes. The r18/r19 union shape was bistable at 32 cores
    // (quiet medians flapping 36→93 s: five ladders × ~12 branches =
    // ~60 concurrent stages contending however the shared token frame
    // was held — lazy persist, per-language persists, and one shared
    // eager checkpoint ALL measured worse than inline on the union).
    // Grouping by language removes the stage multiplicity instead of
    // trying to cache around it, and matches the stable single-corpus
    // [[kn5LogProb]] shape. Per-language counts are identical integers
    // (grouping keys partition exactly as the filters did), the caps
    // keep the same deterministic (magnitude desc, key asc) order via a
    // lang-partitioned row_number, and the interpolation arithmetic is
    // unchanged — the oracle replays the per-language ladders and the
    // rows hash-match.
    import org.apache.spark.sql.expressions.Window
    val lang = col(langCol)
    val arr = matToks(df.filter(lang.isin(langs: _*)), docId, textCol,
      Seq(lang), "langkn5-arr")
    val scored = kn5LogProbArrGrouped(arr, docId, langCol, maxVocab)
      .withColumn("lp_centi", floor(col("avg_logprob_kn5") * 100).cast("long"))
    val hist = scored.groupBy(lang, col("lp_centi"))
      .agg(count(lit(1)).as("__c"))
    val cum = hist.withColumn("__cum",
      sum(col("__c")).over(Window.partitionBy(lang).orderBy(col("lp_centi").desc)))
    val tot = scored.groupBy(lang).agg(count(lit(1)).as("__n"))
    val ths = cum.join(broadcast(tot), Seq(langCol))
      .groupBy(lang)
      .agg(
        max(when(col("__cum") >= expr("(__n + 2) div 3"), col("lp_centi")))
          .as("__t1"),
        max(when(col("__cum") >= expr("(2 * __n + 2) div 3"), col("lp_centi")))
          .as("__t2"))
    // column order matches the historical union shape exactly:
    // (docId, avg_logprob_kn5, lp_centi, ppl_bucket, lang)
    scored.join(broadcast(ths), Seq(langCol))
      .select(col(docId), col("avg_logprob_kn5"), col("lp_centi"),
        when(col("lp_centi") >= col("__t1"), "head")
          .when(col("lp_centi") >= col("__t2"), "middle")
          .otherwise("tail").as("ppl_bucket"),
        lang)
  }

  /** [[kn5LogProbArr]] with every model table, df-cap, count-of-counts
    * row and total keyed by `langCol` — the grouped ladder behind
    * [[langKn5PerplexityBuckets]]. Input: `(docId, __l, langCol)`
    * already-tokenized rows. Per-language arithmetic is bit-identical to
    * running [[kn5LogProbArr]] on each language slice: counts aggregate
    * by (lang, gram) — the grouping keys partition exactly as the
    * per-language filters did — the deterministic caps become a
    * row_number window over the MODEL tables partitioned by lang
    * (gram-vocabulary-sized, never documents), and the per-language
    * scalars (V, bigram-type total, the four count-of-counts rows)
    * become #langs-row broadcasts joined on lang instead of one-row
    * cross joins. All broadcast tables stay bounded at
    * #langs · maxVocab rows.
    */
  private def kn5LogProbArrGrouped(arr: DataFrame, docId: String,
                                   langCol: String, maxVocab: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lang = col(langCol)
    val tok = arr.select(lang, col(docId), explode(col("__l")).as("t"))
    val vTot = tok.groupBy(lang).agg(count_distinct(col("t")).as("__v"))
    val pp = (i: Int) => col("__p").getItem(i)
    val g5 = arr
      .select(col(docId), lang,
        explode(TextOps.shinglesOf(col("__l"), 5)).as("g5"))
      .withColumn("__p", split(col("g5"), " "))
      .withColumn("b1234", concat_ws(" ", pp(0), pp(1), pp(2), pp(3)))
      .withColumn("s2345", concat_ws(" ", pp(1), pp(2), pp(3), pp(4)))
      .withColumn("c234", concat_ws(" ", pp(1), pp(2), pp(3)))
      .withColumn("s345", concat_ws(" ", pp(2), pp(3), pp(4)))
      .withColumn("c34", concat_ws(" ", pp(2), pp(3)))
      .withColumn("s45", concat_ws(" ", pp(3), pp(4)))
      .withColumn("w4", pp(3))
      .withColumn("w5", pp(4))
      .drop("__p")
    // raw 5-gram counts per language, carrying the derived keys
    val g5cFull = g5.groupBy(lang, col("g5"), col("b1234"), col("s2345"),
      col("c234")).agg(count(lit(1)).as("ct"))
    val g5c = g5cFull.select(lang, col("g5"), col("ct"))
    // per-order count-of-counts helper (PRE-cap, per language)
    def coc(dfc: DataFrame, cc: String, pfx: String): DataFrame =
      dfc.groupBy(lang).agg(
        sum(when(col(cc) === 1, 1L).otherwise(0L)).as(pfx + "_n1"),
        sum(when(col(cc) === 2, 1L).otherwise(0L)).as(pfx + "_n2"),
        sum(when(col(cc) === 3, 1L).otherwise(0L)).as(pfx + "_n3"),
        sum(when(col(cc) === 4, 1L).otherwise(0L)).as(pfx + "_n4"))
    val coc5 = coc(g5c, "ct", "a")
    // raw lower-order n-gram count tables, each carrying its keys
    val q4c = arr.select(lang, explode(TextOps.shinglesOf(col("__l"), 4)).as("q4"))
      .withColumn("__p", split(col("q4"), " "))
      .select(lang, col("q4"), concat_ws(" ", pp(1), pp(2), pp(3)).as("s345k"),
        concat_ws(" ", pp(1), pp(2)).as("c34k"))
      .groupBy(lang, col("q4"), col("s345k"), col("c34k"))
      .agg(count(lit(1)).as("cq4"))
    val q3c = arr.select(lang, explode(TextOps.shinglesOf(col("__l"), 3)).as("q3"))
      .withColumn("__p", split(col("q3"), " "))
      .select(lang, col("q3"), concat_ws(" ", pp(1), pp(2)).as("s45k"),
        pp(1).as("w4k"))
      .groupBy(lang, col("q3"), col("s45k"), col("w4k"))
      .agg(count(lit(1)).as("cq3"))
    val q2c = arr.select(lang, explode(TextOps.shinglesOf(col("__l"), 2)).as("q2"))
      .withColumn("__p", split(col("q2"), " "))
      .select(lang, col("q2"), pp(1).as("w5k"))
      .groupBy(lang, col("q2"), col("w5k")).agg(count(lit(1)).as("cq2"))
    // top-order context table per language
    val nf5 = g5cFull.groupBy(lang, col("b1234")).agg(
      sum(when(col("ct") === 1, 1L).otherwise(0L)).as("nf1"),
      sum(when(col("ct") === 2, 1L).otherwise(0L)).as("nf2"),
      sum(when(col("ct") >= 3, 1L).otherwise(0L)).as("nf3p"))
    val ctx5 = q4c.select(lang, col("q4").as("b1234"), col("cq4").as("cb1234"))
      .join(nf5, Seq(langCol, "b1234"), "left")
      .select(lang, col("b1234"), col("cb1234"),
        coalesce(col("nf1"), lit(0L)).as("nf1"),
        coalesce(col("nf2"), lit(0L)).as("nf2"),
        coalesce(col("nf3p"), lit(0L)).as("nf3p"))
    // order-4 continuation per language
    val cont4F = g5cFull.groupBy(lang, col("s2345"), col("c234"))
      .agg(count(lit(1)).as("n4"))
    val cont4 = cont4F.select(lang, col("s2345"), col("n4"))
    val coc4 = coc(cont4, "n4", "b")
    val den4 = cont4F.groupBy(lang, col("c234")).agg(
      sum(col("n4")).as("d4"),
      sum(when(col("n4") === 1, 1L).otherwise(0L)).as("e4_1"),
      sum(when(col("n4") === 2, 1L).otherwise(0L)).as("e4_2"),
      sum(when(col("n4") >= 3, 1L).otherwise(0L)).as("e4_3p"))
    // order-3 continuation from raw 4-gram TYPES
    val cont3F = q4c.groupBy(lang, col("s345k"), col("c34k"))
      .agg(count(lit(1)).as("n3"))
    val cont3 = cont3F.select(lang, col("s345k").as("s345"), col("n3"))
    val coc3 = coc(cont3, "n3", "c")
    val den3 = cont3F.groupBy(lang, col("c34k")).agg(
        sum(col("n3")).as("d3"),
        sum(when(col("n3") === 1, 1L).otherwise(0L)).as("e3_1"),
        sum(when(col("n3") === 2, 1L).otherwise(0L)).as("e3_2"),
        sum(when(col("n3") >= 3, 1L).otherwise(0L)).as("e3_3p"))
      .withColumnRenamed("c34k", "c34")
    // order-2 continuation from raw trigram TYPES
    val cont2F = q3c.groupBy(lang, col("s45k"), col("w4k"))
      .agg(count(lit(1)).as("n2"))
    val cont2 = cont2F.select(lang, col("s45k").as("s45"), col("n2"))
    val coc2 = coc(cont2, "n2", "d")
    val den2 = cont2F.groupBy(lang, col("w4k")).agg(
        sum(col("n2")).as("d2"),
        sum(when(col("n2") === 1, 1L).otherwise(0L)).as("e2_1"),
        sum(when(col("n2") === 2, 1L).otherwise(0L)).as("e2_2"),
        sum(when(col("n2") >= 3, 1L).otherwise(0L)).as("e2_3p"))
      .withColumnRenamed("w4k", "w4")
    // lowest order: unigram continuation counts over raw bigram TYPES
    val contW = q2c.groupBy(lang, col("w5k")).agg(count(lit(1)).as("nw"))
      .withColumnRenamed("w5k", "w5")
    val nbTot = q2c.groupBy(lang).agg(count(lit(1)).as("__nb"))
    // deterministic df-caps per language (magnitude desc / key asc)
    def capped(t: DataFrame, key: String, cnt: String): DataFrame =
      t.withColumn("__r", row_number().over(
          Window.partitionBy(lang).orderBy(col(cnt).desc, col(key).asc)))
        .filter(col("__r") <= maxVocab).drop("__r")
    val g5lm = capped(g5c, "g5", "ct")
    val ctx5C = capped(ctx5, "b1234", "cb1234")
    val cont4C = capped(cont4, "s2345", "n4")
    val den4C = capped(den4, "c234", "d4")
    val cont3C = capped(cont3, "s345", "n3")
    val den3C = capped(den3, "c34", "d3")
    val cont2C = capped(cont2, "s45", "n2")
    val den2C = capped(den2, "w4", "d2")
    val cwC = capped(contW, "w5", "nw")
    // discounts: Y = n1/(n1+2n2); Di = i - (i+1)·Y·n(i+1)/ni, clamped
    val disc = (n1: Column, n2: Column, n3: Column, n4: Column,
        slot: Int, dflt: Double) => {
      val y = n1.cast("double") / (n1 + lit(2) * n2).cast("double")
      val (num, den, base) = slot match {
        case 1 => (n2, n1, 1.0); case 2 => (n3, n2, 2.0); case _ => (n4, n3, 3.0)
      }
      when(den > 0 && (n1 + lit(2) * n2) > 0,
        greatest(lit(base) - lit(base + 1) * y * num.cast("double")
          / den.cast("double"), lit(0.0))).otherwise(lit(dflt))
    }
    val scored = g5
      .join(broadcast(g5lm), Seq(langCol, "g5"), "left")
      .join(broadcast(ctx5C), Seq(langCol, "b1234"), "left")
      .join(broadcast(cont4C), Seq(langCol, "s2345"), "left")
      .join(broadcast(den4C), Seq(langCol, "c234"), "left")
      .join(broadcast(cont3C), Seq(langCol, "s345"), "left")
      .join(broadcast(den3C), Seq(langCol, "c34"), "left")
      .join(broadcast(cont2C), Seq(langCol, "s45"), "left")
      .join(broadcast(den2C), Seq(langCol, "w4"), "left")
      .join(broadcast(cwC), Seq(langCol, "w5"), "left")
      .join(broadcast(coc5), Seq(langCol)).join(broadcast(coc4), Seq(langCol))
      .join(broadcast(coc3), Seq(langCol)).join(broadcast(coc2), Seq(langCol))
      .join(broadcast(vTot), Seq(langCol)).join(broadcast(nbTot), Seq(langCol))
    def d3of(pfx: String): (Column, Column, Column) = (
      disc(col(pfx + "_n1"), col(pfx + "_n2"), col(pfx + "_n3"),
        col(pfx + "_n4"), 1, 0.5),
      disc(col(pfx + "_n1"), col(pfx + "_n2"), col(pfx + "_n3"),
        col(pfx + "_n4"), 2, 1.0),
      disc(col(pfx + "_n1"), col(pfx + "_n2"), col(pfx + "_n3"),
        col(pfx + "_n4"), 3, 1.5))
    val (aD1, aD2, aD3) = d3of("a")
    val (bD1, bD2, bD3) = d3of("b")
    val (cD1, cD2, cD3) = d3of("c")
    val (dD1, dD2, dD3) = d3of("d")
    val dOf = (c: Column, d1: Column, d2: Column, d3: Column) =>
      when(c >= 3, d3).when(c === 2, d2).when(c === 1, d1).otherwise(lit(0.0))
    val p1 = (coalesce(col("nw"), lit(0L)) + lit(1L)).cast("double") /
      (col("__nb") + col("__v")).cast("double")
    def mid(cnt: Column, den: Column, d1: Column, d2: Column, d3: Column,
        e1: Column, e2: Column, e3p: Column, lower: Column): Column =
      when(den.isNull, lower).otherwise(
        greatest(cnt.cast("double") - dOf(cnt, d1, d2, d3), lit(0.0))
          / den.cast("double")
          + ((d1 * e1 + d2 * e2 + d3 * e3p) / den.cast("double")) * lower)
    val p2 = mid(coalesce(col("n2"), lit(0L)), col("d2"), dD1, dD2, dD3,
      col("e2_1"), col("e2_2"), col("e2_3p"), p1)
    val p3 = mid(coalesce(col("n3"), lit(0L)), col("d3"), cD1, cD2, cD3,
      col("e3_1"), col("e3_2"), col("e3_3p"), p2)
    val p4 = mid(coalesce(col("n4"), lit(0L)), col("d4"), bD1, bD2, bD3,
      col("e4_1"), col("e4_2"), col("e4_3p"), p3)
    val ctv = coalesce(col("ct"), lit(0L))
    val p5 = when(col("cb1234").isNull, p4).otherwise(
      greatest(ctv.cast("double") - dOf(ctv, aD1, aD2, aD3), lit(0.0))
        / col("cb1234").cast("double")
        + ((aD1 * col("nf1") + aD2 * col("nf2") + aD3 * col("nf3p"))
          / col("cb1234").cast("double")) * p4)
    scored
      .groupBy(col(docId), lang)
      .agg(count(lit(1)).as("n_5grams"),
        sum(when(col("ct").isNull, 1L).otherwise(0L)).as("n_oov5"),
        (floor(avg(log(greatest(p5, lit(1e-10)))) * 1e4 + lit(0.5)) / 1e4)
          .as("avg_logprob_kn5"))
  }

  /** The scorer-agnostic tercile machinery shared by both bucketing
    * fronts: centi-quantize `__score`, histogram, cumulative count over
    * the bounded cells, inclusive threshold maxima, bucket by broadcast
    * scalars.
    */
  private def bucketize(scoredIn: DataFrame, docId: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // scored feeds the histogram, the total and the final assignment;
    // the three consumers share the scorer's final exchange via
    // ReuseExchange, so materializing here measured as pure overhead
    // (r18 bisect: +1.2 s on the cheap trigram buckets, no gain on kn5)
    val scored = scoredIn
      .withColumn("lp_centi", floor(col("__score") * 100).cast("long"))
    val hist = scored.groupBy(col("lp_centi")).agg(count(lit(1)).as("__c"))
    // single-partition window over the BOUNDED histogram (≈ value-space
    // cells), deliberately — never over documents
    val cum = hist.withColumn("__cum",
      sum(col("__c")).over(Window.orderBy(col("lp_centi").desc)))
    val tot = scored.agg(count(lit(1)).as("__n"))
    val ths = cum.crossJoin(broadcast(tot))
      .agg(
        max(when(col("__cum") >= expr("(__n + 2) div 3"), col("lp_centi")))
          .as("__t1"),
        max(when(col("__cum") >= expr("(2 * __n + 2) div 3"), col("lp_centi")))
          .as("__t2"))
    scored.crossJoin(broadcast(ths))
      .select(col(docId), col("__score"), col("lp_centi"),
        when(col("lp_centi") >= col("__t1"), "head")
          .when(col("lp_centi") >= col("__t2"), "middle")
          .otherwise("tail").as("ppl_bucket"))
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
