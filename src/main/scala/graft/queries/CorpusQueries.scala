package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{BloomJoin, SamplingOps, TextOps, TextQualityOps, UrlOps}

/** Corpus-hygiene operators for a web-scale training-data pipeline:
  * URL canonicalization dedup, Gopher-style repetition quality,
  * weighted sampling, bloom-pruned joins. Driver-oracled like every other
  * pack; rounding uses the shared floor(x·1e4+0.5)/1e4 idiom.
  */
object CorpusQueries extends QueryPack {

  private def r4(c: Column) = floor(c * 1e4 + lit(0.5)) / 1e4

  /** Synthetic crawl-variant URL derived deterministically from the
    * documents table: scheme/host case noise, www + default-port prefixes,
    * a %3 trailing-slash variant, a tracking param, unsorted query params,
    * and a fragment. The ORACLE reconstructs the canonical form directly
    * from (source, doc_id) arithmetic — ground truth, not a re-derived
    * regex chain — so the Spark canonicalizer is tested against intent.
    */
  private def syntheticUrls(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      concat(
        lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM:443/docs/"),
        (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&b=2&a="), (col("doc_id") % 7).cast("string"),
        lit("#frag")).as("url"))

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // URL canonicalize + keep-first dedup (UrlOps): scheme/host lowering,
    // www + default-port stripping, fragment/tracking removal, param sort,
    // trailing-slash folding — then one hash-agg on the canonical key.
    "url_canonical_dedup" -> ((s, dir) => {
      UrlOps.canonicalDedup(syntheticUrls(s, dir), col("url"), col("doc_id"))
        .orderBy(col("canonical_url"))
    }),

    // Gopher-style repetition statistics per document: token counts,
    // top-unigram / duplicate-token / top-bigram mass fractions
    // (Rae et al. 2021 §A1.1). Bigrams via zip_with before explode — no
    // per-doc sort window.
    "text_repetition_stats" -> ((s, dir) => {
      val stats = TextQualityOps.repetitionStats(
        Tables.documents(s, dir), "doc_id", "text")
      stats.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          r4(col("top_unigram_frac")).as("top_unigram_frac"),
          r4(col("dup_token_frac")).as("dup_token_frac"),
          r4(col("top_bigram_frac")).as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    }),

    // Quality gate over the repetition stats: corpus-tuned thresholds that
    // actually split this corpus (synthetic docs are ~30-80 tokens over a
    // tiny vocab, so the unigram cap is the discriminating axis).
    "text_quality_gate" -> ((s, dir) => {
      val stats = TextQualityOps.repetitionStats(
        Tables.documents(s, dir), "doc_id", "text")
      TextQualityOps.qualityGate(stats, minTokens = 40, maxTokens = 100000,
          maxTopUnigramFrac = 0.09, maxDupTokenFrac = 0.9,
          maxTopBigramFrac = 0.06)
        .groupBy(col("quality_pass"))
        .agg(count(lit(1)).as("n_docs"),
          r4(avg(col("top_unigram_frac"))).as("avg_top_unigram_frac"),
          r4(avg(col("n_tokens"))).as("avg_tokens"))
        .orderBy(col("quality_pass"))
    }),

    // The REST of the Gopher rule set (word-shape and line-shape rules
    // beyond the repetition fractions): docs augmented with
    // doc_id-derived line structure (a bullet line on %3, an
    // ellipsis-terminated line on %4, a DUPLICATE bullet line on %6) so
    // the line metrics are non-degenerate, and the oracle replays the
    // construction plus every fraction and the composed gate verdict.
    "text_gopher_rules" -> ((s, dir) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit("\n- item "), (col("doc_id") % 5).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("\nread more..."))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0,
          concat(lit("\n- item "), (col("doc_id") % 5).cast("string")))
          .otherwise(lit("")))
      TextQualityOps.gopherRules(
          Tables.documents(s, dir).withColumn("text2", aug),
          "doc_id", "text2")
        .orderBy(col("doc_id"))
    }),

    // C4 cleaning rules (Raffel et al. 2020 §2.2): docs augmented into
    // line structure by doc_id formula — a short no-punctuation line
    // (%3), a javascript line (%4), a proper second sentence (%5), a
    // lorem-ipsum page poison (%17), a curly-brace code line (%19) —
    // and the oracle replays every counter, the page verdict, and the
    // re-joined surviving text from the construction rule.
    "text_c4_rules" -> ((s, dir) => {
      val aug = concat(col("text"), lit("."),
        when(col("doc_id") % 3 === 0, lit("\nclick here")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("\nenable javascript to continue.")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit("\na second proper sentence right here.")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit("\nlorem ipsum filler text.")).otherwise(lit("")),
        when(col("doc_id") % 19 === 0,
          lit("\nfunction f() { return 1; }")).otherwise(lit("")))
      TextQualityOps.c4Rules(
          Tables.documents(s, dir).withColumn("t2", aug), "doc_id", "t2",
          minLineWords = 3, minLines = 2)
        .orderBy(col("doc_id"))
    }),

    // CCNet-style LM quality scoring (TextQualityOps.unigramLogProb):
    // mean add-one-smoothed unigram log-prob of each document under the
    // corpus's own capped LM, plus the exact-integer OOV count. The
    // smoothing totals N/V are pre-cap (the cap only moves tail tokens
    // to the unseen bucket); the capped LM broadcasts to the scorers.
    "text_lm_logprob" -> ((s, dir) => {
      TextQualityOps.unigramLogProb(Tables.documents(s, dir),
          "doc_id", "text", maxVocab = 65536)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          col("avg_logprob"))
        .orderBy(col("doc_id"))
    }),

    // One LM order up: mean add-one-smoothed bigram CONDITIONAL
    // log-prob ln p(w2|w1) under the corpus's own df-capped count
    // tables — the step from the unigram scorer toward CCNet's n-gram
    // perplexity filter. The oracle replays counts → caps → smoothed
    // ln → 4dp floor.
    "text_lm_bigram" -> ((s, dir) => {
      TextQualityOps.bigramLogProb(Tables.documents(s, dir),
          "doc_id", "text", maxVocab = 65536)
        .select(col("doc_id"), col("n_bigrams"), col("n_oov2"),
          col("avg_logprob2"))
        .orderBy(col("doc_id"))
    }),

    // ENCODING hygiene gate (graft.functions.Utf8Stats): strict UTF-8
    // validity statistics over raw bytes — per doc the ASCII text plus a
    // doc_id-derived byte tail (valid 2-byte é / invalid 0xFF / U+FFFD
    // replacement scars by doc_id%4, length doc_id%5+1), so the oracle
    // replays every counter from the construction rule and any drift in
    // the strict decoder (overlong/surrogate/truncation policy) breaks
    // the hash.
    "text_utf8_stats" -> ((s, dir) => {
      val tail = expr(
        """CASE CAST(doc_id % 4 AS INT)
          |  WHEN 1 THEN repeat('C3A9', CAST(doc_id % 5 + 1 AS INT))
          |  WHEN 2 THEN repeat('FF', CAST(doc_id % 5 + 1 AS INT))
          |  WHEN 3 THEN repeat('EFBFBD', CAST(doc_id % 5 + 1 AS INT))
          |  ELSE '' END""".stripMargin)
      Tables.documents(s, dir)
        .withColumn("blob", concat(col("text").cast("binary"), unhex(tail)))
        .selectExpr("doc_id", "utf8_stats(blob) AS st")
        .select(col("doc_id"),
          col("st.n_bytes").as("n_bytes"), col("st.n_cp").as("n_cp"),
          col("st.n_ascii").as("n_ascii"), col("st.n_2byte").as("n_2byte"),
          col("st.n_3byte").as("n_3byte"), col("st.n_4byte").as("n_4byte"),
          col("st.n_invalid").as("n_invalid"),
          col("st.n_replacement").as("n_replacement"))
        .orderBy(col("doc_id"))
    }),

    // Interpolated trigram LM (fixed-weight Jelinek-Mercer backoff to
    // bigram and unigram evidence) — the CCNet-perplexity-filter shape
    // one more order up; the oracle replays counts → deterministic caps
    // → the interpolation arithmetic per trigram position.
    "text_lm_trigram" -> ((s, dir) => {
      TextQualityOps.trigramLogProb(Tables.documents(s, dir),
          "doc_id", "text", maxVocab = 65536)
        .select(col("doc_id"), col("n_trigrams"), col("n_oov3"),
          col("avg_logprob3"))
        .orderBy(col("doc_id"))
    }),

    // C4 blocklist gate: every 9th doc gets a planted blocked bigram,
    // every 27th TWO occurrences — the oracle states counts and
    // verdicts as closed forms, so a false positive on the clean 8/9
    // of the corpus (or a missed plant) breaks the hash.
    "text_badwords_filter" -> ((s, dir) => {
      val planted = when(col("doc_id") % 27 === 0,
        concat(col("text"), lit(" casino bonus casino")))
        .when(col("doc_id") % 9 === 0, concat(col("text"), lit(" viagra deal")))
        .otherwise(col("text"))
      TextQualityOps.blocklistFilter(
          Tables.documents(s, dir).withColumn("text2", planted),
          "doc_id", "text2")
        .orderBy(col("doc_id"))
    }),

    // MIN-K% PROB membership signal (Shi et al. 2023): mean of the
    // lowest 20% per-position trigram log-probs, milli-quantized before
    // ranking, bottom-k selection tie-broken on position, integer-exact
    // e4 means via truncating division. The oracle replays the LM
    // ladder per position, the quantization, the ranked selection, and
    // both divisions.
    "text_mink_prob" -> ((s, dir) => {
      TextQualityOps.minkProb(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_trigrams"), col("k_used"),
          col("mink_e4"), col("full_e4"))
        .orderBy(col("doc_id"))
    }),

    // MODIFIED KNESER-NEY trigram LM — the smoothing CCNet's published
    // filter actually uses: continuation counts, count-of-counts-derived
    // discounts D1/D2/D3+, absolute-discount interpolation down to a
    // unigram-continuation floor. The oracle replays the entire ladder —
    // counts → continuation counts → discounts → per-position p — so a
    // drift anywhere in the KN arithmetic breaks the hash.
    "text_lm_kn" -> ((s, dir) => {
      TextQualityOps.knTrigramLogProb(Tables.documents(s, dir),
          "doc_id", "text", maxVocab = 65536)
        .select(col("doc_id"), col("n_trigrams"), col("n_oov3"),
          col("avg_logprob_kn"))
        .orderBy(col("doc_id"))
    }),

    // READABILITY (Flesch reading-ease) — the classic prose-quality
    // signal, made engine-exact: sentences are punctuation-terminated
    // runs (RE2-safe pattern — no lookbehind, so Spark and DuckDB
    // split identically), syllables are vowel-run counts floored at 1
    // per word (the standard deterministic approximation), and the
    // score is IEEE-double arithmetic floored to milli units (products
    // and divisions are correctly rounded, so both engines agree).
    // Zero shuffle — one projection per doc.
    "text_readability" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("__w", TextOps.tokens(col("text")))
        .withColumn("__s", expr(
          "size(regexp_extract_all(text, '[^.!?]+[.!?]+|[^.!?]+$', 0))"))
        .withColumn("__sy", expr(
          "aggregate(transform(__w, w -> " +
            "greatest(size(regexp_extract_all(w, '[aeiouy]+', 0)), 1)), " +
            "0L, (a, x) -> a + x)"))
        .filter(size(col("__w")) > 0 && col("__s") > 0)
        .select(col("doc_id"),
          size(col("__w")).cast("long").as("n_words"),
          col("__s").cast("long").as("n_sentences"),
          col("__sy").cast("long").as("n_syllables"),
          floor((lit(206.835)
            - lit(1.015) * size(col("__w")).cast("double") / col("__s").cast("double")
            - lit(84.6) * col("__sy").cast("double") / size(col("__w")).cast("double"))
            * 1000).cast("long").as("flesch_milli"))
        .orderBy(col("doc_id"))
    }),

    // CCNet §3.3 head/middle/tail perplexity bucketing — tercile
    // thresholds from a cumulative count over the BOUNDED centi-quantized
    // score histogram (never a corpus sort); the oracle replays scoring,
    // histogram, and the inclusive threshold maxima.
    "text_ppl_buckets" -> ((s, dir) => {
      TextQualityOps.perplexityBuckets(Tables.documents(s, dir),
          "doc_id", "text", maxVocab = 65536)
        .orderBy(col("doc_id"))
    }),

    // PER-LANGUAGE LM + terciles — the sharding CCNet actually runs
    // (one LM per language, head/middle/tail WITHIN the language, so an
    // easy language can't crowd a hard one out of the head). Every
    // count table, cap, total, histogram, and threshold is keyed by
    // lang; the oracle replays the whole lang-keyed ladder.
    "text_ppl_buckets_lang" -> ((s, dir) => {
      TextQualityOps.langPerplexityBuckets(Tables.documents(s, dir),
          "doc_id", "text", "lang", maxVocab = 65536)
        .orderBy(col("doc_id"))
    }),

    // THE published CCNet recipe exactly: one 5-gram modified-KN model
    // PER LANGUAGE (explicit whitelist, the way CCNet itself ships),
    // head/middle/tail terciles within each language. The oracle
    // replays the full kn5 ladder once per language over that
    // language's shard and unions the bucket rows.
    "text_ppl_buckets_kn5_lang" -> ((s, dir) => {
      TextQualityOps.langKn5PerplexityBuckets(Tables.documents(s, dir),
          "doc_id", "text", "lang", Seq("de", "en", "es", "fr", "zh"),
          maxVocab = 65536)
        .orderBy(col("doc_id"))
    }),

    // the same tercile machinery over the KN scorer — CCNet's published
    // combination (KN-smoothed LM + head/middle/tail split)
    "text_ppl_buckets_kn" -> ((s, dir) => {
      TextQualityOps.knPerplexityBuckets(Tables.documents(s, dir),
          "doc_id", "text", maxVocab = 65536)
        .orderBy(col("doc_id"))
    }),

    // MODIFIED KNESER-NEY at 5-GRAM order — CCNet's filter at its
    // PUBLISHED order (KenLM 5-gram modified-KN): raw counts at the top,
    // continuation counts for the three middle orders, a
    // unigram-continuation add-one floor, per-order count-of-counts
    // discounts. The oracle replays the whole 5-order ladder.
    "text_lm_kn5" -> ((s, dir) => {
      TextQualityOps.kn5LogProb(Tables.documents(s, dir),
          "doc_id", "text", maxVocab = 65536)
        .select(col("doc_id"), col("n_5grams"), col("n_oov5"),
          col("avg_logprob_kn5"))
        .orderBy(col("doc_id"))
    }),

    // the tercile machinery over the 5-gram KN scorer — the full CCNet
    // recipe (5-gram modified-KN LM + head/middle/tail split)
    "text_ppl_buckets_kn5" -> ((s, dir) => {
      TextQualityOps.kn5PerplexityBuckets(Tables.documents(s, dir),
          "doc_id", "text", maxVocab = 65536)
        .orderBy(col("doc_id"))
    }),

    // Weighted sampling without replacement (Efraimidis-Spirakis,
    // derandomized): longer documents proportionally likelier; one bounded
    // min-k aggregation, no RNG, no global sort.
    "sample_weighted" -> ((s, dir) => {
      SamplingOps.weightedSample(
          Tables.documents(s, dir), "doc_id", "n_chars", k = 20)
        .orderBy(col("pick"))
    }),

    // Int8-style scalar-quantized ANN with exact rerank: candidates from
    // integer dot products on globally-calibrated quantized vectors (4x
    // smaller index at scale), exact float cosine only on the shortlist.
    "embed_ann_quantized" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ops.EmbeddingOps.quantizedTopK(
          emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 3, oversample = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF + int8 quantization COMPOSED: candidates cut to the query's
    // coarse cluster by an equi-join below the shortlist aggregation, then
    // the integer-dot shortlist, then exact-cosine rerank — both scale
    // levers (1/clusters scan fraction, 4x smaller index reads) in one
    // operator.
    "embed_ann_ivf_quantized" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ops.EmbeddingOps.ivfQuantizedTopK(
          emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", k = 3, oversample = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Unicode NFC normalization (functions.NfcNormalize): the same
    // logical text arrives precomposed or decomposed depending on the
    // source; dedup keys / shingles / token counts must not fork on
    // encoding form. Fixture text is ASCII, so each doc gets a
    // deterministic decomposed suffix (e+COMBINING ACUTE, a+COMBINING
    // TILDE) that NFC must fold to single codepoints; the fingerprint
    // of the normalized text pins the exact bytes against DuckDB's own
    // nfc_normalize — two independent implementations of UAX#15.
    "text_nfc_normalize" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("text"), lit(" café ã")).as("dirty"))
        .selectExpr("doc_id", "dirty", "graft_nfc(dirty) AS norm")
        .selectExpr("doc_id",
          "CAST(length(norm) AS BIGINT) AS n_chars_nfc",
          "CAST(length(norm) - length(dirty) AS BIGINT) AS delta_chars",
          "md5(norm) AS fp_nfc")
        .orderBy(col("doc_id"))
    }),

    // PII scrub (emails / NANP phones / IPv4) over deterministically
    // dirtied documents — RE2-compatible patterns, chained codegen'd
    // regexp_replace, zero shuffle.
    "text_pii_scrub" -> ((s, dir) => {
      val dirty = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"), lit("@mail.example.com"),
        lit(" call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7 ok"))
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.ops.TextOps.scrubPii(dirty).as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // Checksum-gated card redaction — the scrub a regex alone cannot
    // express: each doc carries a VALID 16-digit card (check digit
    // computed by the construction, shown grouped `#### #### #### ####`
    // for even docs, plain for odd) and an INVALID sibling (check digit
    // +5 mod 10 — never Luhn-valid). The engine extracts candidates,
    // strips separators, replays ISO/IEC 7812 doubling as integer HOF
    // arithmetic, and redacts ONLY the valid one; the IP then scrubs
    // through the established PII pass. The oracle rebuilds the clean
    // text closed-form — computing the same check digit — so a drift in
    // candidate extraction, separator handling, doubling, or redaction
    // order breaks the hash. Base text is digit/@-stripped so the only
    // candidates are the constructed ones.
    // Markdown → visible text: the extractor for README/docs/forum
    // corpora. Per-doc markdown exercises every rule — ATX heading,
    // real-token paragraph, bold/italic/code unwrap, blockquote, both
    // list-marker styles, link-text and image-alt extraction, and (even
    // docs) a fenced code block whose CONTENT must survive while the
    // fence lines vanish. The oracle states the extracted lines
    // closed-form from the row — no regex replay, so an extraction
    // drift in any rule breaks the md5.
    "text_markdown_extract" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val cleanToks = regexp_replace(
        expr("array_join(slice(__toks, 1, 5), ' ')"), "[^a-z0-9 ]", "")
      val md = concat(
        lit("# Heading "), id, lit("\n\npara "), cleanToks,
        lit("\n**bold"), id, lit("** and *ital* plus `code"), id,
        lit("` here.\n> quoted "), id,
        lit("\n- item one\n1. item two\n[visit site](https://ex.com/"), id,
        lit(") and ![logo alt](https://img/"), id, lit(".png)\n"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("```scala\nval x = "), id, lit("\n```\n")))
          .otherwise(lit("")))
      Tables.documents(s, dir)
        .withColumn("__toks", graft.ops.TextOps.tokens(col("text")))
        .select(col("doc_id"),
          graft.ops.TextOps.markdownToText(md).as("__txt"))
        .select(col("doc_id"),
          size(split(col("__txt"), "\n")).cast("long").as("n_lines"),
          length(col("__txt")).cast("long").as("n_chars"),
          md5(col("__txt").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    "text_pii_luhn" -> ((s, dir) => {
      val b15 = substring(
        repeat(lpad(col("doc_id").cast("string"), 5, "0"), 3), 1, 15)
      val digits = transform(
        filter(split(b15, ""), ch => length(ch) === 1),
        ch => ascii(ch) - lit(48))
      // 16-digit layout: b15 digit j (1-based) sits at even distance
      // from the check digit when j is odd → doubled
      val luhnSum = aggregate(
        transform(digits, (x, i) =>
          when(pmod(i, lit(2)) === 0,
            when(x > 4, x * 2 - 9).otherwise(x * 2)).otherwise(x)),
        lit(0), (a, b) => a + b)
      val ck = pmod(lit(10) - pmod(luhnSum, lit(10)), lit(10))
      val valid = concat(b15, ck.cast("string"))
      val grouped = concat_ws(" ", substring(valid, 1, 4),
        substring(valid, 5, 4), substring(valid, 9, 4),
        substring(valid, 13, 4))
      val shown = when(pmod(col("doc_id"), lit(2)) === 0, grouped)
        .otherwise(valid)
      val invalid = concat(b15, pmod(ck + 5, lit(10)).cast("string"))
      val base = regexp_replace(
        regexp_replace(substring(col("text"), 1, 60), "[^ -~]", " "),
        "[0-9@]", "x")
      val dirty = concat(base, lit(" pay "), shown, lit(" ref code "),
        invalid, lit(" via 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 ok"))
      // the dirty text and its Luhn-valid candidate array are projected
      // into their own columns first: the synthesis chain and the
      // extract+Luhn HOF tree are interpreted (CodegenFallback), so
      // codegen subexpression elimination cannot deduplicate them — the
      // inlined shape evaluated `dirty` 3× and the candidate scan 2×
      // per row. Stacked projections keep each evaluated once
      // (CollapseProject leaves multi-referenced non-trivial aliases
      // alone); result columns are byte-identical.
      Tables.documents(s, dir)
        .select(col("doc_id"), dirty.as("__dirty"))
        .select(col("doc_id"), col("__dirty"),
          graft.ops.TextOps.cardCandidates(col("__dirty")).as("__cands"))
        .select(col("doc_id"),
          graft.ops.TextOps.scrubPii(
            graft.ops.TextOps.scrubCardsFrom(col("__cands"), col("__dirty")))
            .as("clean_text"),
          size(col("__cands")).cast("long").as("n_cards"))
        .orderBy(col("doc_id"))
    }),

    // Eval-set decontamination: train docs (id >= 100) sharing any 8-gram
    // with the benchmark slice (id < 100) are flagged with hit counts —
    // broadcast equi-join on eval shingles, corpus scanned once.
    "dedup_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.DedupOps.contaminated(
          docs.filter(col("doc_id") >= 100), "doc_id", "text",
          docs.filter(col("doc_id") < 100), "text", shingleN = 8)
        .orderBy(col("doc_id"))
    }),

    // ROUGE-1/2 eval (TextOps.rougeFromGrams): candidate = lead-12 tokens,
    // reference = tokens 5..20 — an overlapping extractive pair whose
    // clipped-multiset matches vary with each doc's repetition. The
    // oracle replays the gram construction, clipping, and 4dp ratios.
    "text_rouge_eval" -> ((s, dir) => {
      // gram arrays are PROJECTED into their own columns: the
      // clipped-match HOFs reference their inputs once per lambda
      // element, and an inlined shinglesOf expression would re-build
      // the grams per reference inside the interpreted nested HOFs
      // (the src_csv_sniff lesson; measured 34 s → ~1 s at sf0.1).
      // A plain projection boundary suffices — each gram column is
      // referenced 3× by non-trivial expressions, so CollapseProject
      // leaves the stacked projects alone and every consumer reads an
      // attribute; the r18 localCheckpoint here was a full extra
      // materialization job of the gram table for nothing it needed
      // (single consumer chain, no fan-out) — corpus-sized state at
      // 100 TB.
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), graft.ops.TextOps.tokens(col("text")).as("l"))
        .select(col("doc_id"), slice(col("l"), 1, 12).as("cand"),
          slice(col("l"), 5, 16).as("ref"))
        .select(col("doc_id"),
          graft.ops.TextOps.shinglesOf(col("cand"), 1).as("c1"),
          graft.ops.TextOps.shinglesOf(col("ref"), 1).as("r1g"),
          graft.ops.TextOps.shinglesOf(col("cand"), 2).as("c2"),
          graft.ops.TextOps.shinglesOf(col("ref"), 2).as("r2g"))
      t.withColumn("r1", graft.ops.TextOps.rougeFromGrams(col("c1"), col("r1g")))
        .withColumn("r2", graft.ops.TextOps.rougeFromGrams(col("c2"), col("r2g")))
        .select(col("doc_id"),
          col("r1.n_match").as("r1_match"), col("r1.precision").as("r1_p"),
          col("r1.recall").as("r1_r"), col("r1.f1").as("r1_f"),
          col("r2.f1").as("r2_f"))
        .orderBy(col("doc_id"))
    }),

    // SQuAD-style EM/F1 eval (TextOps.emF1): predictions derived from
    // the 10-token reference with controlled corruption by doc_id%3 —
    // one token replaced, one token dropped, or exact — so EM flips
    // and F1 varies while every metric stays exact integer arithmetic
    // (2PR/(P+R) = 2·overlap/(|p|+|r|)). The oracle replays the
    // corruption, the multiset overlap, and every f1_e4.
    // SENTENCE SEGMENTATION (graft.functions.SentenceSplit): the grain
    // under bitext mining, PII windows, and per-sentence dedup —
    // Punkt-style fixed rules (boundary = .!?+ then whitespace then
    // uppercase/digit; abbreviation and single-letter-initial periods
    // never split; decimals never match the boundary shape; terminal
    // punctuation stays with its sentence). The fixture packs every
    // rule into one constructed paragraph per doc; the oracle states
    // all four sentences closed-form.
    "text_sentences" -> ((s, dir) => {
      val text = concat(
        lit("Alpha w"), col("doc_id").cast("string"),
        lit(". Dr. Smith met Ms. Jones at 3.14 pm!  Next part "),
        (col("doc_id") % 7).cast("string"),
        lit("? Final bit no. 5 tail"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(call_function("sentence_split", text))
            .as(Seq("sent_idx", "sentence")))
        .select(col("doc_id"), col("sent_idx").cast("long").as("sent_idx"),
          col("sentence"))
        .orderBy(col("doc_id"), col("sent_idx"))
    }),

    "eval_em_f1" -> ((s, dir) => {
      val pm = (col("doc_id") % 10).cast("int")
      val t = Tables.documents(s, dir)
        .select(col("doc_id"),
          slice(graft.ops.TextOps.tokens(col("text")), 1, 10).as("ref"))
        .withColumn("pred",
          when(col("doc_id") % 3 === 0,
            transform(col("ref"), (x, i) =>
              when(i === pm, lit("wrong")).otherwise(x)))
            .when(col("doc_id") % 3 === 1,
              filter(col("ref"), (_, i) => i =!= pm))
            .otherwise(col("ref")))
      t.withColumn("m", graft.ops.TextOps.emF1(col("pred"), col("ref")))
        .select(col("doc_id"), col("m.n_pred").as("n_pred"),
          col("m.n_ref").as("n_ref"), col("m.overlap").as("overlap"),
          col("m.em").as("em"), col("m.f1_e4").as("f1_e4"))
        .orderBy(col("doc_id"))
    }),

    // RAG-style overlapping chunker: 32-token windows every 24 tokens;
    // pure integer chunk arithmetic, no window operator.
    "text_chunk_overlap" -> ((s, dir) => {
      graft.ops.TextOps.chunkTokens(
          Tables.documents(s, dir).filter(col("doc_id") < 50),
          "doc_id", "text", win = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // Dataset-mixture sampling: per-source keep rates (the pre-training
    // corpus re-weighting step) via the deterministic hash threshold.
    "sample_mixture" -> ((s, dir) => {
      graft.ops.SamplingOps.mixtureSample(
          Tables.documents(s, dir), col("doc_id"), col("lang"),
          Map("en" -> 0.8, "zh" -> 0.3, "es" -> 0.1))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          r4(avg(col("n_chars"))).as("avg_chars"))
        .orderBy(col("lang"))
    }),

    // TEMPERATURE mixture (n^0.5 source re-balancing): keep rates derived
    // from the corpus's own per-source counts via integer milli-sqrt
    // weights and ppm thresholds — the oracle replays the entire rate
    // derivation, not just the sampled set.
    "sample_temperature" -> ((s, dir) => {
      graft.ops.SamplingOps.temperatureMixture(
          Tables.documents(s, dir), col("doc_id"), col("lang"),
          targetRows = 200)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          first(col("ppm")).as("ppm"),
          first(col("src_total")).as("src_total"))
        .orderBy(col("lang"))
    }),

    // UNIMAX epoch-capped sampling (SamplingOps.unimaxSample): equal
    // budget shares per source, capped at 2 epochs, over a skewed
    // synthetic source split (50/30/10/10) so all three behaviors are
    // live at once — a small source hitting its full 2-epoch cap
    // (copies > 1), a mid source on a fractional epoch (ppm
    // threshold), and the big source square on the quota. Budget =
    // 4/5 of the corpus so the shape holds at every SF; the oracle
    // unrolls the greedy as a recursive CTE and replays every rate.
    "sample_unimax" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // one scalar driver-side job: the budget input, like the greedy
      // itself a bounded model-table read
      val budget = docs.count() * 4 / 5
      val src = when(col("doc_id") % 10 < 5, lit("big"))
        .when(col("doc_id") % 10 < 8, lit("mid"))
        .otherwise(concat(lit("s"), (col("doc_id") % 10).cast("string")))
      graft.ops.SamplingOps.unimaxSample(
          docs.withColumn("src", src), col("doc_id"), col("src"),
          budgetRows = budget, maxEpochs = 2)
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_kept"),
          first(col("rate_ppm")).as("rate_ppm"),
          first(col("alloc_rows")).as("alloc_rows"),
          first(col("src_total")).as("src_total"))
        .orderBy(col("src"))
    }),

    // DOREMI domain reweighting (ImportanceOps.doremiWeights): the
    // published exponentiated-gradient mixing method, linearized to
    // integer multiplicative weights. Excess losses are MEASURED, not
    // synthesized: per (hash-shard step, lang), the integer mean
    // micro-surprisal under the corpus's own df-capped unigram LM
    // (quantize-then-truncating-mean, the Min-K% idiom) minus the
    // SHARD's all-domain mean (the reference-model stand-in: excess
    // over the mixture, so hard domains sit positive and easy ones
    // clip at zero) — four minibatch steps, weights averaged then
    // smoothed toward uniform. The oracle replays the LM, the shards,
    // and every EG round in HUGEINT.
    "sample_doremi_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tok = docs.select(col("doc_id"), col("lang"),
        explode(graft.ops.TextOps.tokens(col("text"))).as("t"))
      val totals = tok.agg(count(lit(1)).as("__n"),
        count_distinct(col("t")).as("__v"))
      val lm = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t").asc).limit(65536)
      val scored = tok.join(broadcast(lm), Seq("t"), "left")
        .crossJoin(broadcast(totals))
        .withColumn("__ms", floor(log((col("__n") + col("__v")).cast("double")
          / (coalesce(col("c"), lit(0L)) + lit(1L)).cast("double")) * 1e6
          + lit(0.5)).cast("long"))
        .withColumn("__step",
          pmod(graft.ops.SamplingOps.hash60(col("doc_id"), "drm:"), lit(4L)))
      val perLang = scored.groupBy(col("__step").as("step"), col("lang"))
        .agg(expr("sum(__ms) div count(1)").as("__mean"))
      val perStep = scored.groupBy(col("__step").as("step"))
        .agg(expr("sum(__ms) div count(1)").as("__ref"))
      val ex = perLang.join(broadcast(perStep), "step")
        .withColumn("excess_micro", col("__mean") - col("__ref"))
      graft.ops.ImportanceOps.doremiWeights(ex, "step", "lang",
          "excess_micro", etaPpm = 1000000L, nSteps = 4)
        .orderBy(col("domain"))
    }),

    // GPT-style training-sequence packing: documents become one token
    // stream per hash shard, cut at 512-token boundaries; the only window
    // is `shards` wide, never global.
    "pack_sequences" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("n_tok",
        size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      graft.ops.PackingOps.packTokenStream(docs, "doc_id", "n_tok",
          budget = 512, shards = 8)
        .orderBy(col("doc_id"))
    }),

    // LENGTH-BUCKETED BATCHING (PackingOps.lengthBuckets): the
    // inference/eval-serving layout — sequences batch with near-equal
    // lengths (16-token buckets, 8-row batches) so padding-to-max
    // wastes almost nothing; every row carries its batch's pad target
    // and its own waste. Windows keyed by (hash shard, bucket), never
    // corpus-wide. The oracle replays the bucket arithmetic, both
    // windows, the composed batch id, and every waste value.
    "pack_length_buckets" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("n_tok",
        size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      graft.ops.PackingOps.lengthBuckets(docs, "doc_id", "n_tok",
          bucketWidth = 16, batchSize = 8, shards = 8)
        .orderBy(col("doc_id"))
    }),

    // POST-TRAINING funnel, END TO END: exact dedup (keep-first) →
    // distinct-token-ratio quality gate → shard-ranked conversation
    // assembly (user/assistant/user triples over the SURVIVORS) →
    // ChatML render with assistant-only masks → per-(shard, role)
    // keep stats. One hash certifies the stage COMPOSITION — dedup
    // holes, gate holes, rank re-basing, and the token-cap drop all
    // interact here (the corpus_e2e_* lesson applied to SFT prep).
    "sft_e2e_prepare" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // stage 1: exact dedup, keep min doc_id per text
      val keepIds = docs.groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      // stage 2: quality gate on the e4 distinct-token ratio
      val gated = docs.join(keepIds, Seq("doc_id"), "left_semi")
        .withColumn("__t", graft.ops.TextOps.tokens(col("text")))
        .withColumn("__q", expr(
          "CAST(size(array_distinct(__t)) AS BIGINT) * 10000 div size(__t)"))
        .filter(col("__q") >= 5000L)
      // stage 3: shard-ranked conversation triples over survivors
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__shard")).orderBy(col("doc_id"))
      val turns = gated
        .withColumn("__shard",
          pmod(graft.ops.SamplingOps.hash60(col("doc_id"), "sfte:"), lit(8L)))
        .withColumn("__r", row_number().over(w).cast("long") - 1L)
        .select(
          (col("__shard") * lit(1L << 20) + expr("__r div 3")).as("conv_id"),
          col("__shard").as("shard"), (col("__r") % 3).as("turn_idx"),
          when(col("__r") % 3 === 1, "assistant").otherwise("user").as("role"),
          trim(regexp_replace(regexp_replace(
            expr("array_join(slice(__t, 1, CAST(6 + doc_id % 9 AS INT)), ' ')"),
            "[^a-z0-9 ]", ""), "\\s+", " ")).as("txt"))
      // stage 4: assembly + cap; stage 5: per-(shard, role) stats
      // (the shard is recoverable from the conv id by construction)
      graft.ops.SftOps.assembleChat(turns, "conv_id", "turn_idx", "role",
          "txt", maxTokens = 40)
        .withColumn("shard", expr("conv_id div 1048576"))
        .groupBy(col("shard"), col("role"))
        .agg(count(lit(1)).as("n_turns"),
          sum(col("n_trainable")).as("n_trainable"),
          count_distinct(col("conv_id")).as("n_convs"))
        .orderBy(col("shard"), col("role"))
    }),

    // PREFERENCE-PAIR mining (SftOps.preferencePairs): per hash bucket,
    // best-vs-worst by the integer distinct-token-ratio quality score
    // (e4 units, truncating div) — the quality-signal-to-preference-
    // data step that seeds a reward model before human labels exist.
    // Opposed tie-breaks make all-tied buckets deterministic; the
    // oracle replays both rank-1 windows and every margin.
    "rlhf_pref_pairs" -> ((s, dir) => {
      val scored = Tables.documents(s, dir)
        .withColumn("__t", graft.ops.TextOps.tokens(col("text")))
        .select(col("doc_id"),
          expr("CAST(size(array_distinct(__t)) AS BIGINT) * 10000" +
            " div size(__t)").as("q"))
      graft.ops.SftOps.preferencePairs(scored, "doc_id", "q", buckets = 40)
        .orderBy(col("bucket"))
    }),

    // BEST-OF-N / rejection-sampling assembly (SftOps.bestOfN): 8
    // completions per prompt (doc_id div 8), keep the rank-1 by the
    // same e4 quality score, margin over the group's lower median —
    // the published RFT data path beside preference pairs. The oracle
    // replays the score, both windows, the median pick, every margin.
    "rlhf_best_of_n" -> ((s, dir) => {
      val scored = Tables.documents(s, dir)
        .withColumn("__t", graft.ops.TextOps.tokens(col("text")))
        .select(col("doc_id"), expr("doc_id div 8").as("prompt_id"),
          expr("CAST(size(array_distinct(__t)) AS BIGINT) * 10000" +
            " div size(__t)").as("q"))
      graft.ops.SftOps.bestOfN(scored, "doc_id", "prompt_id", "q")
        .orderBy(col("prompt"))
    }),

    // SFT CHAT ASSEMBLY (SftOps.assembleChat): four-doc conversations
    // (system/user/assistant/user by doc_id%4) rendered through the
    // ChatML-style template with exact whitespace-token accounting —
    // per-turn start offsets, assistant-only loss-mask counts, and the
    // md5 of the fully rendered conversation; conversations over the
    // token cap drop whole. The oracle replays the template, the
    // offsets, the mask rule, and the reassembly hash closed-form.
    "sft_chat_pack" -> ((s, dir) => {
      val ptoks = trim(regexp_replace(regexp_replace(
        expr("array_join(slice(__toks, 1, CAST(6 + doc_id % 9 AS INT)), ' ')"),
        "[^a-z0-9 ]", ""), "\\s+", " "))
      val turns = Tables.documents(s, dir)
        .withColumn("__toks", graft.ops.TextOps.tokens(col("text")))
        .select(expr("doc_id div 4").as("conv_id"),
          (col("doc_id") % 4).as("turn_idx"),
          when(col("doc_id") % 4 === 0, "system")
            .when(col("doc_id") % 2 === 1, "user")
            .otherwise("assistant").as("role"),
          ptoks.as("txt"))
      graft.ops.SftOps.assembleChat(turns, "conv_id", "turn_idx", "role",
          "txt", maxTokens = 48)
        .orderBy(col("conv_id"), col("turn_idx"))
    }),

    // IN-CONTEXT-PRETRAINING packing (PackingOps.packClustered):
    // documents join their embedding cluster and the per-shard stream
    // orders by (cluster, id) — related docs become contiguous runs,
    // the semantic-adjacency layout the ICLM line advocates over random
    // concatenation. Oracle replays the cluster-ordered window.
    "icl_pack" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("n_tok",
        size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      val lab = Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("label"))
      graft.ops.PackingOps.packClustered(docs.join(lab, "doc_id"),
          "doc_id", "n_tok", "label", budget = 512, shards = 8)
        .orderBy(col("doc_id"))
    }),

    // NO-SPLIT packing by sorted-fold pairing (PackingOps.packFoldPairs):
    // at most two sequences per pack, budget-capped lengths flagged
    // truncated, rank r pairing with rank N−1−r per shard — the
    // document-boundary-respecting layout next to pack_sequences'
    // concatenate-then-chunk. Budget 96 against 10..99-token docs keeps
    // all three outcomes live (pairs, unpaired mids, truncations).
    "pack_fold_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("n_tok",
        size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      graft.ops.PackingOps.packFoldPairs(docs, "doc_id", "n_tok",
          budget = 96, shards = 8)
        .orderBy(col("doc_id"))
    }),

    // IVF + PRODUCT quantization: per-subspace codebooks, corpus stored as
    // m integer codes (64 floats -> 4 codes), per-query ADC lookup table,
    // cluster-restricted candidate join, exact rerank on the shortlist.
    // iters=0 here so the oracle replays the hash-seeded codebooks; the
    // trained path (iters>0) is exercised by PqOpsSpec.
    "embed_ann_ivf_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ops.PqOps.ivfPqTopK(
          emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", dim = 64, m = 4, codebookK = 8,
          iters = 0, k = 3, oversample = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // PQ quality evaluation: recall@3 of the IVF+PQ index vs the exact
    // within-cluster top-3, per query, per oversample ∈ {1, 3, 10} — the
    // compressed-domain analog of embed_ann_recall's nprobe curve, and the
    // knob a deployment actually tunes (how wide an ADC shortlist buys how
    // much recall). The ADC scan runs ONCE at the widest shortlist (30)
    // and each curve point is a rank-filter of that one checkpointed
    // table; the float rerank also runs once over the 30-wide shortlist.
    // The query set is hash-SAMPLED (60%, deterministic md5 threshold,
    // mirrored in the oracle) before anything runs — recall is a
    // statistic, and the exact side is the expensive half, so at 100 TB
    // the eval pays it only for sampled queries. Sampling lives in the
    // query shape (same contract as embed_ann_recall), not a docstring;
    // the production index query embed_ann_ivf_pq stays unsampled.
    "embed_pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.filter(col("vec_id") >= 10)
      val queries = SamplingOps.hashSample(
        emb.filter(col("vec_id") < 10), col("vec_id"), 60, "pqrecall:")
      val exact = graft.ops.EmbeddingOps.ivfTopK(corpus, queries,
        "vec_id", "embedding", "label", k = 3).localCheckpoint(true)
      val sl = graft.ops.PqOps.adcShortlist(corpus, queries,
        "vec_id", "embedding", "label", dim = 64, m = 4, codebookK = 8,
        iters = 0, width = 30)
      // exact cosine for every shortlist pair, once; `rank` is the ADC rank
      val scored = sl.select(col("query_id"), col("rank").as("__ar"),
          col("neighbor_id"))
        .join(corpus.select(col("vec_id").cast("long").as("neighbor_id"),
          col("embedding").as("__cv")), "neighbor_id")
        .join(broadcast(queries.select(col("vec_id").cast("long").as("query_id"),
          col("embedding").as("__qv"))), "query_id")
        .withColumn("score",
          floor(graft.ops.EmbeddingOps.cosine(col("__qv"), col("__cv"))
            * 1e4 + lit(0.5)) / 1e4)
        .localCheckpoint(true)
      Seq(1, 3, 10).map { os =>
        val top = graft.ops.EmbeddingOps.takeTopK(
          scored.filter(col("__ar") <= 3 * os), "neighbor_id", 3)
        exact.alias("e")
          .join(top.alias("a"),
            col("e.query_id") === col("a.query_id") &&
              col("e.neighbor_id") === col("a.neighbor_id"), "left")
          .groupBy(col("e.query_id").as("query_id"))
          .agg(count(col("a.neighbor_id")).as("hits"),
            (floor(count(col("a.neighbor_id")) / 3.0 * 1e4 + lit(0.5)) / 1e4)
              .as("recall"))
          .withColumn("oversample", lit(os))
      }.reduce(_ unionByName _)
        .select(col("query_id"), col("oversample"), col("hits"), col("recall"))
        .orderBy(col("query_id"), col("oversample"))
    }),

    // IVF coarse-quantizer training: derandomized integer-quantized Lloyd's
    // k-means — the operator that produces ivfTopK's cluster id in-engine.
    // Integer distances make the full iteration engine-exact, so the oracle
    // replays seeds -> assign -> update -> assign identically.
    "embed_kmeans_assign" -> ((s, dir) => {
      graft.ops.KMeansOps.assignments(
          Tables.embeddings(s, dir), "vec_id", "embedding", k = 4, iters = 1)
        .orderBy(col("vec_id"))
    }),

    // Bloom-pruned semi join: sketch over urgent orders' keys broadcast to
    // the lineitem scan, probe rows dropped before the shuffle, exactness
    // restored by the trailing semi join.
    "j_bloom_prune" -> ((s, dir) => {
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
      BloomJoin.bloomPrunedSemiJoin(
          Tables.lineitem(s, dir), col("l_orderkey"),
          urgent, col("o_orderkey"), expectedItems = 100000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
          r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
        .orderBy(col("l_returnflag"))
    })
  )

  private val tokSql = """string_split_regex(trim(lower(text)), '\s+')"""

  /** Shared trigram-LM scoring replay (counts → deterministic caps →
    * fixed-weight interpolation, mirroring
    * [[graft.ops.TextQualityOps.trigramLogProb]]) ending in a `score`
    * CTE — consumed by `text_lm_trigram`, `text_ppl_buckets`, and (as
    * the WITH-less body) the composed curation funnel in
    * [[DataPipelineQueries]]. CTE names (t/p/u/bgr/blm/tgr/tlm/j/score/
    * tot0) are chosen not to collide with the minhash fragments there.
    */
  private[queries] lazy val trigramScoreCtesBody: String =
    s"""t AS (SELECT doc_id, $tokSql AS l FROM documents),
       |p AS (SELECT doc_id, unnest(l) AS t FROM t),
       |tot0 AS (SELECT count(*) AS n, count(DISTINCT t) AS v FROM p),
       |u AS MATERIALIZED (SELECT t, count(*) AS cu FROM p GROUP BY t
       |      ORDER BY cu DESC, t ASC LIMIT 65536),
       |bgr AS (SELECT l[i] || ' ' || l[i+1] AS b
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i) g
       |  WHERE len(l) >= 2),
       |blm AS MATERIALIZED (SELECT b, count(*) AS cb FROM bgr GROUP BY b
       |       ORDER BY cb DESC, b ASC LIMIT 65536),
       |tgr AS MATERIALIZED (SELECT doc_id,
       |    l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS g3,
       |    l[i] || ' ' || l[i+1] AS b12, l[i+1] || ' ' || l[i+2] AS b23,
       |    l[i+1] AS w2, l[i+2] AS w3
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(l)-2)) AS i) g
       |  WHERE len(l) >= 3),
       |tlm AS MATERIALIZED (SELECT g3, count(*) AS ct FROM tgr GROUP BY g3
       |       ORDER BY ct DESC, g3 ASC LIMIT 65536),
       |j AS (SELECT tgr.doc_id, tlm.ct, b1.cb AS cb12, b2.cb AS cb23,
       |    u2.cu AS cu2, u3.cu AS cu3
       |  FROM tgr LEFT JOIN tlm USING (g3)
       |  LEFT JOIN blm b1 ON b1.b = tgr.b12
       |  LEFT JOIN blm b2 ON b2.b = tgr.b23
       |  LEFT JOIN u u2 ON u2.t = tgr.w2
       |  LEFT JOIN u u3 ON u3.t = tgr.w3),
       |score AS MATERIALIZED (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |    CAST(sum(CASE WHEN ct IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov3,
       |    floor(avg(ln(
       |      0.6 * (coalesce(ct, 0) + 1.0) / (coalesce(cb12, 0) + (SELECT v FROM tot0)) +
       |      0.3 * (coalesce(cb23, 0) + 1.0) / (coalesce(cu2, 0) + (SELECT v FROM tot0)) +
       |      0.1 * (coalesce(cu3, 0) + 1.0) / ((SELECT n FROM tot0) + (SELECT v FROM tot0))))
       |      * 1e4 + 0.5) / 1e4 AS avg_logprob3
       |  FROM j GROUP BY doc_id)""".stripMargin

  private lazy val trigramScoreCtes: String = "WITH " + trigramScoreCtesBody

  /** PER-LANGUAGE trigram-LM + tercile replay (mirrors
    * [[graft.ops.TextQualityOps.langTrigramLogProb]] /
    * `langPerplexityBuckets`): the [[trigramScoreCtesBody]] ladder with
    * every count table, total, deterministic cap, histogram, and
    * threshold keyed by `lang`. Parameterized on the source CTE (must
    * expose doc_id, lang, text) so the CCNet funnel can feed it the
    * line-deduped corpus; ends in `lgbuck`. CTE names are lg-prefixed
    * against collisions.
    */
  private[queries] def langTrigramCtesBody(src: String): String =
    s"""lgt AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS l FROM $src),
       |lgp AS (SELECT doc_id, lang, unnest(l) AS t FROM lgt),
       |lgtot AS (SELECT lang, count(*) AS n, count(DISTINCT t) AS v FROM lgp GROUP BY lang),
       |lgu AS MATERIALIZED (SELECT lang, t, count(*) AS cu FROM lgp GROUP BY lang, t
       |      QUALIFY row_number() OVER (PARTITION BY lang ORDER BY cu DESC, t ASC) <= 65536),
       |lgbgr AS (SELECT lang, l[i] || ' ' || l[i+1] AS b
       |  FROM lgt, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i) g
       |  WHERE len(l) >= 2),
       |lgblm AS MATERIALIZED (SELECT lang, b, count(*) AS cb FROM lgbgr GROUP BY lang, b
       |       QUALIFY row_number() OVER (PARTITION BY lang ORDER BY cb DESC, b ASC) <= 65536),
       |lgtgr AS MATERIALIZED (SELECT doc_id, lang,
       |    l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS g3,
       |    l[i] || ' ' || l[i+1] AS b12, l[i+1] || ' ' || l[i+2] AS b23,
       |    l[i+1] AS w2, l[i+2] AS w3
       |  FROM lgt, LATERAL (SELECT unnest(generate_series(1, len(l)-2)) AS i) g
       |  WHERE len(l) >= 3),
       |lgtlm AS MATERIALIZED (SELECT lang, g3, count(*) AS ct FROM lgtgr GROUP BY lang, g3
       |       QUALIFY row_number() OVER (PARTITION BY lang ORDER BY ct DESC, g3 ASC) <= 65536),
       |lgj AS (SELECT lgtgr.doc_id, lgtgr.lang, lgtlm.ct, b1.cb AS cb12, b2.cb AS cb23,
       |    u2.cu AS cu2, u3.cu AS cu3
       |  FROM lgtgr LEFT JOIN lgtlm ON lgtlm.lang = lgtgr.lang AND lgtlm.g3 = lgtgr.g3
       |  LEFT JOIN lgblm b1 ON b1.lang = lgtgr.lang AND b1.b = lgtgr.b12
       |  LEFT JOIN lgblm b2 ON b2.lang = lgtgr.lang AND b2.b = lgtgr.b23
       |  LEFT JOIN lgu u2 ON u2.lang = lgtgr.lang AND u2.t = lgtgr.w2
       |  LEFT JOIN lgu u3 ON u3.lang = lgtgr.lang AND u3.t = lgtgr.w3),
       |lgscore AS MATERIALIZED (
       |  SELECT j.doc_id, j.lang, CAST(count(*) AS BIGINT) AS n_trigrams,
       |    CAST(sum(CASE WHEN ct IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov3,
       |    floor(avg(ln(
       |      0.6 * (coalesce(ct, 0) + 1.0) / (coalesce(cb12, 0) + tt.v) +
       |      0.3 * (coalesce(cb23, 0) + 1.0) / (coalesce(cu2, 0) + tt.v) +
       |      0.1 * (coalesce(cu3, 0) + 1.0) / (tt.n + tt.v)))
       |      * 1e4 + 0.5) / 1e4 AS avg_logprob3
       |  FROM lgj j JOIN lgtot tt ON tt.lang = j.lang GROUP BY j.doc_id, j.lang),
       |lgq AS MATERIALIZED (SELECT doc_id, lang, avg_logprob3,
       |    CAST(floor(avg_logprob3 * 100) AS BIGINT) AS lp_centi FROM lgscore),
       |lghist AS (SELECT lang, lp_centi, count(*) AS c FROM lgq GROUP BY lang, lp_centi),
       |lgcum AS (SELECT lang, lp_centi,
       |    sum(c) OVER (PARTITION BY lang ORDER BY lp_centi DESC) AS cumc FROM lghist),
       |lgn AS (SELECT lang, count(*) AS n FROM lgq GROUP BY lang),
       |lgth AS (SELECT c.lang,
       |    max(CASE WHEN cumc >= (n + 2) // 3 THEN lp_centi END) AS t1,
       |    max(CASE WHEN cumc >= (2 * n + 2) // 3 THEN lp_centi END) AS t2
       |  FROM lgcum c JOIN lgn USING (lang) GROUP BY c.lang),
       |lgbuck AS (SELECT q.doc_id, q.lang, q.avg_logprob3, q.lp_centi,
       |    CASE WHEN q.lp_centi >= th.t1 THEN 'head'
       |         WHEN q.lp_centi >= th.t2 THEN 'middle'
       |         ELSE 'tail' END AS ppl_bucket
       |  FROM lgq q JOIN lgth th ON th.lang = q.lang)""".stripMargin

  /** Full replay of [[graft.ops.TextQualityOps.knTrigramLogProb]] —
    * counts → continuation counts → count-of-counts → modified-KN
    * discounts → the interpolated probability per trigram position,
    * with every capped table's deterministic (magnitude desc, key asc)
    * order restated. Expression shapes mirror the Spark column tree so
    * the IEEE-double arithmetic lands on identical bits. CTE names
    * kn-prefixed to compose with the other fragments.
    */
  private[queries] lazy val knScoreCtesBody: String =
    s"""knt AS (SELECT doc_id, $tokSql AS l FROM documents),
       |knp AS (SELECT doc_id, unnest(l) AS t FROM knt),
       |kntgr AS MATERIALIZED (SELECT doc_id,
       |    l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS g3,
       |    l[i] || ' ' || l[i+1] AS b12, l[i+1] || ' ' || l[i+2] AS b23,
       |    l[i+1] AS w2, l[i+2] AS w3
       |  FROM knt, LATERAL (SELECT unnest(generate_series(1, len(l)-2)) AS i) g
       |  WHERE len(l) >= 3),
       |knbgr AS (SELECT l[i] || ' ' || l[i+1] AS b
       |  FROM knt, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i) g
       |  WHERE len(l) >= 2),
       |kntc AS MATERIALIZED (SELECT g3, count(*) AS ct FROM kntgr GROUP BY g3),
       |knbc AS MATERIALIZED (SELECT b, count(*) AS cb FROM knbgr GROUP BY b),
       |knnf AS (SELECT split_part(g3, ' ', 1) || ' ' || split_part(g3, ' ', 2) AS b12,
       |    sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS nf1,
       |    sum(CASE WHEN ct = 2 THEN 1 ELSE 0 END) AS nf2,
       |    sum(CASE WHEN ct >= 3 THEN 1 ELSE 0 END) AS nf3p
       |  FROM kntc GROUP BY 1),
       |knctx AS MATERIALIZED (SELECT knbc.b AS b12, cb,
       |    coalesce(nf1, 0) AS nf1, coalesce(nf2, 0) AS nf2,
       |    coalesce(nf3p, 0) AS nf3p
       |  FROM knbc LEFT JOIN knnf ON knnf.b12 = knbc.b
       |  ORDER BY cb DESC, b12 ASC LIMIT 65536),
       |knc23 AS MATERIALIZED (SELECT
       |    split_part(g3, ' ', 2) || ' ' || split_part(g3, ' ', 3) AS b23,
       |    count(*) AS n123 FROM kntc GROUP BY 1),
       |knmid AS MATERIALIZED (SELECT split_part(b23, ' ', 1) AS w2,
       |    sum(n123) AS midden,
       |    sum(CASE WHEN n123 = 1 THEN 1 ELSE 0 END) AS m1,
       |    sum(CASE WHEN n123 = 2 THEN 1 ELSE 0 END) AS m2,
       |    sum(CASE WHEN n123 >= 3 THEN 1 ELSE 0 END) AS m3p
       |  FROM knc23 GROUP BY 1 ORDER BY midden DESC, w2 ASC LIMIT 65536),
       |knc23c AS MATERIALIZED (SELECT b23, n123 FROM knc23
       |  ORDER BY n123 DESC, b23 ASC LIMIT 65536),
       |kncw AS MATERIALIZED (SELECT split_part(b, ' ', 2) AS w3, count(*) AS nw
       |  FROM knbc GROUP BY 1 ORDER BY nw DESC, w3 ASC LIMIT 65536),
       |kntlm AS MATERIALIZED (SELECT g3, ct FROM kntc
       |  ORDER BY ct DESC, g3 ASC LIMIT 65536),
       |kntot AS (SELECT (SELECT count(DISTINCT t) FROM knp) AS v,
       |  (SELECT count(*) FROM knbc) AS nb),
       |knd AS (SELECT
       |    CASE WHEN t_n1 > 0 AND (t_n1 + 2*t_n2) > 0 THEN greatest(
       |      1.0 - 2.0 * (CAST(t_n1 AS DOUBLE) / CAST(t_n1 + 2*t_n2 AS DOUBLE))
       |        * CAST(t_n2 AS DOUBLE) / CAST(t_n1 AS DOUBLE), 0.0)
       |      ELSE 0.5 END AS td1,
       |    CASE WHEN t_n2 > 0 AND (t_n1 + 2*t_n2) > 0 THEN greatest(
       |      2.0 - 3.0 * (CAST(t_n1 AS DOUBLE) / CAST(t_n1 + 2*t_n2 AS DOUBLE))
       |        * CAST(t_n3 AS DOUBLE) / CAST(t_n2 AS DOUBLE), 0.0)
       |      ELSE 1.0 END AS td2,
       |    CASE WHEN t_n3 > 0 AND (t_n1 + 2*t_n2) > 0 THEN greatest(
       |      3.0 - 4.0 * (CAST(t_n1 AS DOUBLE) / CAST(t_n1 + 2*t_n2 AS DOUBLE))
       |        * CAST(t_n4 AS DOUBLE) / CAST(t_n3 AS DOUBLE), 0.0)
       |      ELSE 1.5 END AS td3,
       |    CASE WHEN c_n1 > 0 AND (c_n1 + 2*c_n2) > 0 THEN greatest(
       |      1.0 - 2.0 * (CAST(c_n1 AS DOUBLE) / CAST(c_n1 + 2*c_n2 AS DOUBLE))
       |        * CAST(c_n2 AS DOUBLE) / CAST(c_n1 AS DOUBLE), 0.0)
       |      ELSE 0.5 END AS cd1,
       |    CASE WHEN c_n2 > 0 AND (c_n1 + 2*c_n2) > 0 THEN greatest(
       |      2.0 - 3.0 * (CAST(c_n1 AS DOUBLE) / CAST(c_n1 + 2*c_n2 AS DOUBLE))
       |        * CAST(c_n3 AS DOUBLE) / CAST(c_n2 AS DOUBLE), 0.0)
       |      ELSE 1.0 END AS cd2,
       |    CASE WHEN c_n3 > 0 AND (c_n1 + 2*c_n2) > 0 THEN greatest(
       |      3.0 - 4.0 * (CAST(c_n1 AS DOUBLE) / CAST(c_n1 + 2*c_n2 AS DOUBLE))
       |        * CAST(c_n4 AS DOUBLE) / CAST(c_n3 AS DOUBLE), 0.0)
       |      ELSE 1.5 END AS cd3
       |  FROM (SELECT
       |      sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS t_n1,
       |      sum(CASE WHEN ct = 2 THEN 1 ELSE 0 END) AS t_n2,
       |      sum(CASE WHEN ct = 3 THEN 1 ELSE 0 END) AS t_n3,
       |      sum(CASE WHEN ct = 4 THEN 1 ELSE 0 END) AS t_n4 FROM kntc),
       |    (SELECT
       |      sum(CASE WHEN n123 = 1 THEN 1 ELSE 0 END) AS c_n1,
       |      sum(CASE WHEN n123 = 2 THEN 1 ELSE 0 END) AS c_n2,
       |      sum(CASE WHEN n123 = 3 THEN 1 ELSE 0 END) AS c_n3,
       |      sum(CASE WHEN n123 = 4 THEN 1 ELSE 0 END) AS c_n4 FROM knc23)),
       |knj AS (SELECT g.doc_id, t.ct, x.cb, x.nf1, x.nf2, x.nf3p,
       |    c.n123, m.midden, m.m1, m.m2, m.m3p, w.nw,
       |    td1, td2, td3, cd1, cd2, cd3, v, nb
       |  FROM kntgr g
       |  LEFT JOIN kntlm t USING (g3)
       |  LEFT JOIN knctx x ON x.b12 = g.b12
       |  LEFT JOIN knc23c c ON c.b23 = g.b23
       |  LEFT JOIN knmid m ON m.w2 = g.w2
       |  LEFT JOIN kncw w ON w.w3 = g.w3, knd, kntot),
       |knpr AS (SELECT doc_id, ct,
       |    CAST(coalesce(nw, 0) + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE) AS p1,
       |    CASE WHEN midden IS NULL THEN p1 ELSE
       |      greatest(CAST(coalesce(n123, 0) AS DOUBLE) -
       |        (CASE WHEN coalesce(n123, 0) >= 3 THEN cd3
       |              WHEN coalesce(n123, 0) = 2 THEN cd2
       |              WHEN coalesce(n123, 0) = 1 THEN cd1 ELSE 0.0 END), 0.0)
       |        / CAST(midden AS DOUBLE)
       |      + ((cd1 * m1 + cd2 * m2 + cd3 * m3p) / CAST(midden AS DOUBLE)) * p1
       |    END AS p2,
       |    CASE WHEN cb IS NULL THEN p2 ELSE
       |      greatest(CAST(coalesce(ct, 0) AS DOUBLE) -
       |        (CASE WHEN coalesce(ct, 0) >= 3 THEN td3
       |              WHEN coalesce(ct, 0) = 2 THEN td2
       |              WHEN coalesce(ct, 0) = 1 THEN td1 ELSE 0.0 END), 0.0)
       |        / CAST(cb AS DOUBLE)
       |      + ((td1 * nf1 + td2 * nf2 + td3 * nf3p) / CAST(cb AS DOUBLE)) * p2
       |    END AS p3
       |  FROM knj),
       |knscore AS MATERIALIZED (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |    CAST(sum(CASE WHEN ct IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov3,
       |    floor(avg(ln(greatest(p3, 1e-10))) * 1e4 + 0.5) / 1e4 AS avg_logprob_kn
       |  FROM knpr GROUP BY doc_id)""".stripMargin

  private lazy val knScoreCtes: String = "WITH " + knScoreCtesBody

  /** One order's three modified-KN discounts (D1/D2/D3+) as CASE
    * expressions over its count-of-counts columns `{p}_n1..{p}_n4` —
    * the same Y/Di arithmetic and slot defaults as the trigram replay,
    * emitted once per ladder order of the 5-gram oracle.
    */
  private def knDiscCases(p: String): String =
    s"""CASE WHEN ${p}_n1 > 0 AND (${p}_n1 + 2*${p}_n2) > 0 THEN greatest(
       |      1.0 - 2.0 * (CAST(${p}_n1 AS DOUBLE) / CAST(${p}_n1 + 2*${p}_n2 AS DOUBLE))
       |        * CAST(${p}_n2 AS DOUBLE) / CAST(${p}_n1 AS DOUBLE), 0.0)
       |      ELSE 0.5 END AS ${p}d1,
       |    CASE WHEN ${p}_n2 > 0 AND (${p}_n1 + 2*${p}_n2) > 0 THEN greatest(
       |      2.0 - 3.0 * (CAST(${p}_n1 AS DOUBLE) / CAST(${p}_n1 + 2*${p}_n2 AS DOUBLE))
       |        * CAST(${p}_n3 AS DOUBLE) / CAST(${p}_n2 AS DOUBLE), 0.0)
       |      ELSE 1.0 END AS ${p}d2,
       |    CASE WHEN ${p}_n3 > 0 AND (${p}_n1 + 2*${p}_n2) > 0 THEN greatest(
       |      3.0 - 4.0 * (CAST(${p}_n1 AS DOUBLE) / CAST(${p}_n1 + 2*${p}_n2 AS DOUBLE))
       |        * CAST(${p}_n4 AS DOUBLE) / CAST(${p}_n3 AS DOUBLE), 0.0)
       |      ELSE 1.5 END AS ${p}d3""".stripMargin

  /** One order's count-of-counts (n1..n4 of its count column) as a
    * FROM-list subquery for the 5-gram discount CTE.
    */
  private def knCocSql(src: String, cc: String, p: String): String =
    s"""(SELECT
       |      sum(CASE WHEN $cc = 1 THEN 1 ELSE 0 END) AS ${p}_n1,
       |      sum(CASE WHEN $cc = 2 THEN 1 ELSE 0 END) AS ${p}_n2,
       |      sum(CASE WHEN $cc = 3 THEN 1 ELSE 0 END) AS ${p}_n3,
       |      sum(CASE WHEN $cc = 4 THEN 1 ELSE 0 END) AS ${p}_n4 FROM $src)""".stripMargin

  /** One middle order's discounted-probability CASE over its
    * continuation count `cn`, denominator `dn`, follower classes
    * `e1/e2/e3p`, discounts `{p}d1..{p}d3`, and the next-lower
    * probability alias `lower` — mirrors
    * [[graft.ops.TextQualityOps.kn5LogProb]]'s `mid`.
    */
  private def knMidSql(cn: String, dn: String, e1: String, e2: String,
      e3p: String, p: String, lower: String): String =
    s"""CASE WHEN $dn IS NULL THEN $lower ELSE
       |      greatest(CAST(coalesce($cn, 0) AS DOUBLE) -
       |        (CASE WHEN coalesce($cn, 0) >= 3 THEN ${p}d3
       |              WHEN coalesce($cn, 0) = 2 THEN ${p}d2
       |              WHEN coalesce($cn, 0) = 1 THEN ${p}d1 ELSE 0.0 END), 0.0)
       |        / CAST($dn AS DOUBLE)
       |      + ((${p}d1 * $e1 + ${p}d2 * $e2 + ${p}d3 * $e3p)
       |        / CAST($dn AS DOUBLE)) * $lower
       |    END""".stripMargin

  /** DuckDB replay of the full 5-gram modified-KN ladder
    * ([[graft.ops.TextQualityOps.kn5LogProb]]): raw 5-gram counts →
    * the w1..w4 context table → continuation counts for orders 4/3/2
    * from the next-higher raw n-gram TYPES → unigram-continuation
    * floor → per-order count-of-counts discounts → the interpolated
    * per-position probability — ending in a `kn5score` CTE.
    */
  private[queries] lazy val kn5ScoreCtesBody: String =
    s"""kn5t AS (SELECT doc_id, $tokSql AS l FROM documents),
       |kn5p AS (SELECT doc_id, unnest(l) AS t FROM kn5t),
       |kn5g AS MATERIALIZED (SELECT doc_id,
       |    l[i]||' '||l[i+1]||' '||l[i+2]||' '||l[i+3]||' '||l[i+4] AS g5,
       |    l[i]||' '||l[i+1]||' '||l[i+2]||' '||l[i+3] AS b1234,
       |    l[i+1]||' '||l[i+2]||' '||l[i+3]||' '||l[i+4] AS s2345,
       |    l[i+1]||' '||l[i+2]||' '||l[i+3] AS c234,
       |    l[i+2]||' '||l[i+3]||' '||l[i+4] AS s345,
       |    l[i+2]||' '||l[i+3] AS c34,
       |    l[i+3]||' '||l[i+4] AS s45,
       |    l[i+3] AS w4, l[i+4] AS w5
       |  FROM kn5t, LATERAL (SELECT unnest(generate_series(1, len(l)-4)) AS i) g
       |  WHERE len(l) >= 5),
       |kn5c AS MATERIALIZED (SELECT g5, b1234, s2345, c234, count(*) AS ct
       |  FROM kn5g GROUP BY 1, 2, 3, 4),
       |kn5q4 AS MATERIALIZED (SELECT
       |    l[i]||' '||l[i+1]||' '||l[i+2]||' '||l[i+3] AS q4,
       |    l[i+1]||' '||l[i+2]||' '||l[i+3] AS s345k,
       |    l[i+1]||' '||l[i+2] AS c34k, count(*) AS cq4
       |  FROM kn5t, LATERAL (SELECT unnest(generate_series(1, len(l)-3)) AS i) g
       |  WHERE len(l) >= 4 GROUP BY 1, 2, 3),
       |kn5q3 AS MATERIALIZED (SELECT l[i]||' '||l[i+1]||' '||l[i+2] AS q3,
       |    l[i+1]||' '||l[i+2] AS s45k, l[i+1] AS w4k, count(*) AS cq3
       |  FROM kn5t, LATERAL (SELECT unnest(generate_series(1, len(l)-2)) AS i) g
       |  WHERE len(l) >= 3 GROUP BY 1, 2, 3),
       |kn5q2 AS MATERIALIZED (SELECT l[i]||' '||l[i+1] AS q2, l[i+1] AS w5k,
       |    count(*) AS cq2
       |  FROM kn5t, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i) g
       |  WHERE len(l) >= 2 GROUP BY 1, 2),
       |kn5nf AS (SELECT b1234,
       |    sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS nf1,
       |    sum(CASE WHEN ct = 2 THEN 1 ELSE 0 END) AS nf2,
       |    sum(CASE WHEN ct >= 3 THEN 1 ELSE 0 END) AS nf3p
       |  FROM kn5c GROUP BY 1),
       |kn5ctx AS MATERIALIZED (SELECT q4 AS b1234, cq4 AS cb1234,
       |    coalesce(nf1, 0) AS nf1, coalesce(nf2, 0) AS nf2,
       |    coalesce(nf3p, 0) AS nf3p
       |  FROM kn5q4 LEFT JOIN kn5nf ON kn5nf.b1234 = kn5q4.q4
       |  ORDER BY cb1234 DESC, b1234 ASC LIMIT 65536),
       |kn5c4 AS MATERIALIZED (SELECT s2345, c234, count(*) AS n4
       |  FROM kn5c GROUP BY 1, 2),
       |kn5d4 AS MATERIALIZED (SELECT c234, sum(n4) AS d4,
       |    sum(CASE WHEN n4 = 1 THEN 1 ELSE 0 END) AS e4_1,
       |    sum(CASE WHEN n4 = 2 THEN 1 ELSE 0 END) AS e4_2,
       |    sum(CASE WHEN n4 >= 3 THEN 1 ELSE 0 END) AS e4_3p
       |  FROM kn5c4 GROUP BY 1 ORDER BY d4 DESC, c234 ASC LIMIT 65536),
       |kn5c4c AS MATERIALIZED (SELECT s2345, n4 FROM kn5c4
       |  ORDER BY n4 DESC, s2345 ASC LIMIT 65536),
       |kn5c3 AS MATERIALIZED (SELECT s345k, c34k, count(*) AS n3
       |  FROM kn5q4 GROUP BY 1, 2),
       |kn5d3 AS MATERIALIZED (SELECT c34k AS c34, sum(n3) AS d3,
       |    sum(CASE WHEN n3 = 1 THEN 1 ELSE 0 END) AS e3_1,
       |    sum(CASE WHEN n3 = 2 THEN 1 ELSE 0 END) AS e3_2,
       |    sum(CASE WHEN n3 >= 3 THEN 1 ELSE 0 END) AS e3_3p
       |  FROM kn5c3 GROUP BY 1 ORDER BY d3 DESC, c34 ASC LIMIT 65536),
       |kn5c3c AS MATERIALIZED (SELECT s345k AS s345, n3 FROM kn5c3
       |  ORDER BY n3 DESC, s345 ASC LIMIT 65536),
       |kn5c2 AS MATERIALIZED (SELECT s45k, w4k, count(*) AS n2
       |  FROM kn5q3 GROUP BY 1, 2),
       |kn5d2 AS MATERIALIZED (SELECT w4k AS w4, sum(n2) AS d2,
       |    sum(CASE WHEN n2 = 1 THEN 1 ELSE 0 END) AS e2_1,
       |    sum(CASE WHEN n2 = 2 THEN 1 ELSE 0 END) AS e2_2,
       |    sum(CASE WHEN n2 >= 3 THEN 1 ELSE 0 END) AS e2_3p
       |  FROM kn5c2 GROUP BY 1 ORDER BY d2 DESC, w4 ASC LIMIT 65536),
       |kn5c2c AS MATERIALIZED (SELECT s45k AS s45, n2 FROM kn5c2
       |  ORDER BY n2 DESC, s45 ASC LIMIT 65536),
       |kn5cw AS MATERIALIZED (SELECT w5k AS w5, count(*) AS nw
       |  FROM kn5q2 GROUP BY 1 ORDER BY nw DESC, w5 ASC LIMIT 65536),
       |kn5lm AS MATERIALIZED (SELECT g5, ct FROM kn5c
       |  ORDER BY ct DESC, g5 ASC LIMIT 65536),
       |kn5tot AS (SELECT (SELECT count(DISTINCT t) FROM kn5p) AS v,
       |  (SELECT count(*) FROM kn5q2) AS nb),
       |kn5dd AS (SELECT
       |    ${knDiscCases("a")},
       |    ${knDiscCases("b")},
       |    ${knDiscCases("c")},
       |    ${knDiscCases("d")}
       |  FROM ${knCocSql("kn5c", "ct", "a")},
       |    ${knCocSql("kn5c4", "n4", "b")},
       |    ${knCocSql("kn5c3", "n3", "c")},
       |    ${knCocSql("kn5c2", "n2", "d")}),
       |kn5j AS (SELECT g.doc_id, t.ct, x.cb1234, x.nf1, x.nf2, x.nf3p,
       |    j4.n4, k4.d4, k4.e4_1, k4.e4_2, k4.e4_3p,
       |    j3.n3, k3.d3, k3.e3_1, k3.e3_2, k3.e3_3p,
       |    j2.n2, k2.d2, k2.e2_1, k2.e2_2, k2.e2_3p,
       |    w.nw, ad1, ad2, ad3, bd1, bd2, bd3, cd1, cd2, cd3,
       |    dd1, dd2, dd3, v, nb
       |  FROM kn5g g
       |  LEFT JOIN kn5lm t USING (g5)
       |  LEFT JOIN kn5ctx x ON x.b1234 = g.b1234
       |  LEFT JOIN kn5c4c j4 ON j4.s2345 = g.s2345
       |  LEFT JOIN kn5d4 k4 ON k4.c234 = g.c234
       |  LEFT JOIN kn5c3c j3 ON j3.s345 = g.s345
       |  LEFT JOIN kn5d3 k3 ON k3.c34 = g.c34
       |  LEFT JOIN kn5c2c j2 ON j2.s45 = g.s45
       |  LEFT JOIN kn5d2 k2 ON k2.w4 = g.w4
       |  LEFT JOIN kn5cw w ON w.w5 = g.w5, kn5dd, kn5tot),
       |kn5pr AS (SELECT doc_id, ct,
       |    CAST(coalesce(nw, 0) + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE) AS p1,
       |    ${knMidSql("n2", "d2", "e2_1", "e2_2", "e2_3p", "d", "p1")} AS p2,
       |    ${knMidSql("n3", "d3", "e3_1", "e3_2", "e3_3p", "c", "p2")} AS p3,
       |    ${knMidSql("n4", "d4", "e4_1", "e4_2", "e4_3p", "b", "p3")} AS p4,
       |    CASE WHEN cb1234 IS NULL THEN p4 ELSE
       |      greatest(CAST(coalesce(ct, 0) AS DOUBLE) -
       |        (CASE WHEN coalesce(ct, 0) >= 3 THEN ad3
       |              WHEN coalesce(ct, 0) = 2 THEN ad2
       |              WHEN coalesce(ct, 0) = 1 THEN ad1 ELSE 0.0 END), 0.0)
       |        / CAST(cb1234 AS DOUBLE)
       |      + ((ad1 * nf1 + ad2 * nf2 + ad3 * nf3p)
       |        / CAST(cb1234 AS DOUBLE)) * p4
       |    END AS p5
       |  FROM kn5j),
       |kn5score AS MATERIALIZED (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_5grams,
       |    CAST(sum(CASE WHEN ct IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov5,
       |    floor(avg(ln(greatest(p5, 1e-10))) * 1e4 + 0.5) / 1e4 AS avg_logprob_kn5
       |  FROM kn5pr GROUP BY doc_id)""".stripMargin

  private lazy val kn5ScoreCtes: String = "WITH " + kn5ScoreCtesBody

  /** DuckDB replay of the full IVF+PQ path at iters=0: per subspace s the
    * codebook is the 8 corpus subvectors with the smallest md5('pq<s>:'||id)
    * hash (exactly [[graft.ops.KMeansOps]]'s derandomized seeds), codes are
    * integer argmins, ADC is the exact integer inner-product sum of the 4
    * per-subspace partials, shortlist rank ≤ 9 on (adc DESC, id), then the
    * identical exact-cosine rerank tail as embed_ann_ivf_quantized. The
    * subspace CTEs are generated by this loop so Spark's m and the SQL's m
    * cannot drift.
    */
  /** The CTE core both PQ oracles share: 1e-6-grid quantization, the m
    * per-subspace codebooks (hash-seeded, = iters=0), integer-argmin
    * codes, ADC partial inner products, and their sum `adc` — everything
    * up to (query, candidate, adc_score).
    */
  private def pqCoreCtes: String = {
    val m = 4; val sub = 16; val kb = 8
    val books = (0 until m).map { s =>
      s"""b$s AS (SELECT cid, cv FROM (
         |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid,
         |         qv[${s * sub + 1} : ${s * sub + sub}] AS cv
         |  FROM (SELECT vec_id, qv,
         |          ('0x' || substr(md5('pq$s:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |        FROM c)) WHERE cid < $kb)""".stripMargin
    }
    val codes = (0 until m).map { s =>
      s"""d$s AS (SELECT c.vec_id, b.cid,
         |         sum((c.qv[${s * sub} + i] - b.cv[i]) * (c.qv[${s * sub} + i] - b.cv[i])) AS d
         |       FROM c CROSS JOIN b$s b CROSS JOIN dims GROUP BY 1, 2),
         |k$s AS (SELECT vec_id, cid AS code FROM (
         |         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |           ORDER BY d, cid) AS rnk FROM d$s) WHERE rnk = 1)""".stripMargin
    }
    val partials = (0 until m).map { s =>
      s"""p$s AS (SELECT q.vec_id AS query_id, cc.vec_id AS cand_id,
         |         sum(q.qv[${s * sub} + i] * b.cv[i]) AS ip
         |       FROM q JOIN c cc ON cc.label = q.label
         |         JOIN k$s kk ON kk.vec_id = cc.vec_id
         |         JOIN b$s b ON b.cid = kk.code
         |         CROSS JOIN dims
         |       GROUP BY 1, 2)""".stripMargin
    }
    s"""dims AS (SELECT unnest(generate_series(1, $sub)) AS i),
       |e AS (SELECT vec_id, label,
       |        list_transform(embedding,
       |          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
       |      FROM embeddings),
       |c AS (SELECT * FROM e WHERE vec_id >= 10),
       |q AS (SELECT * FROM e WHERE vec_id < 10),
       |${books.mkString(",\n")},
       |${codes.mkString(",\n")},
       |${partials.mkString(",\n")},
       |adc AS (SELECT query_id, cand_id, p0.ip + p1.ip + p2.ip + p3.ip AS a_dc
       |        FROM p0 JOIN p1 USING (query_id, cand_id)
       |          JOIN p2 USING (query_id, cand_id)
       |          JOIN p3 USING (query_id, cand_id))""".stripMargin
  }

  private def pqOracleSql: String =
    s"""WITH $pqCoreCtes,
       |sl AS (SELECT query_id, cand_id FROM (
       |        SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
       |          ORDER BY a_dc DESC, cand_id ASC) AS r FROM adc) WHERE r <= 9),
       |dims64 AS (SELECT unnest(generate_series(1, 64)) AS i),
       |qf AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
       |cf AS (SELECT vec_id, embedding AS ce FROM embeddings WHERE vec_id >= 10),
       |rr AS (SELECT sl.query_id, sl.cand_id AS neighbor_id,
       |        sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
       |        sqrt(sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) AS qn,
       |        sqrt(sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) AS cn
       |      FROM sl JOIN qf USING (query_id)
       |        JOIN cf ON cf.vec_id = sl.cand_id CROSS JOIN dims64
       |      GROUP BY 1, 2),
       |sc AS (SELECT query_id, neighbor_id,
       |        floor((dp / (qn * cn)) * 10000 + 0.5) / 10000.0 AS score FROM rr),
       |t AS (SELECT query_id, neighbor_id, score,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, neighbor_id ASC) AS rank FROM sc)
       |SELECT query_id, rank, neighbor_id, score FROM t WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** Recall-curve replay: same core, shortlist kept at the widest setting
    * (ADC rank ≤ 30) WITH its ADC rank, one exact-cosine pass over those
    * pairs, then each oversample point is a rank filter + re-rank — the
    * identical once-scored/filter-per-point shape as the Spark side. The
    * ground truth is the exact within-cluster top-3 (PQ approximates
    * shortlist MEMBERSHIP; the cluster restriction is shared with
    * embed_ann_ivf, whose oracle pins it).
    */
  private def pqRecallOracleSql: String =
    s"""WITH $pqCoreCtes,
       |sl AS (SELECT query_id, cand_id, ar FROM (
       |        SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
       |          ORDER BY a_dc DESC, cand_id ASC) AS ar FROM adc
       |        WHERE ('0x' || substr(md5('pqrecall:' || CAST(query_id AS VARCHAR)), 1, 15))::BIGINT
       |          % 100 < 60) WHERE ar <= 30),
       |dims64 AS (SELECT unnest(generate_series(1, 64)) AS i),
       |qf AS (SELECT vec_id AS query_id, label, embedding AS qe
       |       FROM embeddings WHERE vec_id < 10
       |       AND ('0x' || substr(md5('pqrecall:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |         % 100 < 60),
       |cf AS (SELECT vec_id, label, embedding AS ce
       |       FROM embeddings WHERE vec_id >= 10),
       |rr AS (SELECT sl.query_id, sl.cand_id, sl.ar,
       |        sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
       |        sqrt(sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) AS qn,
       |        sqrt(sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) AS cn
       |      FROM sl JOIN qf USING (query_id)
       |        JOIN cf ON cf.vec_id = sl.cand_id CROSS JOIN dims64
       |      GROUP BY 1, 2, 3),
       |sc AS (SELECT query_id, cand_id, ar,
       |        floor((dp / (qn * cn)) * 10000 + 0.5) / 10000.0 AS score FROM rr),
       |o AS (SELECT unnest([1, 3, 10]) AS os),
       |rk AS (SELECT o.os, s.query_id, s.cand_id,
       |        row_number() OVER (PARTITION BY o.os, s.query_id
       |          ORDER BY s.score DESC, s.cand_id ASC) AS r
       |      FROM sc s CROSS JOIN o WHERE s.ar <= 3 * o.os),
       |t3 AS (SELECT os, query_id, cand_id FROM rk WHERE r <= 3),
       |xr AS (SELECT qf.query_id, cf.vec_id AS cand_id,
       |        sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
       |        sqrt(sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) AS qn,
       |        sqrt(sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) AS cn
       |      FROM qf JOIN cf ON cf.label = qf.label CROSS JOIN dims64
       |      GROUP BY 1, 2),
       |xs AS (SELECT query_id, cand_id,
       |        floor((dp / (qn * cn)) * 10000 + 0.5) / 10000.0 AS score FROM xr),
       |x3 AS (SELECT query_id, cand_id FROM (
       |        SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, cand_id ASC) AS r FROM xs) WHERE r <= 3)
       |SELECT x.query_id AS query_id, CAST(o.os AS INTEGER) AS oversample,
       |       CAST(count(t.cand_id) AS BIGINT) AS hits,
       |       floor(count(t.cand_id) / 3.0 * 1e4 + 0.5) / 1e4 AS recall
       |FROM x3 x CROSS JOIN o
       |  LEFT JOIN t3 t ON t.query_id = x.query_id AND t.cand_id = x.cand_id
       |    AND t.os = o.os
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  override val oracle: Map[String, String] = Map(
    "url_canonical_dedup" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    'https://' || lower(source) || '.example.com/docs/'
        |      || CAST(doc_id % 40 AS VARCHAR)
        |      || '?a=' || CAST(doc_id % 7 AS VARCHAR) || '&b=2' AS canonical_url
        |  FROM documents)
        |SELECT canonical_url, min(doc_id) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_variants
        |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,
    "text_repetition_stats" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS l FROM documents),
         |p AS (SELECT doc_id, unnest(l) AS g, generate_subscripts(l, 1) AS pos FROM t),
         |uc AS (SELECT doc_id, g, count(*) AS c FROM p GROUP BY 1, 2),
         |us AS (SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct,
         |         max(c) AS top_uni,
         |         coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dup_mass
         |       FROM uc GROUP BY 1),
         |bg AS (SELECT doc_id,
         |         g || ' ' || lead(g) OVER (PARTITION BY doc_id ORDER BY pos) AS b
         |       FROM p),
         |bc AS (SELECT doc_id, b, count(*) AS c FROM bg WHERE b IS NOT NULL GROUP BY 1, 2),
         |bs AS (SELECT doc_id, sum(c) AS n_bi, max(c) AS top_bi FROM bc GROUP BY 1)
         |SELECT us.doc_id, CAST(us.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(us.n_distinct AS BIGINT) AS n_distinct,
         |  floor(top_uni / CAST(n_tokens AS DOUBLE) * 1e4 + 0.5) / 1e4 AS top_unigram_frac,
         |  floor(dup_mass / CAST(n_tokens AS DOUBLE) * 1e4 + 0.5) / 1e4 AS dup_token_frac,
         |  floor(coalesce(top_bi / CAST(n_bi AS DOUBLE), 0.0) * 1e4 + 0.5) / 1e4 AS top_bigram_frac
         |FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id
         |ORDER BY us.doc_id""".stripMargin,
    // replay of the capped-LM scoring: counts, pre-cap N/V totals,
    // (count desc, token asc) cap, left join, smoothed ln, 4-dp floor
    "text_lm_logprob" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS l FROM documents),
         |p AS (SELECT doc_id, unnest(l) AS t FROM t),
         |tot AS (SELECT count(*) AS n, count(DISTINCT t) AS v FROM p),
         |lm AS (SELECT t, count(*) AS c FROM p GROUP BY t
         |       ORDER BY c DESC, t ASC LIMIT 65536),
         |j AS (SELECT p.doc_id, lm.c FROM p LEFT JOIN lm USING (t))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  floor(avg(ln((coalesce(c, 0) + 1.0)
         |    / ((SELECT n FROM tot) + (SELECT v FROM tot)))) * 1e4 + 0.5) / 1e4
         |    AS avg_logprob
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_lm_bigram" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS l FROM documents),
         |p AS (SELECT doc_id, unnest(l) AS t FROM t),
         |tot AS (SELECT count(DISTINCT t) AS v FROM p),
         |u AS (SELECT t, count(*) AS c1 FROM p GROUP BY t
         |      ORDER BY c1 DESC, t ASC LIMIT 65536),
         |bgr AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS b, l[i] AS w1
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i) g
         |  WHERE len(l) >= 2),
         |blm AS (SELECT b, count(*) AS c2 FROM bgr GROUP BY b
         |       ORDER BY c2 DESC, b ASC LIMIT 65536),
         |j AS (SELECT bgr.doc_id, blm.c2, u.c1
         |  FROM bgr LEFT JOIN blm USING (b) LEFT JOIN u ON u.t = bgr.w1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN c2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov2,
         |  floor(avg(ln((coalesce(c2, 0) + 1.0)
         |    / (coalesce(c1, 0) + (SELECT v FROM tot)))) * 1e4 + 0.5) / 1e4
         |    AS avg_logprob2
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // replay of the C4 construction: counters and the page verdict are
    // closed forms of the doc_id mod classes; text_kept is rebuilt from
    // the same rule
    "text_c4_rules" ->
      """WITH d AS (SELECT doc_id, text,
        |    len(string_split_regex(trim(text), '\s+')) AS nw FROM documents)
        |SELECT doc_id,
        |  CAST(1 + (doc_id % 3 = 0)::INT + (doc_id % 4 = 0)::INT
        |    + (doc_id % 5 = 0)::INT + (doc_id % 17 = 0)::INT
        |    + (doc_id % 19 = 0)::INT AS BIGINT) AS n_lines,
        |  CAST(1 + (doc_id % 5 = 0)::INT + (doc_id % 17 = 0)::INT AS BIGINT)
        |    AS n_kept,
        |  CAST(nw + CASE WHEN doc_id % 5 = 0 THEN 6 ELSE 0 END
        |    + CASE WHEN doc_id % 17 = 0 THEN 4 ELSE 0 END AS BIGINT)
        |    AS n_words_kept,
        |  (doc_id % 17 = 0) AS has_lorem,
        |  (doc_id % 19 = 0) AS has_brace,
        |  (doc_id % 17 <> 0 AND doc_id % 19 <> 0
        |   AND 1 + (doc_id % 5 = 0)::INT >= 2) AS page_keep,
        |  text || '.'
        |  || CASE WHEN doc_id % 5 = 0
        |       THEN ' a second proper sentence right here.' ELSE '' END
        |  || CASE WHEN doc_id % 17 = 0
        |       THEN ' lorem ipsum filler text.' ELSE '' END AS text_kept
        |FROM d ORDER BY doc_id""".stripMargin,

    // replay of the augmented-text construction plus every Gopher word-
    // and line-shape fraction and the composed gate verdict
    "text_gopher_rules" ->
      """WITH d AS (SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN chr(10) || '- item ' || CAST(doc_id % 5 AS VARCHAR)
        |         ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'read more...'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 6 = 0
        |         THEN chr(10) || '- item ' || CAST(doc_id % 5 AS VARCHAR)
        |         ELSE '' END AS t
        |  FROM documents),
        |w AS (SELECT doc_id,
        |    string_split_regex(trim(lower(t)), '\s+') AS wl,
        |    list_transform(string_split(t, chr(10)), x -> trim(x)) AS ll
        |  FROM d),
        |m AS (SELECT doc_id,
        |    CAST(len(wl) AS BIGINT) AS n_words,
        |    floor(CAST(list_sum(list_transform(wl, x -> len(x))) AS DOUBLE)
        |      / len(wl) * 1e4 + 0.5) / 1e4 AS mean_word_len,
        |    floor(CAST(len(list_filter(wl, x -> regexp_matches(x, '\p{L}')))
        |      AS DOUBLE) / len(wl) * 1e4 + 0.5) / 1e4 AS frac_alpha_words,
        |    floor(CAST(len(list_filter(wl, x ->
        |        contains(x, '#') OR contains(x, '...') OR contains(x, '…')))
        |      AS DOUBLE) / len(wl) * 1e4 + 0.5) / 1e4 AS frac_symbol_words,
        |    CAST(len(ll) AS BIGINT) AS n_lines,
        |    floor(CAST(len(list_filter(ll, x ->
        |        x LIKE '-%' OR x LIKE '*%' OR x LIKE '•%'))
        |      AS DOUBLE) / len(ll) * 1e4 + 0.5) / 1e4 AS frac_bullet_lines,
        |    floor(CAST(len(list_filter(ll, x ->
        |        x LIKE '%...' OR x LIKE '%…'))
        |      AS DOUBLE) / len(ll) * 1e4 + 0.5) / 1e4 AS frac_ellipsis_lines,
        |    floor(CAST(len(ll) - len(list_distinct(ll)) AS DOUBLE)
        |      / len(ll) * 1e4 + 0.5) / 1e4 AS frac_dup_lines
        |  FROM w)
        |SELECT doc_id, n_words, mean_word_len, frac_alpha_words,
        |  frac_symbol_words, n_lines, frac_bullet_lines,
        |  frac_ellipsis_lines, frac_dup_lines,
        |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND frac_alpha_words >= 0.8 AND frac_symbol_words <= 0.1
        |   AND frac_bullet_lines <= 0.9 AND frac_ellipsis_lines <= 0.3)
        |  AS gopher_pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // replay of the utf8-stats construction rule: counters are closed
    // forms of doc_id%4 (tail kind) and doc_id%5+1 (tail length)
    "text_utf8_stats" ->
      """WITH d AS (SELECT doc_id, length(text) AS nc,
        |    doc_id % 5 + 1 AS k, doc_id % 4 AS m FROM documents)
        |SELECT doc_id,
        |  CAST(nc + CASE m WHEN 1 THEN 2*k WHEN 2 THEN k
        |    WHEN 3 THEN 3*k ELSE 0 END AS INTEGER) AS n_bytes,
        |  CAST(nc + CASE WHEN m IN (1, 3) THEN k ELSE 0 END AS INTEGER) AS n_cp,
        |  CAST(nc AS INTEGER) AS n_ascii,
        |  CAST(CASE WHEN m = 1 THEN k ELSE 0 END AS INTEGER) AS n_2byte,
        |  CAST(CASE WHEN m = 3 THEN k ELSE 0 END AS INTEGER) AS n_3byte,
        |  CAST(0 AS INTEGER) AS n_4byte,
        |  CAST(CASE WHEN m = 2 THEN k ELSE 0 END AS INTEGER) AS n_invalid,
        |  CAST(CASE WHEN m = 3 THEN k ELSE 0 END AS INTEGER) AS n_replacement
        |FROM d ORDER BY doc_id""".stripMargin,
    // closed-form plant counts; the clean majority must count zero
    "text_badwords_filter" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 27 = 0 THEN 2
        |       WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_blocked,
        |  (doc_id % 9 <> 0) AS keep_blocklist
        |FROM documents ORDER BY doc_id""".stripMargin,

    // gram construction + clipped-multiset matching + 4dp ratio replay
    "text_rouge_eval" -> {
      def g2(a: String) =
        s"CASE WHEN len($a) >= 2 THEN list_transform(range(1, len($a)), " +
          s"i -> $a[i] || ' ' || $a[i+1]) ELSE []::VARCHAR[] END"
      def m(cg: String, rg: String) =
        s"coalesce(list_aggregate(list_transform(list_distinct($cg), " +
          s"g -> least(len(list_filter($cg, x -> x = g)), " +
          s"len(list_filter($rg, x -> x = g)))), 'sum'), 0)"
      s"""WITH rt AS (SELECT doc_id, $tokSql AS l FROM documents),
         |rc AS (SELECT doc_id, l[1:12] AS cand, l[5:20] AS ref FROM rt),
         |rgr AS (SELECT doc_id, cand AS c1, ref AS r1g,
         |    ${g2("cand")} AS c2, ${g2("ref")} AS r2g FROM rc),
         |rm AS (SELECT doc_id,
         |    ${m("c1", "r1g")} AS m1, ${m("c2", "r2g")} AS m2,
         |    len(c1) AS nc1, len(r1g) AS nr1,
         |    len(c2) AS nc2, len(r2g) AS nr2 FROM rgr),
         |rp AS (SELECT doc_id, m1, m2,
         |    CASE WHEN nc1 > 0 THEN m1 / CAST(nc1 AS DOUBLE) ELSE 0 END AS p1,
         |    CASE WHEN nr1 > 0 THEN m1 / CAST(nr1 AS DOUBLE) ELSE 0 END AS r1,
         |    CASE WHEN nc2 > 0 THEN m2 / CAST(nc2 AS DOUBLE) ELSE 0 END AS p2,
         |    CASE WHEN nr2 > 0 THEN m2 / CAST(nr2 AS DOUBLE) ELSE 0 END AS r2
         |  FROM rm)
         |SELECT doc_id, CAST(m1 AS BIGINT) AS r1_match,
         |  floor(p1 * 1e4 + 0.5) / 1e4 AS r1_p,
         |  floor(r1 * 1e4 + 0.5) / 1e4 AS r1_r,
         |  floor(CASE WHEN p1 + r1 > 0 THEN 2.0 * p1 * r1 / (p1 + r1)
         |    ELSE 0 END * 1e4 + 0.5) / 1e4 AS r1_f,
         |  floor(CASE WHEN p2 + r2 > 0 THEN 2.0 * p2 * r2 / (p2 + r2)
         |    ELSE 0 END * 1e4 + 0.5) / 1e4 AS r2_f
         |FROM rp ORDER BY doc_id""".stripMargin
    },

    // per-position trigram-LM replay: same ladder as text_lm_trigram
    // with the position carried, milli quantization BEFORE the ranked
    // bottom-k selection, truncating integer means
    "text_mink_prob" ->
      s"""WITH mk_t AS (SELECT doc_id, $tokSql AS l FROM documents),
         |mk_p AS (SELECT doc_id, unnest(l) AS t FROM mk_t),
         |mk_tot AS (SELECT count(*) AS n, count(DISTINCT t) AS v FROM mk_p),
         |mk_u AS MATERIALIZED (SELECT t, count(*) AS cu FROM mk_p GROUP BY t
         |      ORDER BY cu DESC, t ASC LIMIT 65536),
         |mk_bgr AS (SELECT l[i] || ' ' || l[i+1] AS b
         |  FROM mk_t, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i) g
         |  WHERE len(l) >= 2),
         |mk_blm AS MATERIALIZED (SELECT b, count(*) AS cb FROM mk_bgr GROUP BY b
         |       ORDER BY cb DESC, b ASC LIMIT 65536),
         |mk_tgr AS MATERIALIZED (SELECT doc_id, i,
         |    l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS g3,
         |    l[i] || ' ' || l[i+1] AS b12, l[i+1] || ' ' || l[i+2] AS b23,
         |    l[i+1] AS w2, l[i+2] AS w3
         |  FROM mk_t, LATERAL (SELECT unnest(generate_series(1, len(l)-2)) AS i) g
         |  WHERE len(l) >= 3),
         |mk_tlm AS MATERIALIZED (SELECT g3, count(*) AS ct FROM mk_tgr GROUP BY g3
         |       ORDER BY ct DESC, g3 ASC LIMIT 65536),
         |mk_lp AS MATERIALIZED (
         |  SELECT tgr.doc_id, tgr.i,
         |    CAST(floor(ln(
         |      0.6 * (coalesce(tlm.ct, 0) + 1.0) / (coalesce(b1.cb, 0) + (SELECT v FROM mk_tot)) +
         |      0.3 * (coalesce(b2.cb, 0) + 1.0) / (coalesce(u2.cu, 0) + (SELECT v FROM mk_tot)) +
         |      0.1 * (coalesce(u3.cu, 0) + 1.0) / ((SELECT n FROM mk_tot) + (SELECT v FROM mk_tot))
         |    ) * 1000) AS BIGINT) AS lp
         |  FROM mk_tgr tgr LEFT JOIN mk_tlm tlm USING (g3)
         |  LEFT JOIN mk_blm b1 ON b1.b = tgr.b12
         |  LEFT JOIN mk_blm b2 ON b2.b = tgr.b23
         |  LEFT JOIN mk_u u2 ON u2.t = tgr.w2
         |  LEFT JOIN mk_u u3 ON u3.t = tgr.w3),
         |mk_r AS (SELECT doc_id, i, lp,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY lp, i) AS rn,
         |    count(*) OVER (PARTITION BY doc_id) AS nt
         |  FROM mk_lp),
         |mk_k AS (SELECT doc_id, i, lp, rn, nt, (nt * 20 + 99) // 100 AS k FROM mk_r)
         |SELECT doc_id, CAST(max(nt) AS BIGINT) AS n_trigrams,
         |  CAST(max(k) AS BIGINT) AS k_used,
         |  CAST((sum(CASE WHEN rn <= k THEN lp ELSE 0 END) * 10) // max(k) AS BIGINT)
         |    AS mink_e4,
         |  CAST((sum(lp) * 10) // max(nt) AS BIGINT) AS full_e4
         |FROM mk_k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_lm_trigram" ->
      s"""$trigramScoreCtes
         |SELECT doc_id, n_trigrams, n_oov3, avg_logprob3
         |FROM score ORDER BY doc_id""".stripMargin,
    // full modified-KN replay: counts → continuation counts →
    // count-of-counts → discounts → interpolated ln per position
    "text_lm_kn" ->
      s"""$knScoreCtes
         |SELECT doc_id, n_trigrams, n_oov3, avg_logprob_kn
         |FROM knscore ORDER BY doc_id""".stripMargin,
    "text_lm_kn5" ->
      s"""$kn5ScoreCtes
         |SELECT doc_id, n_5grams, n_oov5, avg_logprob_kn5
         |FROM kn5score ORDER BY doc_id""".stripMargin,
    // the kn5 ladder replayed once per whitelisted language over that
    // language's shard (CTE names lang-prefixed, source lang-filtered),
    // bucket rows unioned
    "text_ppl_buckets_kn5_lang" -> {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val perLang = langs.map { lg =>
        val body = kn5ScoreCtesBody
          .replace("FROM documents",
            s"FROM (SELECT * FROM documents WHERE lang = '$lg')")
          .replace("kn5", s"k5$lg")
        s"""$body,
           |k5${lg}bq AS MATERIALIZED (SELECT doc_id,
           |    avg_logprob_k5$lg AS avg_logprob_kn5,
           |    CAST(floor(avg_logprob_k5$lg * 100) AS BIGINT) AS lp_centi
           |  FROM k5${lg}score),
           |k5${lg}bh AS (SELECT lp_centi, count(*) AS c FROM k5${lg}bq
           |  GROUP BY lp_centi),
           |k5${lg}bc AS (SELECT lp_centi,
           |    sum(c) OVER (ORDER BY lp_centi DESC) AS cumc FROM k5${lg}bh),
           |k5${lg}bn AS (SELECT count(*) AS n FROM k5${lg}bq),
           |k5${lg}bt AS (SELECT
           |    max(CASE WHEN cumc >= (n + 2) // 3 THEN lp_centi END) AS t1,
           |    max(CASE WHEN cumc >= (2 * n + 2) // 3 THEN lp_centi END) AS t2
           |  FROM k5${lg}bc, k5${lg}bn)""".stripMargin
      }.mkString(",\n")
      val sel = langs.map { lg =>
        s"""SELECT q.doc_id, '$lg' AS lang, q.avg_logprob_kn5, q.lp_centi,
           |  CASE WHEN q.lp_centi >= t.t1 THEN 'head'
           |       WHEN q.lp_centi >= t.t2 THEN 'middle'
           |       ELSE 'tail' END AS ppl_bucket
           |FROM k5${lg}bq q, k5${lg}bt t""".stripMargin
      }.mkString(" UNION ALL ")
      s"""WITH $perLang
         |$sel
         |ORDER BY doc_id""".stripMargin
    },

    "text_ppl_buckets_kn5" ->
      s"""$kn5ScoreCtes,
         |kn5bq AS MATERIALIZED (SELECT doc_id, avg_logprob_kn5,
         |    CAST(floor(avg_logprob_kn5 * 100) AS BIGINT) AS lp_centi FROM kn5score),
         |kn5bh AS (SELECT lp_centi, count(*) AS c FROM kn5bq GROUP BY lp_centi),
         |kn5bc AS (SELECT lp_centi,
         |    sum(c) OVER (ORDER BY lp_centi DESC) AS cumc FROM kn5bh),
         |kn5bn AS (SELECT count(*) AS n FROM kn5bq),
         |kn5bt AS (SELECT
         |    max(CASE WHEN cumc >= (n + 2) // 3 THEN lp_centi END) AS t1,
         |    max(CASE WHEN cumc >= (2 * n + 2) // 3 THEN lp_centi END) AS t2
         |  FROM kn5bc, kn5bn)
         |SELECT kn5bq.doc_id, kn5bq.avg_logprob_kn5, kn5bq.lp_centi,
         |  CASE WHEN kn5bq.lp_centi >= kn5bt.t1 THEN 'head'
         |       WHEN kn5bq.lp_centi >= kn5bt.t2 THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM kn5bq, kn5bt ORDER BY doc_id""".stripMargin,
    // replay of the bucketed-threshold arithmetic: centi-quantized
    // scores, cumulative histogram, inclusive tercile maxima
    "text_ppl_buckets" ->
      s"""$trigramScoreCtes,
         |q AS MATERIALIZED (SELECT doc_id, avg_logprob3,
         |    CAST(floor(avg_logprob3 * 100) AS BIGINT) AS lp_centi FROM score),
         |hist AS (SELECT lp_centi, count(*) AS c FROM q GROUP BY lp_centi),
         |cum AS (SELECT lp_centi,
         |    sum(c) OVER (ORDER BY lp_centi DESC) AS cumc FROM hist),
         |tot AS (SELECT count(*) AS n FROM q),
         |th AS (SELECT
         |    max(CASE WHEN cumc >= (n + 2) // 3 THEN lp_centi END) AS t1,
         |    max(CASE WHEN cumc >= (2 * n + 2) // 3 THEN lp_centi END) AS t2
         |  FROM cum, tot)
         |SELECT q.doc_id, q.avg_logprob3, q.lp_centi,
         |  CASE WHEN q.lp_centi >= th.t1 THEN 'head'
         |       WHEN q.lp_centi >= th.t2 THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM q, th ORDER BY doc_id""".stripMargin,
    // same sentence split, vowel-run syllables, and floored IEEE
    // arithmetic replayed
    "text_readability" ->
      s"""WITH r AS (SELECT doc_id,
         |    $tokSql AS w,
         |    len(regexp_extract_all(text, '[^.!?]+[.!?]+|[^.!?]+$$')) AS s
         |  FROM documents),
         |y AS (SELECT doc_id, len(w) AS nw, s,
         |    list_sum(list_transform(w, x ->
         |      greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1))) AS sy
         |  FROM r WHERE len(w) > 0 AND s > 0)
         |SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
         |  CAST(s AS BIGINT) AS n_sentences,
         |  CAST(sy AS BIGINT) AS n_syllables,
         |  CAST(floor((206.835
         |    - 1.015 * CAST(nw AS DOUBLE) / CAST(s AS DOUBLE)
         |    - 84.6 * CAST(sy AS DOUBLE) / CAST(nw AS DOUBLE)) * 1000)
         |    AS BIGINT) AS flesch_milli
         |FROM y ORDER BY doc_id""".stripMargin,

    // the full lang-keyed ladder: per-language counts, caps, totals,
    // histograms, and tercile thresholds replayed in one statement
    "text_ppl_buckets_lang" ->
      s"""WITH ${langTrigramCtesBody("documents")}
         |SELECT doc_id, lang, avg_logprob3, lp_centi, ppl_bucket
         |FROM lgbuck ORDER BY doc_id""".stripMargin,

    // the same bucket arithmetic over the modified-KN scores
    "text_ppl_buckets_kn" ->
      s"""$knScoreCtes,
         |knq AS MATERIALIZED (SELECT doc_id, avg_logprob_kn,
         |    CAST(floor(avg_logprob_kn * 100) AS BIGINT) AS lp_centi FROM knscore),
         |knhist AS (SELECT lp_centi, count(*) AS c FROM knq GROUP BY lp_centi),
         |kncum AS (SELECT lp_centi,
         |    sum(c) OVER (ORDER BY lp_centi DESC) AS cumc FROM knhist),
         |knn AS (SELECT count(*) AS n FROM knq),
         |knth AS (SELECT
         |    max(CASE WHEN cumc >= (n + 2) // 3 THEN lp_centi END) AS t1,
         |    max(CASE WHEN cumc >= (2 * n + 2) // 3 THEN lp_centi END) AS t2
         |  FROM kncum, knn)
         |SELECT knq.doc_id, knq.avg_logprob_kn, knq.lp_centi,
         |  CASE WHEN knq.lp_centi >= knth.t1 THEN 'head'
         |       WHEN knq.lp_centi >= knth.t2 THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM knq, knth ORDER BY doc_id""".stripMargin,
    "text_quality_gate" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS l FROM documents),
         |p AS (SELECT doc_id, unnest(l) AS g, generate_subscripts(l, 1) AS pos FROM t),
         |uc AS (SELECT doc_id, g, count(*) AS c FROM p GROUP BY 1, 2),
         |us AS (SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct,
         |         max(c) AS top_uni,
         |         coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dup_mass
         |       FROM uc GROUP BY 1),
         |bg AS (SELECT doc_id,
         |         g || ' ' || lead(g) OVER (PARTITION BY doc_id ORDER BY pos) AS b
         |       FROM p),
         |bc AS (SELECT doc_id, b, count(*) AS c FROM bg WHERE b IS NOT NULL GROUP BY 1, 2),
         |bs AS (SELECT doc_id, sum(c) AS n_bi, max(c) AS top_bi FROM bc GROUP BY 1),
         |f AS (SELECT us.doc_id,
         |        top_uni / CAST(n_tokens AS DOUBLE) AS fu,
         |        dup_mass / CAST(n_tokens AS DOUBLE) AS fd,
         |        coalesce(top_bi / CAST(n_bi AS DOUBLE), 0.0) AS fb,
         |        n_tokens
         |      FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id),
         |g AS (SELECT n_tokens >= 40 AND n_tokens <= 100000 AND fu <= 0.09
         |        AND fd <= 0.9 AND fb <= 0.06 AS quality_pass, fu, n_tokens
         |      FROM f)
         |SELECT quality_pass, CAST(count(*) AS BIGINT) AS n_docs,
         |  floor(avg(fu) * 1e4 + 0.5) / 1e4 AS avg_top_unigram_frac,
         |  floor(avg(CAST(n_tokens AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS avg_tokens
         |FROM g GROUP BY quality_pass ORDER BY quality_pass""".stripMargin,
    "sample_weighted" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    -ln(((('0x' || substr(md5('wsmp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
        |         / 1152921504606846976.0)) / CAST(n_chars AS DOUBLE) AS key
        |  FROM documents),
        |r AS (SELECT doc_id, row_number() OVER (ORDER BY key, doc_id) AS pick FROM k)
        |SELECT doc_id, CAST(pick AS BIGINT) AS pick
        |FROM r WHERE pick <= 20 ORDER BY pick""".stripMargin,
    "embed_ann_quantized" ->
      """WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |m AS (SELECT max(abs(CAST(embedding[i] AS DOUBLE))) AS maxabs
        |      FROM embeddings CROSS JOIN dims WHERE vec_id >= 10),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
        |qd AS (SELECT q.query_id, c.vec_id,
        |         sum(floor(CAST(qv[i] AS DOUBLE) * 127 / m.maxabs + 0.5)
        |           * floor(CAST(embedding[i] AS DOUBLE) * 127 / m.maxabs + 0.5)) AS qdp
        |       FROM q CROSS JOIN c CROSS JOIN dims CROSS JOIN m
        |       GROUP BY q.query_id, c.vec_id),
        |sl AS (SELECT query_id, vec_id,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY qdp DESC, vec_id ASC) AS r
        |       FROM qd),
        |cand AS (SELECT query_id, vec_id FROM sl WHERE r <= 9),
        |p AS (SELECT cand.query_id, cand.vec_id,
        |        sum(CAST(qv[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) AS dp,
        |        sqrt(sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) AS qn,
        |        sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS cn
        |      FROM cand JOIN q USING (query_id) JOIN c USING (vec_id) CROSS JOIN dims
        |      GROUP BY cand.query_id, cand.vec_id),
        |r AS (SELECT query_id, vec_id AS neighbor_id,
        |        floor((dp / (qn * cn)) * 10000 + 0.5) / 10000.0 AS score FROM p),
        |t AS (SELECT query_id, neighbor_id, score,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY score DESC, neighbor_id ASC) AS rank
        |      FROM r)
        |SELECT query_id, rank, neighbor_id, score FROM t WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,
    "embed_ann_ivf_quantized" ->
      """WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |m AS (SELECT max(abs(CAST(embedding[i] AS DOUBLE))) AS maxabs
        |      FROM embeddings CROSS JOIN dims WHERE vec_id >= 10),
        |q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
        |      FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 10),
        |qd AS (SELECT q.query_id, c.vec_id,
        |         sum(floor(CAST(qv[i] AS DOUBLE) * 127 / m.maxabs + 0.5)
        |           * floor(CAST(embedding[i] AS DOUBLE) * 127 / m.maxabs + 0.5)) AS qdp
        |       FROM q JOIN c ON c.label = q.qlabel CROSS JOIN dims CROSS JOIN m
        |       GROUP BY q.query_id, c.vec_id),
        |sl AS (SELECT query_id, vec_id,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY qdp DESC, vec_id ASC) AS r
        |       FROM qd),
        |cand AS (SELECT query_id, vec_id FROM sl WHERE r <= 9),
        |p AS (SELECT cand.query_id, cand.vec_id,
        |        sum(CAST(qv[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) AS dp,
        |        sqrt(sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) AS qn,
        |        sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS cn
        |      FROM cand JOIN q USING (query_id) JOIN c USING (vec_id) CROSS JOIN dims
        |      GROUP BY cand.query_id, cand.vec_id),
        |r AS (SELECT query_id, vec_id AS neighbor_id,
        |        floor((dp / (qn * cn)) * 10000 + 0.5) / 10000.0 AS score FROM p),
        |t AS (SELECT query_id, neighbor_id, score,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY score DESC, neighbor_id ASC) AS rank
        |      FROM r)
        |SELECT query_id, rank, neighbor_id, score FROM t WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,
    "text_nfc_normalize" ->
      """WITH d AS (SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' a' || chr(771) AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(nfc_normalize(dirty)) AS BIGINT) AS n_chars_nfc,
        |  CAST(len(nfc_normalize(dirty)) - len(dirty) AS BIGINT) AS delta_chars,
        |  md5(nfc_normalize(dirty)) AS fp_nfc
        |FROM d ORDER BY doc_id""".stripMargin,
    "text_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        |          || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |          || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |          || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 ok',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+?\d{3}[-. ]\d{3}[-. ]\d{4}', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // extracted lines stated closed-form from the row: heading, token
    // paragraph, unwrapped emphasis/code, quote, both list items, the
    // link-text+alt line, and (even docs) the surviving fence content
    "text_markdown_extract" -> {
      val id = "CAST(doc_id AS VARCHAR)"
      s"""WITH t AS (SELECT doc_id,
         |    regexp_replace(trim(regexp_replace(
         |      array_to_string(
         |        (string_split_regex(lower(trim(text)), '\\s+'))[1:5], ' '),
         |      '[^a-z0-9 ]', '', 'g')), '\\s+', ' ', 'g') AS ptoks
         |  FROM documents),
         |e AS (SELECT doc_id,
         |    'Heading ' || $id || chr(10)
         |    || trim('para ' || ptoks) || chr(10)
         |    || 'bold' || $id || ' and ital plus code' || $id || ' here.'
         |    || chr(10) || 'quoted ' || $id || chr(10)
         |    || 'item one' || chr(10) || 'item two' || chr(10)
         |    || 'visit site and logo alt'
         |    || CASE WHEN doc_id % 2 = 0
         |         THEN chr(10) || 'val x = ' || $id ELSE '' END AS txt
         |  FROM t)
         |SELECT doc_id,
         |  CAST(len(string_split(txt, chr(10))) AS BIGINT) AS n_lines,
         |  CAST(length(txt) AS BIGINT) AS n_chars,
         |  md5(txt) AS text_md5
         |FROM e ORDER BY doc_id""".stripMargin
    },

    // the oracle computes the SAME check digit (ISO/IEC 7812 doubling
    // over the 15-digit base) and rebuilds the clean text closed-form:
    // valid card → <CARD>, invalid sibling survives verbatim, IP → <IP>
    "text_pii_luhn" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(substr(text, 1, 60),
        |      '[^ -~]', ' ', 'g'), '[0-9@]', 'x', 'g') AS base,
        |    substr(repeat(lpad(CAST(doc_id AS VARCHAR), 5, '0'), 3), 1, 15)
        |      AS b15
        |  FROM documents),
        |s AS (SELECT doc_id, base, b15,
        |    list_sum(list_transform(generate_series(1, 15), j ->
        |      CASE WHEN j % 2 = 1 THEN
        |        CASE WHEN ascii(substr(b15, j, 1)) - 48 > 4
        |          THEN 2 * (ascii(substr(b15, j, 1)) - 48) - 9
        |          ELSE 2 * (ascii(substr(b15, j, 1)) - 48) END
        |      ELSE ascii(substr(b15, j, 1)) - 48 END)) AS luhn_sum
        |  FROM d),
        |c AS (SELECT doc_id, base, b15,
        |    (10 - luhn_sum % 10) % 10 AS ck FROM s)
        |SELECT doc_id,
        |  base || ' pay <CARD> ref code ' || b15
        |    || CAST((ck + 5) % 10 AS VARCHAR) || ' via <IP> ok' AS clean_text,
        |  CAST(1 AS BIGINT) AS n_cards
        |FROM c ORDER BY doc_id""".stripMargin,
    "dedup_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, $tokSql AS l FROM documents),
         |sh AS (SELECT doc_id, s FROM (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(0, len(l) - 8),
         |    i -> array_to_string(l[i+1 : i+8], ' ')))) AS s
         |  FROM tok WHERE len(l) >= 8)),
         |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < 100)
         |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM sh JOIN ev USING (s)
         |WHERE sh.doc_id >= 100
         |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "text_chunk_overlap" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS l FROM documents WHERE doc_id < 50),
         |n AS (SELECT doc_id, l, len(l) AS n,
         |        CASE WHEN len(l) <= 32 THEN 1
         |             ELSE (len(l) - 32 + 23) // 24 + 1 END AS nc
         |      FROM t),
         |c AS (SELECT doc_id, l, unnest(generate_series(0, nc - 1)) AS chunk_id FROM n)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  array_to_string(l[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text,
         |  CAST(len(l[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS BIGINT) AS chunk_tokens
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "sample_mixture" ->
      """WITH r AS (SELECT * FROM (VALUES ('en', 0.8), ('zh', 0.3), ('es', 0.1))
        |             AS v(lang, rate)),
        |k AS (SELECT d.lang, d.n_chars FROM documents d JOIN r USING (lang)
        |      WHERE ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |            % 1000000 < CAST(r.rate * 1000000 AS BIGINT))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
        |  floor(avg(CAST(n_chars AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS avg_chars
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    "sample_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS wq
        |  FROM c),
        |s AS (SELECT sum(wq) AS sumw FROM w),
        |r AS (SELECT lang, n,
        |    least(1000000, (CAST(200 AS HUGEINT) * wq * 1000000)
        |                   // (CAST(sumw AS HUGEINT) * n)) AS ppm
        |  FROM w, s),
        |k AS (SELECT d.lang, r.ppm, r.n FROM documents d JOIN r USING (lang)
        |  WHERE ('0x' || substr(md5('tmp:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000 < r.ppm)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(min(ppm) AS BIGINT) AS ppm, CAST(min(n) AS BIGINT) AS src_total
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    // the LM, the milli-quantized surprisals, the hash shards, and all
    // four EG rounds replayed in HUGEINT — weights match the driver's
    // BigInt loop bit-for-bit
    "sample_doremi_weights" -> {
      val rounds = (1 to 4).map { t =>
        s"""u$t AS (SELECT p.lang,
           |    p.w * (1000000 + 1000000 * greatest(coalesce(e.ex, 0), 0)
           |      // 1000000) AS uw
           |  FROM w${t - 1} p LEFT JOIN drm_ex e
           |    ON e.lang = p.lang AND e.step = ${t - 1}),
           |w$t AS MATERIALIZED (SELECT lang,
           |    uw * 1000000 // (SELECT sum(uw) FROM u$t) AS w FROM u$t)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH drm_tok AS MATERIALIZED (SELECT doc_id, lang,
         |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
         |  FROM documents),
         |drm_tot AS MATERIALIZED (SELECT count(*) AS n,
         |    count(DISTINCT t) AS v FROM drm_tok),
         |drm_lm AS MATERIALIZED (SELECT t, c FROM (
         |    SELECT t, count(*) AS c,
         |      row_number() OVER (ORDER BY count(*) DESC, t ASC) AS rn
         |    FROM drm_tok GROUP BY t) q WHERE rn <= 65536),
         |drm_ms AS MATERIALIZED (SELECT k.doc_id, k.lang,
         |    ('0x' || substr(md5('drm:' || CAST(k.doc_id AS VARCHAR)), 1, 15))
         |      ::BIGINT % 4 AS step,
         |    CAST(floor(ln(CAST(tot.n + tot.v AS DOUBLE)
         |      / (coalesce(lm.c, 0) + 1)) * 1e6 + 0.5) AS BIGINT) AS ms
         |  FROM drm_tok k LEFT JOIN drm_lm lm USING (t), drm_tot tot),
         |drm_pl AS MATERIALIZED (SELECT step, lang,
         |    CAST(sum(ms) AS BIGINT) // count(*) AS m
         |  FROM drm_ms GROUP BY step, lang),
         |drm_ref AS MATERIALIZED (SELECT step,
         |    CAST(sum(ms) AS BIGINT) // count(*) AS r
         |  FROM drm_ms GROUP BY step),
         |drm_ex AS MATERIALIZED (SELECT p.step, p.lang, p.m - f.r AS ex
         |  FROM drm_pl p JOIN drm_ref f USING (step)),
         |drm_dom AS MATERIALIZED (SELECT DISTINCT lang FROM drm_ex),
         |drm_d AS (SELECT CAST(count(*) AS BIGINT) AS d FROM drm_dom),
         |w0 AS MATERIALIZED (SELECT lang, CAST(1000000 // d AS HUGEINT) AS w
         |  FROM drm_dom, drm_d),
         |$rounds,
         |avgw AS (SELECT w1.lang,
         |    (w1.w + w2.w + w3.w + w4.w) // 4 AS avg
         |  FROM w1 JOIN w2 USING (lang) JOIN w3 USING (lang)
         |    JOIN w4 USING (lang))
         |SELECT a.lang AS domain, CAST(avg AS BIGINT) AS avg_weight_ppm,
         |  CAST((1000000 - 50000) * avg // 1000000 + 50000 // d AS BIGINT)
         |    AS weight_ppm
         |FROM avgw a, drm_d ORDER BY domain""".stripMargin
    },

    // the greedy unrolled as a recursive CTE over the size-ordered
    // source table; whole-epoch copies + the fractional-ppm threshold
    // replayed per document
    "sample_unimax" ->
      """WITH RECURSIVE um_src AS MATERIALIZED (SELECT doc_id,
        |    CASE WHEN doc_id % 10 < 5 THEN 'big'
        |         WHEN doc_id % 10 < 8 THEN 'mid'
        |         ELSE 's' || CAST(doc_id % 10 AS VARCHAR) END AS src
        |  FROM documents),
        |um_cnt AS MATERIALIZED (
        |  SELECT src, count(*) AS n FROM um_src GROUP BY src),
        |um_ord AS MATERIALIZED (SELECT src, n,
        |    CAST(row_number() OVER (ORDER BY n, src) AS BIGINT) AS i,
        |    CAST(count(*) OVER () AS BIGINT) AS l
        |  FROM um_cnt),
        |um_g AS (
        |  SELECT CAST(0 AS BIGINT) AS i,
        |    (SELECT CAST(count(*) AS HUGEINT) * 4 // 5 FROM documents)
        |      AS rem,
        |    CAST(0 AS HUGEINT) AS alloc, '' AS src, CAST(0 AS BIGINT) AS n
        |  UNION ALL
        |  SELECT o.i,
        |    g.rem - least(CAST(2 AS HUGEINT) * o.n,
        |      g.rem // (o.l - o.i + 1)),
        |    least(CAST(2 AS HUGEINT) * o.n, g.rem // (o.l - o.i + 1)),
        |    o.src, o.n
        |  FROM um_g g JOIN um_ord o ON o.i = g.i + 1),
        |um_r AS MATERIALIZED (SELECT src, n, CAST(alloc AS BIGINT) AS alloc,
        |    CAST(alloc * 1000000 // n AS BIGINT) AS rate_ppm
        |  FROM um_g WHERE i > 0),
        |um_k AS (SELECT s.src, r.rate_ppm, r.alloc, r.n,
        |    (r.rate_ppm // 1000000) +
        |    CASE WHEN ('0x' || substr(md5('umx:' ||
        |        CAST(s.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
        |      < r.rate_ppm % 1000000 THEN 1 ELSE 0 END AS copies
        |  FROM um_src s JOIN um_r r USING (src))
        |SELECT src, CAST(sum(copies) AS BIGINT) AS n_kept,
        |  CAST(min(rate_ppm) AS BIGINT) AS rate_ppm,
        |  CAST(min(alloc) AS BIGINT) AS alloc_rows,
        |  CAST(min(n) AS BIGINT) AS src_total
        |FROM um_k WHERE copies > 0 GROUP BY src ORDER BY src""".stripMargin,
    // all four rule-exercising sentences stated closed-form
    "text_sentences" ->
      """WITH ts_s AS (
        |  SELECT doc_id, 0 AS sent_idx,
        |    'Alpha w' || CAST(doc_id AS VARCHAR) || '.' AS sentence
        |  FROM documents
        |  UNION ALL SELECT doc_id, 1,
        |    'Dr. Smith met Ms. Jones at 3.14 pm!' FROM documents
        |  UNION ALL SELECT doc_id, 2,
        |    'Next part ' || CAST(doc_id % 7 AS VARCHAR) || '?'
        |  FROM documents
        |  UNION ALL SELECT doc_id, 3, 'Final bit no. 5 tail'
        |  FROM documents)
        |SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx, sentence
        |FROM ts_s ORDER BY doc_id, sent_idx""".stripMargin,

    // corruption, multiset overlap (counts-join min-sum), EM array
    // equality, and the exact integer F1 all replayed
    "eval_em_f1" ->
      """WITH ev_r AS (SELECT doc_id,
        |    (string_split_regex(trim(lower(text)), '\s+'))[1:10] AS ref
        |  FROM documents),
        |ev_p AS (SELECT doc_id, ref,
        |    CASE CAST(doc_id % 3 AS INTEGER)
        |      WHEN 0 THEN list_transform(ref, (x, i) ->
        |        CASE WHEN i - 1 = doc_id % 10 THEN 'wrong' ELSE x END)
        |      WHEN 1 THEN list_filter(ref, (x, i) -> i - 1 <> doc_id % 10)
        |      ELSE ref END AS pred
        |  FROM ev_r),
        |ev_pt AS (SELECT doc_id, t, count(*) AS cp FROM
        |    (SELECT doc_id, unnest(pred) AS t FROM ev_p) z GROUP BY 1, 2),
        |ev_rt AS (SELECT doc_id, t, count(*) AS cr FROM
        |    (SELECT doc_id, unnest(ref) AS t FROM ev_p) z GROUP BY 1, 2),
        |ev_o AS (SELECT p.doc_id, CAST(sum(least(p.cp, r.cr)) AS BIGINT) AS o
        |  FROM ev_pt p JOIN ev_rt r ON r.doc_id = p.doc_id AND r.t = p.t
        |  GROUP BY 1)
        |SELECT e.doc_id, CAST(len(pred) AS BIGINT) AS n_pred,
        |  CAST(len(ref) AS BIGINT) AS n_ref,
        |  coalesce(o.o, 0) AS overlap, (pred = ref) AS em,
        |  CAST(CASE WHEN len(pred) + len(ref) > 0
        |    THEN 2 * coalesce(o.o, 0) * 10000 // (len(pred) + len(ref))
        |    ELSE 0 END AS BIGINT) AS f1_e4
        |FROM ev_p e LEFT JOIN ev_o o USING (doc_id)
        |ORDER BY e.doc_id""".stripMargin,

    // the cluster-ordered per-shard window replayed; label from the
    // embeddings table keys the ordering
    "icl_pack" ->
      """WITH ic_t AS (SELECT d.doc_id, e.label,
        |    CAST(len(string_split_regex(trim(lower(d.text)), '\s+'))
        |      AS BIGINT) AS n,
        |    ('0x' || substr(md5('iclp:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % 8 AS shard
        |  FROM documents d
        |  JOIN embeddings e ON e.vec_id = d.doc_id),
        |ic_w AS (SELECT doc_id, label, shard, n,
        |    CAST(coalesce(sum(n) OVER (PARTITION BY shard
        |      ORDER BY label, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS strt
        |  FROM ic_t)
        |SELECT doc_id, label, shard,
        |  shard * 1099511627776 + CAST(strt // 512 AS BIGINT) AS pack_id,
        |  strt % 512 AS pack_offset, n AS n_tokens
        |FROM ic_w ORDER BY doc_id""".stripMargin,

    // the whole funnel in one statement: keep-first dedup, the e4
    // quality gate, shard ranks, conversation arithmetic, the ChatML
    // token accounting, the cap, and the final rollup
    "sft_e2e_prepare" ->
      """WITH se_k AS (SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY text),
        |se_g AS (SELECT d.doc_id,
        |    string_split_regex(trim(lower(d.text)), '\s+') AS ws
        |  FROM documents d JOIN se_k USING (doc_id)),
        |se_q AS (SELECT doc_id, ws FROM se_g
        |  WHERE CAST(len(list_distinct(ws)) AS BIGINT) * 10000 // len(ws)
        |    >= 5000),
        |se_r AS (SELECT doc_id, ws,
        |    ('0x' || substr(md5('sfte:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % 8 AS shard
        |  FROM se_q),
        |se_t AS (SELECT shard, shard * 1048576 + (rn // 3) AS conv_id,
        |    rn % 3 AS turn_idx,
        |    CASE WHEN rn % 3 = 1 THEN 'assistant' ELSE 'user' END AS role,
        |    trim(regexp_replace(regexp_replace(
        |      array_to_string(ws[1:CAST(6 + doc_id % 9 AS INTEGER)], ' '),
        |      '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')) AS txt
        |  FROM (SELECT doc_id, ws, shard,
        |      CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id)
        |        AS BIGINT) - 1 AS rn
        |    FROM se_r) z),
        |se_n AS (SELECT shard, conv_id, turn_idx, role,
        |    CASE WHEN txt = '' THEN 0
        |      ELSE len(string_split_regex(txt, '\s+')) END + 2 AS nt
        |  FROM se_t),
        |se_c AS (SELECT conv_id, sum(nt) AS ct FROM se_n GROUP BY conv_id)
        |SELECT n.shard, n.role, CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(sum(CASE WHEN n.role = 'assistant' THEN n.nt - 1 ELSE 0 END)
        |    AS BIGINT) AS n_trainable,
        |  CAST(count(DISTINCT n.conv_id) AS BIGINT) AS n_convs
        |FROM se_n n JOIN se_c c USING (conv_id)
        |WHERE c.ct <= 40
        |GROUP BY n.shard, n.role ORDER BY n.shard, n.role""".stripMargin,

    // both rank-1 windows (opposed tie-breaks) + the e4 quality score
    // replayed; single-doc buckets drop on the chosen<>rejected filter
    "rlhf_pref_pairs" ->
      """WITH pp_q AS (SELECT doc_id,
        |    CAST(len(list_distinct(
        |      string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT)
        |      * 10000 // len(string_split_regex(trim(lower(text)), '\s+'))
        |      AS q,
        |    ('0x' || substr(md5('pref:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % 40 AS bucket
        |  FROM documents),
        |pp_r AS (SELECT doc_id, q, bucket,
        |    row_number() OVER (PARTITION BY bucket
        |      ORDER BY q DESC, doc_id ASC) AS rt,
        |    row_number() OVER (PARTITION BY bucket
        |      ORDER BY q ASC, doc_id DESC) AS rb
        |  FROM pp_q),
        |pp_t AS (SELECT bucket, doc_id AS chosen_id, q AS qc
        |  FROM pp_r WHERE rt = 1),
        |pp_b AS (SELECT bucket, doc_id AS rejected_id, q AS qr
        |  FROM pp_r WHERE rb = 1)
        |SELECT t.bucket, t.chosen_id, b.rejected_id,
        |  CAST(t.qc - b.qr AS BIGINT) AS margin
        |FROM pp_t t JOIN pp_b b USING (bucket)
        |WHERE t.chosen_id <> b.rejected_id
        |ORDER BY bucket""".stripMargin,

    // the e4 score, both windows (opposed tie-breaks), the lower-median
    // pick, and every margin replayed
    "rlhf_best_of_n" ->
      """WITH bo_q AS (SELECT doc_id, doc_id // 8 AS prompt,
        |    CAST(len(list_distinct(
        |      string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT)
        |      * 10000 // len(string_split_regex(trim(lower(text)), '\s+'))
        |      AS q
        |  FROM documents),
        |bo_r AS (SELECT doc_id, prompt, q,
        |    row_number() OVER (PARTITION BY prompt
        |      ORDER BY q DESC, doc_id ASC) AS rt,
        |    row_number() OVER (PARTITION BY prompt
        |      ORDER BY q ASC, doc_id ASC) AS ra,
        |    count(*) OVER (PARTITION BY prompt) AS n
        |  FROM bo_q),
        |bo_b AS (SELECT prompt, doc_id AS best_id, q AS qb, n
        |  FROM bo_r WHERE rt = 1),
        |bo_m AS (SELECT prompt, q AS qm FROM bo_r WHERE ra = (n + 1) // 2)
        |SELECT b.prompt, b.best_id, CAST(b.qb AS BIGINT) AS best_q,
        |  CAST(b.qb - m.qm AS BIGINT) AS margin_med, CAST(b.n AS BIGINT) AS n
        |FROM bo_b b JOIN bo_m m USING (prompt)
        |ORDER BY b.prompt""".stripMargin,

    // the ChatML render, the token accounting (wordcount+2 per turn),
    // offsets, assistant mask, and the per-conversation reassembly md5
    // all replayed closed-form
    "sft_chat_pack" ->
      """WITH sf_t AS (SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn_idx,
        |    CASE WHEN doc_id % 4 = 0 THEN 'system'
        |         WHEN doc_id % 2 = 1 THEN 'user'
        |         ELSE 'assistant' END AS role,
        |    trim(regexp_replace(regexp_replace(
        |      array_to_string(
        |        (string_split_regex(lower(trim(text)), '\s+'))
        |          [1:CAST(6 + doc_id % 9 AS INTEGER)], ' '),
        |      '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')) AS txt
        |  FROM documents),
        |sf_n AS (SELECT conv_id, turn_idx, role, txt,
        |    CASE WHEN txt = '' THEN 0
        |      ELSE len(string_split_regex(txt, '\s+')) END + 2 AS nt,
        |    '<|im_start|>' || role || chr(10) || txt || chr(10) ||
        |      '<|im_end|>' || chr(10) AS seg
        |  FROM sf_t),
        |sf_o AS (SELECT conv_id, turn_idx, role, nt,
        |    CAST(coalesce(sum(nt) OVER (PARTITION BY conv_id
        |      ORDER BY turn_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_tok
        |  FROM sf_n),
        |sf_c AS (SELECT conv_id, CAST(sum(nt) AS BIGINT) AS conv_tokens,
        |    md5(string_agg(seg, '' ORDER BY turn_idx)) AS rendered_md5
        |  FROM sf_n GROUP BY conv_id)
        |SELECT o.conv_id, o.turn_idx, o.role, o.start_tok,
        |  CAST(o.nt AS BIGINT) AS n_tok,
        |  CAST(CASE WHEN o.role = 'assistant' THEN o.nt - 1 ELSE 0 END
        |    AS BIGINT) AS n_trainable,
        |  c.conv_tokens, c.rendered_md5
        |FROM sf_o o JOIN sf_c c USING (conv_id)
        |WHERE c.conv_tokens <= 48
        |ORDER BY conv_id, turn_idx""".stripMargin,

    // window + rank-keyed self-join replay of the fold pairing; the
    // symmetric fits-condition decides pair membership on both sides
    "pack_fold_pairs" ->
      """WITH pf_t AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
        |      AS raw,
        |    ('0x' || substr(md5('pfp:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % 8 AS shard
        |  FROM documents),
        |pf_c AS (SELECT doc_id, shard, least(raw, 96) AS n,
        |    raw > 96 AS truncated FROM pf_t),
        |pf_r AS (SELECT doc_id, shard, n, truncated,
        |    CAST(row_number() OVER (PARTITION BY shard
        |      ORDER BY n DESC, doc_id ASC) AS BIGINT) - 1 AS r,
        |    CAST(count(*) OVER (PARTITION BY shard) AS BIGINT) AS sz
        |  FROM pf_c),
        |pf_j AS (SELECT a.doc_id, a.shard, a.n, a.truncated, a.r,
        |    b.n AS pn, b.r AS pr
        |  FROM pf_r a LEFT JOIN pf_r b
        |    ON b.shard = a.shard AND b.r = a.sz - 1 - a.r)
        |SELECT doc_id, shard,
        |  shard * 1099511627776 + CASE WHEN pr <> r AND n + pn <= 96
        |    THEN least(r, pr) ELSE r END AS pack_id,
        |  CAST(CASE WHEN pr <> r AND n + pn <= 96 AND r > pr
        |    THEN 1 ELSE 0 END AS BIGINT) AS slot,
        |  n AS n_tokens, truncated,
        |  CASE WHEN pr <> r AND n + pn <= 96 THEN n + pn ELSE n END
        |    AS pack_tokens
        |FROM pf_j ORDER BY doc_id""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n,
        |    ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard
        |  FROM documents),
        |w AS (SELECT doc_id, shard, n,
        |        CAST(coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
        |      FROM t)
        |SELECT doc_id, shard,
        |  shard * 1099511627776 + CAST(strt // 512 AS BIGINT) AS pack_id,
        |  strt % 512 AS pack_offset, n AS n_tokens
        |FROM w ORDER BY doc_id""".stripMargin,
    // bucket arithmetic, both shard-keyed windows, the composed batch
    // id, and every waste value replayed
    "pack_length_buckets" ->
      """WITH lb_t AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+'))
        |      AS BIGINT) AS n,
        |    ('0x' || substr(md5('lbb:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % 8 AS shard
        |  FROM documents),
        |lb_b AS (SELECT doc_id, n, shard, n // 16 AS bucket,
        |    (row_number() OVER (PARTITION BY shard, n // 16
        |      ORDER BY doc_id) - 1) // 8 AS bin
        |  FROM lb_t),
        |lb_p AS (SELECT doc_id, n, shard, bucket, bin,
        |    max(n) OVER (PARTITION BY shard, bucket, bin) AS pad_to
        |  FROM lb_b)
        |SELECT doc_id, n AS n_tok, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(shard * 17592186044416 + bucket * 16777216 + bin AS BIGINT)
        |    AS batch_id,
        |  CAST(pad_to AS BIGINT) AS pad_to,
        |  CAST(pad_to - n AS BIGINT) AS waste
        |FROM lb_p ORDER BY doc_id""".stripMargin,

    "embed_ann_ivf_pq" -> pqOracleSql,
    "embed_pq_recall" -> pqRecallOracleSql,
    "embed_kmeans_assign" ->
      """WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        |e AS (SELECT vec_id AS id,
        |        list_transform(embedding,
        |          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv,
        |        ('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |      FROM embeddings),
        |s AS (SELECT qv, rn - 1 AS cid FROM (
        |        SELECT qv, row_number() OVER (ORDER BY h, id) AS rn FROM e)
        |      WHERE rn <= 4),
        |d0 AS (SELECT e.id, s.cid,
        |         sum((e.qv[i] - s.qv[i]) * (e.qv[i] - s.qv[i])) AS d
        |       FROM e CROSS JOIN s CROSS JOIN dims GROUP BY e.id, s.cid),
        |a0 AS (SELECT id, cid FROM (
        |         SELECT id, cid, row_number() OVER (PARTITION BY id
        |           ORDER BY d, cid) AS rnk FROM d0)
        |       WHERE rnk = 1),
        |c1 AS (SELECT a0.cid, d.i, CAST(floor(avg(e.qv[d.i]) + 0.5) AS BIGINT) AS cx
        |       FROM e JOIN a0 ON e.id = a0.id CROSS JOIN dims d
        |       GROUP BY a0.cid, d.i),
        |cf AS (SELECT s.cid, d.i, coalesce(c1.cx, s.qv[d.i]) AS cx
        |       FROM s CROSS JOIN dims d
        |       LEFT JOIN c1 ON c1.cid = s.cid AND c1.i = d.i),
        |d1 AS (SELECT e.id, c.cid,
        |         sum((e.qv[c.i] - c.cx) * (e.qv[c.i] - c.cx)) AS d
        |       FROM e CROSS JOIN cf c GROUP BY e.id, c.cid),
        |a1 AS (SELECT id, cid FROM (
        |         SELECT id, cid, row_number() OVER (PARTITION BY id
        |           ORDER BY d, cid) AS rnk FROM d1)
        |       WHERE rnk = 1)
        |SELECT id AS vec_id, CAST(cid AS INT) AS cid FROM a1 ORDER BY vec_id""".stripMargin,
    "j_bloom_prune" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
        |  floor(sum(l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) / 1e4 AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
