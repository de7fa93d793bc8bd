package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale corpus pipelines: tokenization,
  * shingling, quality scoring, language-ID heuristics, fingerprinting.
  *
  * Everything is built from codegen'd `functions._` expressions (split /
  * transform / filter / aggregate higher-order functions) — no UDFs — so the
  * whole stage stays inside WholeStageCodegen and scales linearly with
  * documents; nothing here shuffles.
  */
object TextOps {

  /** Whitespace tokens of the trimmed, lowercased text. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Word n-gram shingles from a *materialized* token-array column; empty
    * when the document has fewer than `n` tokens.
    *
    * Callers must project the token array into its own column first
    * (`df.select(tokens(text).as("toks"))` then `shinglesOf(col("toks"))`) —
    * passing `tokens(text)` directly would re-evaluate the regex split for
    * every `element_at` access (O(tokens²) splits per document; measured
    * 25× slowdown on the dedup benchmark).
    */
  def shinglesOf(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** SQuAD-style answer metrics (Rajpurkar et al. 2016) over
    * pre-normalized TOKEN ARRAYS: exact match (order-sensitive array
    * equality) and unigram multiset-overlap F1 — which collapses to
    * EXACT integer arithmetic, f1_e4 = 2·overlap·10⁴ div
    * (|pred|+|ref|), because 2PR/(P+R) = 2o/(p+r). Scan-side HOFs
    * over bounded answer arrays (the [[rougeFromGrams]] posture);
    * degenerate inputs score 0, never null/NaN. Returns
    * struct(n_pred, n_ref, overlap, em, f1_e4).
    */
  def emF1(pred: Column, ref: Column): Column = {
    // A null answer array reads as empty (token arrays are strings by
    // contract): without the coalesce, `pred === ref` leaks null into
    // `em` and size(null) legacy semantics poison the counts — the doc
    // promises degenerate inputs score 0, never null/NaN.
    val p = coalesce(pred, array().cast("array<string>"))
    val r = coalesce(ref, array().cast("array<string>"))
    val o = coalesce(aggregate(array_distinct(p), lit(0),
      (acc, t) => acc + least(size(filter(p, x => x === t)),
        size(filter(r, x => x === t)))), lit(0)).cast("long")
    val np = size(p).cast("long")
    val nr = size(r).cast("long")
    struct(np.as("n_pred"), nr.as("n_ref"), o.as("overlap"),
      coalesce(pred === ref, lit(false)).as("em"),
      when(np + nr > 0,
        floor((o * 2 * 10000).cast("double") / (np + nr)).cast("long"))
        .otherwise(lit(0L)).as("f1_e4"))
  }

  /** ROUGE-N overlap (Lin 2004) between two PRE-MATERIALIZED gram array
    * columns ([[shinglesOf]] of the candidate and reference tokens):
    * clipped multiset n-gram matches over reference length (recall),
    * candidate length (precision) and their F1, 4dp-quantized so an
    * oracle replays them; degenerate inputs score 0. The clipped
    * match references its inputs once per lambda element; passing a
    * shinglesOf EXPRESSION here would re-evaluate the whole gram
    * construction per reference inside the (interpreted) nested HOFs —
    * measured 7 s vs sub-second per metric at sf0.1. Callers at scale
    * project the gram arrays into their own columns behind a barrier
    * first and pass plain references.
    */
  def rougeFromGrams(cg: Column, rg: Column): Column = {
    val r4 = (c: Column) => floor(c * 1e4 + lit(0.5)) / 1e4
    val m = coalesce(aggregate(array_distinct(cg), lit(0),
      (acc, g) => acc + least(size(filter(cg, x => x === g)),
        size(filter(rg, x => x === g)))), lit(0))
    val p = when(size(cg) > 0, m.cast("double") / size(cg)).otherwise(lit(0.0))
    val r = when(size(rg) > 0, m.cast("double") / size(rg)).otherwise(lit(0.0))
    val f = when(p + r > 0, lit(2.0) * p * r / (p + r)).otherwise(lit(0.0))
    struct(m.cast("long").as("n_match"),
      r4(p).as("precision"), r4(r).as("recall"), r4(f).as("f1"))
  }

  /** Count of tokens found in `words` (a small allow-list — stopwords,
    * language markers).
    */
  def tokenHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(lit): _*)))

  // ---- BPE merge application (subword-nmt semantics) ----

  /** A small well-formed merge table (each side is a single char or the
    * product of an earlier merge), rank = position. Stands in for a
    * learned vocabulary; real deployments pass their own table — the
    * operator is rank-generic.
    */
  val DefaultBpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("o", "n"),
    ("e", "r"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("an", "d"), ("o", "u"), ("e", "s"), ("s", "t"), ("l", "l"),
    ("o", "o"), ("i", "s"), ("i", "t"), ("a", "l"), ("e", "d"),
    ("in", "g"), ("a", "r"), ("o", "f"), ("t", "o"))

  /** BPE merges applied to one word in rank order (subword-nmt
    * `apply_bpe`) as a DuckDB SQL `replace` chain over a word expression:
    * the oracle of [[graft.functions.BpeApply]], replaying the identical
    * ranks, not a reimplementation.
    */
  def bpeTokensSql(wordExpr: String,
                   merges: Seq[(String, String)] = DefaultBpeMerges): String = {
    val init = s"'  ' || regexp_replace($wordExpr, '(.)', '\\1  ', 'g')"
    val spaced = merges.foldLeft(init) { case (acc, (a, b)) =>
      s"replace($acc, ' $a  $b ', ' $a$b ')"
    }
    s"string_split(trim($spaced), '  ')"
  }

  /** BPE merge TRAINING — learn the `nMerges` highest-count merges from a
    * corpus (the counterpart of [[bpeTokensSql]], which only applies a
    * given table). The shape every production tokenizer trainer uses:
    *
    *  1. ONE distributed corpus pass builds the (word, freq) vocabulary —
    *     the only work that tracks corpus size — capped DETERMINISTICALLY
    *     at `maxVocab` entries (freq desc, word asc), the standard
    *     frequency cutoff that bounds what the driver holds at 100 TB
    *     (Zipf: the tail it drops is singleton junk);
    *  2. the merge loop itself runs DRIVER-SIDE over the compressed
    *     vocabulary with INCREMENTAL pair-count maintenance
    *     ([[BpeTrainer.learn]]): adopting a merge re-encodes only the
    *     words that contain it and applies the exact count delta —
    *     no per-round Spark job, no O(merges²) re-encoding. 8 merges
    *     and 32k merges launch the same single Spark job.
    *
    * Selection is deterministic — count desc, then (left, right)
    * lexicographic asc (reference subword-nmt leaves ties to dict
    * order) — and stops early when the vocabulary is fully merged.
    * Returns (left, right, pair_count_at_adoption) in rank order; the
    * DuckDB oracle replays every round as a full re-encode and must
    * produce the identical table, which is what proves the incremental
    * deltas exact.
    */
  def trainBpeMerges(docs: DataFrame, textCol: String, nMerges: Int,
                     maxVocab: Int = 1 << 20): Seq[(String, String, Long)] = {
    require(nMerges >= 0 && maxVocab > 0)
    val vocab = docs.select(
        explode(expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)"))
          .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w").asc)
      .limit(maxVocab)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    BpeTrainer.learn(vocab, nMerges)
  }

  /** Curated Unicode-confusable map (a bounded subset of the public
    * Unicode confusables data): the Cyrillic and Greek letters most
    * used to skin Latin text (spam obfuscation — "раypal" with a
    * Cyrillic а survives every exact-hash dedup), plus the dash family
    * and NBSP. Source and target strings are POSITIONALLY paired for
    * `translate`; all BMP single-code-unit chars, so Spark's UTF-16
    * translate and DuckDB's codepoint translate agree.
    */
  val ConfusableFrom: String =
    "\u0430\u0435\u043E\u0440\u0441\u0443\u0445\u043A\u0432\u043C\u043D\u0442" + // Cyrillic a e o r s u kh k v m n t shapes
      "\u04CF\u0456\u0455\u0458" + // Cyrillic palochka-l, i, dze-s, je-j (IDN spoof letters)
      "\u03B1\u03B5\u03B9\u03BA\u03BD\u03BF\u03C1\u03C4\u03C5\u03C7" + // Greek alpha..chi lookalikes
      "\u2010\u2011\u2012\u2013\u2014\u00A0" // hyphen family + NBSP
  val ConfusableTo: String = "aeopcyxkbmht" + "lisj" + "aeiknoptyx" + "-----" + " "

  /** Confusable SKELETON: lowercase, then fold every mapped confusable
    * to its Latin target — one codegen'd `translate`, zero shuffle.
    * Texts that differ only by homoglyph skinning collapse to the same
    * skeleton, so any downstream exact/fuzzy dedup catches them.
    */
  def confusableSkeleton(text: Column): Column =
    translate(lower(text), ConfusableFrom, ConfusableTo)

  /** [[trainBpeMerges]]'s WordPiece sibling (the BERT family): same
    * single distributed vocab pass + capped (word, freq) table, merges
    * selected by the quantized likelihood score — see
    * [[WordPieceTrainer]]. Returns (lhs, rhs, pairCount, scoreMicro).
    */
  def trainWordPieceMerges(docs: DataFrame, textCol: String, nMerges: Int,
                           maxVocab: Int = 1 << 20): Seq[(String, String, Long, Long)] = {
    require(nMerges >= 0 && maxVocab > 0)
    val vocab = docs.select(
        explode(expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)"))
          .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w").asc)
      .limit(maxVocab)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    WordPieceTrainer.learn(vocab, nMerges)
  }

  /** GPT-2-style BYTE-LEVEL pre-tokenizer regex: a leading-space-glued
    * run of unicode letters, digits, or other non-space symbols. This is
    * the production shape ([a-z0-9]+ lowercase cannot reproduce a real
    * tokenizer): case is KEPT, punctuation and non-Latin text become
    * trainable pre-tokens, and the leading space rides with the word so
    * word boundaries survive byte-level encoding. Deliberately no
    * lookahead pieces (GPT-2's `\s+(?!\S)`) — this exact pattern runs
    * identically under Java regex (Spark) and RE2 (the DuckDB oracle).
    */
  val BytePretokenRegex = """ ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"""

  /** [[trainBpeMerges]] at BYTE level: pre-tokens from
    * [[BytePretokenRegex]], initial symbols = the pre-token's UTF-8
    * bytes as two-char uppercase hex (so merged symbols are hex strings
    * with engine-identical lexicographic ties, and a multi-byte
    * character's bytes are ordinary mergeable symbols — the way GPT-2's
    * byte-level trainer sees text). Same single distributed vocab pass,
    * same capped driver state, same incremental merge loop
    * ([[BpeTrainer.learnSymbols]]).
    */
  def trainBpeMergesBytes(docs: DataFrame, textCol: String, nMerges: Int,
                          maxVocab: Int = 1 << 20): Seq[(String, String, Long)] = {
    require(nMerges >= 0 && maxVocab > 0)
    // \p{L}/\p{N}/\s in a Spark SQL literal need doubled backslashes
    val sqlRegex = BytePretokenRegex.replace("\\", "\\\\")
    val vocab = docs.select(
        explode(expr(s"regexp_extract_all($textCol, '$sqlRegex', 0)"))
          .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w").asc)
      .limit(maxVocab)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val split = vocab.map { case (w, f) =>
      (w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .map(b => f"${b & 0xff}%02X"), f)
    }
    BpeTrainer.learnSymbols(split, nMerges)
  }

  /** Canonical-form fingerprint: md5 of lowercased, whitespace-collapsed,
    * trimmed text. Deterministic, join-able, and identical across engines.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** A 60-bit token hash derived from md5 (15 hex chars → long) — stable
    * across engines and platforms, unlike JVM hashCode.
    */
  def tokenHash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** SimHash over the document's distinct tokens: for each of `bits` bit
    * positions, sum +1/-1 by the token-hash bit and take the sign. One
    * aggregation pass — the per-bit sums are independent agg columns, so no
    * row blow-up; map-side partial aggregation keeps the shuffle tiny.
    */
  def simhashAggs(bits: Int): Seq[Column] =
    (0 until bits).map { b =>
      sum(when(shiftright(col("__th"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"__s$b")
    }

  def simhashAssemble(bits: Int): Column =
    (0 until bits).map { b =>
      when(col(s"__s$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)

  /** doc → (doc_id, simhash) with a `bits`-wide fingerprint. */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 60): DataFrame = {
    val tok = df
      .select(col(idCol), explode(array_distinct(tokens(col(textCol)))).as("__t"))
      .withColumn("__th", tokenHash60(col("__t")))
    tok.groupBy(col(idCol))
      .agg(simhashAggs(bits).head, simhashAggs(bits).tail: _*)
      .select(col(idCol), simhashAssemble(bits).as("simhash"))
  }

  // ---- chunking ----

  /** RAG-style overlapping chunker: fixed `win`-token chunks every
    * `stride` tokens (stride < win ⇒ overlap), the standard
    * retrieval-index preparation. Chunk count and boundaries are pure
    * integer arithmetic on the token count; chunks materialize via
    * `sequence` + `explode` + `slice` — no window, no shuffle, linear in
    * output size. A document shorter than `win` yields exactly one chunk.
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  win: Int, stride: Int): DataFrame = {
    require(win > 0 && stride > 0 && stride <= win)
    val toks = tokens(col(textCol))
    df.select(col(idCol), toks.as("__t"))
      .withColumn("__n", size(col("__t")))
      .withColumn("__nc",
        when(col("__n") <= win, lit(1L))
          .otherwise((col("__n") - win + stride - 1).cast("long") / stride + 1))
      .withColumn("__nc", floor(col("__nc")).cast("long"))
      .select(col(idCol), col("__t"),
        explode(sequence(lit(0L), col("__nc") - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        array_join(slice(col("__t"), (col("chunk_id") * stride + 1).cast("int"), lit(win)), " ")
          .as("chunk_text"))
      .withColumn("chunk_tokens",
        size(split(col("chunk_text"), " ")).cast("long"))
  }

  // ---- PII scrubbing ----

  /** PII patterns — RE2-compatible syntax (no backrefs/lookaround), so the
    * SAME pattern string runs in Java regex (Spark) and RE2 engines
    * (DuckDB/Go tooling) with identical match semantics.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact emails, NANP-shaped phone numbers, and IPv4 literals with
    * typed placeholder tokens — the standard pre-training scrub pass.
    * Order matters: emails first (their local part can contain digits a
    * later pass would half-match), then phones, then IPs. Pure chained
    * `regexp_replace` — codegen'd, zero shuffle, linear in text size.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** Markdown → visible text — the extractor for the second-biggest
    * PLAIN-TEXT corpus format (READMEs, docs sites, forum exports ship
    * markdown; training on raw markup teaches the model to emit `**`).
    * Deterministic subset, applied in this order: fence lines dropped
    * (content kept — code is corpus text), images → alt, links → text,
    * `**bold**`/`*italic*`/`` `code` `` unwrapped, ATX heading markers /
    * `>` quote prefixes / list bullets stripped, then per-line
    * whitespace collapse with empty lines dropped, newline-joined.
    * Pure chained regexp_replace + array HOFs — codegen'd, scan-side,
    * zero UDF.
    */
  def markdownToText(md: Column): Column = {
    val noFence = regexp_replace(md, "(?m)^```[^\n]*$", "")
    val noImg = regexp_replace(noFence, "!\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noLink = regexp_replace(noImg, "\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noBold = regexp_replace(noLink, "\\*\\*([^*]+)\\*\\*", "$1")
    val noItal = regexp_replace(noBold, "\\*([^*]+)\\*", "$1")
    val noCode = regexp_replace(noItal, "`([^`]+)`", "$1")
    val noHead = regexp_replace(noCode, "(?m)^#{1,6}\\s+", "")
    val noQuote = regexp_replace(noHead, "(?m)^>\\s?", "")
    val noList = regexp_replace(noQuote, "(?m)^\\s*([-*+]|\\d+\\.)\\s+", "")
    array_join(
      filter(
        transform(split(noList, "\n"),
          l => trim(regexp_replace(l, "\\s+", " "))),
        l => length(l) > 0),
      "\n")
  }

  /** Digit runs (13–19 digits, optional space/dash group separators)
    * that might be payment-card numbers — the CANDIDATE set; a regex
    * alone over-redacts (order ids, timestamps, EANs share the shape),
    * which is why the scrub below gates on the checksum.
    */
  val CardRe = "\\b(?:\\d[ -]?){12,18}\\d\\b"

  /** Luhn (ISO/IEC 7812) verdict for one candidate: separators
    * stripped, every second digit from the right doubled (−9 when it
    * overflows), sum ≡ 0 (mod 10). Pure integer higher-order-function
    * arithmetic — native, no UDF, exactly replayable in SQL.
    */
  private def luhnOk(cand: Column): Column = {
    val digits = transform(
      filter(split(translate(cand, " -", ""), ""), ch => length(ch) === 1),
      ch => ascii(ch) - lit(48))
    val n = size(digits)
    val summed = aggregate(
      transform(digits, (x, i) =>
        when(pmod(n - i, lit(2)) === 1, x)
          .otherwise(when(x > 4, x * 2 - 9).otherwise(x * 2))),
      lit(0), (a, b) => a + b)
    n >= 13 && n <= 19 && pmod(summed, lit(10)) === 0
  }

  /** The Luhn-VALID card candidates in a text (array). */
  def cardCandidates(text: Column): Column =
    filter(regexp_extract_all(text, lit(CardRe), lit(0)), c => luhnOk(c))

  /** Redact Luhn-valid card numbers with `<CARD>`, given the text's
    * ALREADY-COMPUTED [[cardCandidates]] array column —
    * callers that also count the candidates project them into their own
    * column first, so the extract+Luhn pass (an interpreted HOF tree
    * that codegen subexpression elimination cannot deduplicate) runs
    * once per row instead of once per consumer. A candidate's characters
    * are regex-inert (digits, spaces, dashes), so each `regexp_replace` is
    * a literal replace.
    */
  def scrubCardsFrom(cands: Column, text: Column): Column =
    aggregate(cands, text,
      (acc, c) => regexp_replace(acc, c, lit("<CARD>")))
}
