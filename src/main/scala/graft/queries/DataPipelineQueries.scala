package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{DedupOps, EmbeddingOps, KMeansOps, SamplingOps, SnapshotOps, TextOps, TextQualityOps}

/** Large-scale training-data pipeline operators (dedup, similarity search,
  * text analysis) over the `documents` / `embeddings` tables, each with a
  * DuckDB oracle mirroring the exact same arithmetic.
  */
object DataPipelineQueries extends QueryPack {

  private val SIMHASH_BITS = 60
  private val MAX_DF = 100 // shingle document-frequency cap for jaccard dedup
  private val MAX_HAMMING = 3 // ≤ 3 bit flips over 4 bands: pigeonhole-sound
  // embeddings: hamming/60 estimates the ANGLE (Charikar), so the cutoff
  // is a cosine threshold, not a near-exactness bound — 20/60 ≈ 60° ≈
  // cos 0.5 (this corpus has no near-identical vectors; the fixture
  // distribution spans hamming 12..32 and 20 keeps the close half)
  private val EMBED_MAX_HAMMING = 20
  private val MIN_COS = 0.35 // cosine near-dup threshold (synthetic data)
  private val CC_ROUNDS = 8 // min-label propagation rounds (≥ component diameter)

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: one hash-aggregate on the content key.
    "dedup_exact" -> ((s, dir) => {
      DedupOps.exactGroups(Tables.documents(s, dir), "doc_id", col("text"))
        .select(col("canonical_id"), col("group_size"))
        .orderBy(col("canonical_id"))
    }),

    // MinHash + LSH candidate pairs (8 salted-md5 hashes, 4 bands × 2 rows).
    "dedup_minhash_lsh" -> ((s, dir) => {
      DedupOps.minhashCandidates(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 8, bands = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Row-wise MinHash signature (DedupOps.minhashSignatureRow): the
    // native MinHashSig expression that powers the STREAMING near-dup
    // path (an earlier higher-order-function form was rejected — HOFs
    // are CodegenFallback, the repo's 15.6s-vs-1.0s lesson; and it's
    // scan-side, so it doesn't consume append mode's
    // stateful-op budget) — gated here in batch against the same DuckDB
    // replay as the aggregate form, proving the two formulations one
    // signature family. Docs with fewer than 3 tokens have no shingles
    // and drop out on both sides.
    "dedup_minhash_rowsig" -> ((s, dir) => {
      val sig = DedupOps.minhashSignatureRow(col("text"), 3, 8)
      Tables.documents(s, dir)
        .select(col("doc_id"), sig.as("__sig"))
        .filter(col("__sig").isNotNull)
        .select(col("doc_id") +: (0 until 8).map(i =>
          element_at(col("__sig"), i + 1).as(s"mh$i")): _*)
        .orderBy(col("doc_id"))
    }),

    // Verbatim-passage detection (DedupOps.substringRuns — the
    // ExactSubstr dedup signal): longest run of consecutive identical
    // tokens per pair via positioned-8-shingle equi-join + alignment
    // diagonals + the pos − row_number() island trick. Catches a copied
    // passage inside otherwise-different documents, which Jaccard-style
    // whole-doc similarity dilutes away.
    "dedup_substring_runs" -> ((s, dir) => {
      DedupOps.substringRuns(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 8, maxDf = MAX_DF, minRunTokens = 10)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ExactSubstr span REMOVAL (the action behind the signal above, per
    // the published recipe: all but one copy of every duplicated ≥10-token
    // span is CUT from the later document and the text reassembled from
    // surviving tokens — the fix doc-level keep/drop and line-level dedup
    // both miss when a boilerplate passage sits inside an otherwise-unique
    // page). Keep-first: the min-id copy always survives intact.
    "dedup_exactsubstr_remove" -> ((s, dir) => {
      DedupOps.removeSubstringRuns(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 8, maxDf = MAX_DF, minRunTokens = 10)
        .orderBy(col("doc_id"))
    }),

    // Word-3-gram Jaccard for every pair sharing a shingle (shingle-keyed
    // self-join — never a cross join), with shingles appearing in more than
    // MAX_DF documents dropped before the join so no block is quadratic.
    "dedup_ngram_jaccard" -> ((s, dir) => {
      DedupOps.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text", 3,
          maxDf = MAX_DF)
        .select(col("id_a"), col("id_b"), col("shared"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Broder CONTAINMENT on the same df-capped shingle join — the
    // asymmetric signal Jaccard misses: a short document embedded in a
    // long one scores containment ~1 while Jaccard stays small. The
    // `asym` flag isolates exactly those pairs (high one-way containment,
    // low symmetric overlap).
    "dedup_containment" -> ((s, dir) => {
      DedupOps.containmentPairs(Tables.documents(s, dir), "doc_id", "text", 3,
          maxDf = MAX_DF)
        .filter(greatest(col("cont_a"), col("cont_b")) >= 0.5)
        .select(col("id_a"), col("id_b"), col("shared"),
          col("cont_a"), col("cont_b"),
          (greatest(col("cont_a"), col("cont_b")) >= 0.8 &&
            col("jaccard") <= 0.5).as("asym"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash fingerprints (60-bit, md5-derived token hashes — stable across
    // engines) via the native Catalyst expression graft.functions.SimHash64:
    // one scan-side projection, no explode, no shuffle. The aggregate
    // formulation (TextOps.simhash) computes the same values and is
    // equality-tested against this in SimHash64Spec.
    "dedup_simhash" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
        .selectExpr("doc_id", "simhash64(__toks) AS simhash")
        .orderBy(col("doc_id"))
    }),

    // SimHash hamming-distance near-dup pairs: 60-bit fingerprints cut
    // into 4×15-bit bands; pairs sharing any band are candidates (an
    // equi-join on the band, never all-pairs — pigeonhole guarantees every
    // pair within hamming ≤ 3 shares a band), then the exact popcount
    // filter keeps true near-dups.
    "dedup_simhash_hamming" -> ((s, dir) => {
      val fp = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
        .selectExpr("doc_id", "simhash64(__toks) AS fp")
      val banded = fp.select(col("doc_id"), col("fp"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band_idx"),
          expr(s"shiftright(fp, ${b * 15}) & 32767").as("band_val"))): _*)).as("band"))
        .select(col("doc_id"), col("fp"), col("band.band_idx"), col("band.band_val"))
      // band-block-capped self-join (DedupOps.cappedBandPairs): a crawl's
      // boilerplate clique sharing one band value stays O(m) edges
      DedupOps.cappedBandPairs(banded, "doc_id",
          Seq("band_idx", "band_val"), payload = Seq("fp"), maxBlock = 1000)
        .select(col("id_a"), col("id_b"),
          bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
        // filter BEFORE distinct: the dedup shuffle then carries only true
        // near-dup pairs, not every band-collision candidate
        .filter(col("hamming") <= MAX_HAMMING)
        .distinct()
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Connected components over the LSH candidate pairs: pairwise matches
    // → canonical dedup groups (keep min-id per component). Runs the
    // large-star/small-star contraction path — O(log n) rounds regardless
    // of diameter, so it is also the adversarial-input default. The fixed
    // point (min id per component) is unique and shared with the label-
    // propagation path (equality machine-checked in
    // ConnectedComponentsSpec), so the oracle's fixed-round label-
    // propagation unrolling still matches.
    "dedup_components" -> ((s, dir) => {
      val pairs = DedupOps.minhashCandidates(Tables.documents(s, dir),
        "doc_id", "text", shingleN = 3, numHashes = 8, bands = 4)
      DedupOps.connectedComponentsStar(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
        .orderBy(col("doc_id"))
    }),

    // Canonical selection by QUALITY, not arrival: per near-dup
    // cluster keep the LONGEST member (the RefinedWeb-style choice —
    // keep-first discards the best copy whenever the boilerplate-free
    // rendition has a higher id). Deterministic integer argmax
    // (n_chars desc, doc_id asc) via a struct-min aggregate — no
    // per-cluster window; singletons canonicalize to themselves.
    "dedup_keep_best" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = DedupOps.minhashCandidates(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, bands = 4)
      val comp = DedupOps.connectedComponentsStar(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
      docs.select(col("doc_id"), col("n_chars"))
        .join(comp, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          min(struct((col("n_chars") * -1).as("negc"), col("doc_id")))
            .as("__best"),
          max(col("n_chars")).as("max_chars"))
        .select(col("component"), col("__best.doc_id").as("kept_doc"),
          col("n_members"), col("max_chars"))
        .orderBy(col("component"))
    }),

    // CONTRASTIVE TRAINING PAIRS from the dedup graph — the "free"
    // embedder-training signal every curation pipeline sits on:
    // positives = (member, canonical) edges of each near-dup cluster
    // (semantically-same pairs found by MinHash, label 1), negatives =
    // a hash-derived partner per anchor, kept only when it falls in a
    // DIFFERENT cluster (label 0). Pair volume is bounded by the
    // capped dedup graph; the negative check is one broadcast-sized
    // join against the component table.
    "dedup_training_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // one driver-side SCALAR (the pmod partner-range modulus), not a
      // collect — a single count job, same posture as a broadcast total
      val n = docs.count()
      val pairs = DedupOps.minhashCandidates(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, bands = 4)
      val comp = DedupOps.connectedComponentsStar(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
        .localCheckpoint(true)
      val pos = comp.filter(col("doc_id") =!= col("component"))
        .select(col("doc_id").as("anchor"), col("component").as("other"),
          lit(1L).as("label"))
      val negCand = comp.select(col("doc_id").as("anchor"),
        pmod(col("doc_id") * 31 + 7, lit(n)).as("other"),
        col("component").as("__ca"))
      val neg = negCand
        .join(comp.select(col("doc_id").as("other"),
          col("component").as("__cb")), Seq("other"), "left")
        .filter(col("__cb").isNull || col("__cb") =!= col("__ca"))
        .filter(col("anchor") =!= col("other"))
        .select(col("anchor"), col("other"), lit(0L).as("label"))
      pos.unionByName(neg).orderBy(col("anchor"), col("other"), col("label"))
    }),

    // Near-dup CLUSTER SIZE DISTRIBUTION — the dedup QA histogram
    // (how much of the corpus sits in 2-clusters vs one giant
    // boilerplate blob decides which dedup strategy to tune): minhash
    // → star-CC → component sizes → size histogram. The histogram is
    // value-space bounded; everything corpus-sized is the already-
    // audited candidate/CC machinery.
    "dedup_cluster_stats" -> ((s, dir) => {
      val pairs = DedupOps.minhashCandidates(Tables.documents(s, dir),
        "doc_id", "text", shingleN = 3, numHashes = 8, bands = 4)
      DedupOps.connectedComponentsStar(pairs, "id_a", "id_b")
        .groupBy(col("component")).agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))
    }),

    // The PRODUCTION fuzzy-dedup pipeline, end to end: MinHash+LSH
    // candidate pairs → star-contraction connected components → canonical
    // keep-min-id per component → anti-join the drops out of the corpus.
    // This is the composed shape users actually run; each stage is the
    // scale-safe operator benched individually (banded equi-join, O(log n)
    // contraction, one hash-agg, one anti-join).
    "dedup_e2e_fuzzy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = DedupOps.minhashCandidates(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, bands = 4)
      val comps = DedupOps.connectedComponentsStar(pairs, "id_a", "id_b")
      val drops = comps.filter(col("component") < col("id"))
        .select(col("id").as("doc_id"))
      docs.join(drops, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // The COMPLETE corpus-preparation pipeline as one gated query — the
    // production "raw crawl → training set" chain, every stage an
    // already-gated operator, composed: (1) fuzzy dedup (minhash → star
    // CC → canonical keep-min anti-join) over the full corpus; (2)
    // Gopher-style quality gate; (3) language-ID keep-'en'; (4)
    // benchmark decontamination (8-gram overlap vs the doc_id<100 eval
    // slice, train side only); (5) PII scrub + final token count. One
    // hash compare certifies the composition ORDER and every stage's
    // interaction, which per-stage gates cannot. Stage order is the
    // production order: dedup first (cheapest corpus reduction, and a
    // canonical doc that later fails a filter must NOT resurrect its
    // dropped duplicates), per-doc filters next, decontamination on the
    // survivors, scrub last.
    "corpus_e2e_prepare" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = DedupOps.minhashCandidates(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, bands = 4)
      val comps = DedupOps.connectedComponentsStar(pairs, "id_a", "id_b")
      val drops = comps.filter(col("component") < col("id"))
        .select(col("id").as("doc_id"))
      // deduped feeds the quality gate AND the final scoring join — one
      // materialized pass instead of re-running dedup per consumer
      val deduped = DedupOps.materialize(
        docs.join(drops, Seq("doc_id"), "left_anti"), "prepare-deduped")
      val passIds = TextQualityOps.qualityGate(
          TextQualityOps.repetitionStats(deduped, "doc_id", "text"),
          minTokens = 40, maxTokens = 100000, maxTopUnigramFrac = 0.09,
          maxDupTokenFrac = 0.9, maxTopBigramFrac = 0.06)
        .filter(col("quality_pass")).select(col("doc_id"))
      val en = deduped.join(passIds, "doc_id")
        .filter(
          TextOps.tokenHits(col("text"), Seq("the", "a", "of", "and")) >=
            TextOps.tokenHits(col("text"), Seq("el", "la", "de", "y")) &&
          TextOps.tokenHits(col("text"), Seq("the", "a", "of", "and")) >=
            TextOps.tokenHits(col("text"), Seq("de", "shi", "le", "zai")))
      DedupOps.decontaminate(
          en.filter(col("doc_id") >= 100), "doc_id", "text",
          docs.filter(col("doc_id") < 100), "text", shingleN = 8)
        .select(col("doc_id"),
          size(TextOps.tokens(TextOps.scrubPii(col("text"))))
            .cast("long").as("n_tokens_clean"))
        .orderBy(col("doc_id"))
    }),

    // The MODERN curation funnel, composed and certified as one query:
    // capped-minhash dedup → strict-UTF-8 hygiene gate → Gopher
    // repetition gate → CCNet perplexity-bucket gate (trigram LM over
    // the full corpus, tail dropped). Where corpus_e2e_prepare gates on
    // marker-word LID + decontamination, this is the TRAINED-signal
    // funnel (LM scores instead of marker heuristics). The oracle
    // replays every stage in one statement — dedup fragments, the gate
    // arithmetic, the full trigram scoring, the bucket thresholds, and
    // the final intersection — so a composition bug anywhere (the
    // web_corpus_e2e lesson) breaks the hash.
    "corpus_e2e_curate2" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = DedupOps.minhashCandidates(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, bands = 4)
      val comps = DedupOps.connectedComponentsStar(pairs, "id_a", "id_b")
      val drops = comps.filter(col("component") < col("id"))
        .select(col("id").as("doc_id"))
      // deduped feeds three branches (utf8 gate, quality gate, final
      // join) — materialize so the dedup anti-join runs once
      val deduped = DedupOps.materialize(
        docs.join(drops, Seq("doc_id"), "left_anti"), "curate2-deduped")
      val utf8Ok = deduped
        .selectExpr("doc_id", "utf8_stats(CAST(text AS BINARY)) AS st")
        .filter(col("st.n_invalid") === 0).select("doc_id")
      val passIds = TextQualityOps.qualityGate(
          TextQualityOps.repetitionStats(deduped, "doc_id", "text"),
          minTokens = 40, maxTokens = 100000, maxTopUnigramFrac = 0.09,
          maxDupTokenFrac = 0.9, maxTopBigramFrac = 0.06)
        .filter(col("quality_pass")).select(col("doc_id"))
      // LM + thresholds over the FULL corpus (the CCNet posture), gate
      // applied to the funnel's survivors
      val kept = TextQualityOps.perplexityBuckets(docs, "doc_id", "text")
        .filter(col("ppl_bucket") =!= "tail")
        .select(col("doc_id"), col("ppl_bucket"))
      deduped.join(utf8Ok, Seq("doc_id")).join(passIds, Seq("doc_id"))
        .join(kept, Seq("doc_id"))
        .select(col("doc_id"), col("ppl_bucket"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // The same trained-signal funnel gated by the MODIFIED-KN LM —
    // CCNet's actual published smoothing — instead of the fixed-weight
    // JM trigram: capped-minhash dedup → UTF-8 gate → Gopher gate →
    // KN-perplexity-bucket gate. One oracle statement replays dedup
    // fragments, gate arithmetic, the full KN ladder (continuation
    // counts, count-of-counts discounts), the bucket thresholds, and
    // the final intersection.
    "corpus_e2e_curate3" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = DedupOps.minhashCandidates(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, bands = 4)
      val comps = DedupOps.connectedComponentsStar(pairs, "id_a", "id_b")
      val drops = comps.filter(col("component") < col("id"))
        .select(col("id").as("doc_id"))
      // deduped feeds three branches (utf8 gate, quality gate, final
      // join) — materialize so the dedup anti-join runs once
      val deduped = DedupOps.materialize(
        docs.join(drops, Seq("doc_id"), "left_anti"), "curate3-deduped")
      val utf8Ok = deduped
        .selectExpr("doc_id", "utf8_stats(CAST(text AS BINARY)) AS st")
        .filter(col("st.n_invalid") === 0).select("doc_id")
      val passIds = TextQualityOps.qualityGate(
          TextQualityOps.repetitionStats(deduped, "doc_id", "text"),
          minTokens = 40, maxTokens = 100000, maxTopUnigramFrac = 0.09,
          maxDupTokenFrac = 0.9, maxTopBigramFrac = 0.06)
        .filter(col("quality_pass")).select(col("doc_id"))
      val kept = TextQualityOps.knPerplexityBuckets(docs, "doc_id", "text")
        .filter(col("ppl_bucket") =!= "tail")
        .select(col("doc_id"), col("ppl_bucket"))
      deduped.join(utf8Ok, Seq("doc_id")).join(passIds, Seq("doc_id"))
        .join(kept, Seq("doc_id"))
        .select(col("doc_id"), col("ppl_bucket"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // The CCNet pipeline PROPER, composed in its published order
    // (Wenzek et al. 2020): §3.1 line-level dedup (corpus-wide
    // keep-first per distinct line, docs reassembled from surviving
    // lines) → §3.2 language split (the lang shard key; detection ops
    // certified separately) → §3.3 PER-LANGUAGE LM + head/middle/tail
    // terciles computed over the DEDUPED text (CCNet scores what
    // survives dedup, not the raw page), tail dropped. One oracle
    // statement replays line segmentation → keep-first → reassembly →
    // the whole lang-keyed trigram ladder → per-language thresholds →
    // the final intersection, so a composition bug anywhere breaks the
    // hash.
    "corpus_e2e_ccnet" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toksDf = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      val lines = toksDf.select(col("doc_id"),
        expr("""transform(
                  sequence(0, greatest(CAST(ceil(size(toks)/10.0) AS INT), 1) - 1),
                  i -> array_join(slice(toks, i*10+1, 10), ' '))""").as("lines"))
      // kept feeds the per-lang LM ladder AND the final token-count join —
      // materialize so line dedup + reassembly runs once
      val kept = DedupOps.materialize(
        DedupOps.lineDedup(lines, "doc_id", col("lines"))
          .filter(col("n_kept") > 0)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
        "ccnet-kept")
      TextQualityOps.langPerplexityBuckets(kept, "doc_id", "text_kept", "lang")
        .filter(col("ppl_bucket") =!= "tail")
        .join(kept.select(col("doc_id"),
          size(TextOps.tokens(col("text_kept"))).cast("long")
            .as("n_tokens_kept")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("ppl_bucket"),
          col("n_tokens_kept"))
        .orderBy(col("doc_id"))
    }),

    // SEQUENCE-LENGTH HISTOGRAM — the packer-planning signal (choosing
    // the context budget and padding strategy needs the corpus's token
    // length distribution): log2 buckets (power-of-two boundaries are
    // exact in IEEE doubles, so floor(log2(n)) is engine-exact),
    // bucket → doc count + token mass. One aggregate, value-space
    // bounded output.
    "corpus_length_histogram" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(size(TextOps.tokens(col("text"))).cast("long").as("n"))
        .filter(col("n") > 0)
        .withColumn("bucket", floor(log2(col("n"))).cast("int"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
        .orderBy(col("bucket"))
    }),

    // BOILERPLATE PHRASE MINING — the diagnostic that finds template
    // text before dedup tuning: the corpus's top 5-gram shingles by
    // DOCUMENT frequency (per-doc presence, not raw occurrences, so a
    // single spammy doc can't dominate) with the df share in
    // milli-units. One distinct + one count per gram, then a bounded
    // top-20 — the corpus-sized work is the shingle explode the dedup
    // family already prices.
    "text_boilerplate_ngrams" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val arr = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      arr.select(col("doc_id"), explode(TextOps.shinglesOf(col("toks"), 5)).as("g5"))
        .distinct()
        .groupBy(col("g5")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("g5").asc).limit(20)
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("__n"))))
        .select(col("g5").as("ngram"), col("df"),
          expr("(df * 1000) div __n").as("df_milli"))
        .orderBy(col("df").desc, col("ngram").asc)
    }),

    // CORPUS HEALTH REPORT — the per-language QA dashboard a curation
    // run emits before anyone trains on the drop: doc/token volumes,
    // exact-duplicate mass, Gopher-floor short docs, and the length
    // tail, per language. One groupBy(lang) over per-doc scalars plus
    // a fingerprint-group join — two bounded shuffles, no windows.
    "corpus_health_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val perDoc = docs.select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"),
        md5(col("text").cast("binary")).as("fp"))
      val dupGroups = perDoc.groupBy("fp").agg(count(lit(1)).as("n_same"))
      perDoc.join(dupGroups, "fp")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          (floor(avg(col("n_toks")) * 1e4 + lit(0.5)) / 1e4).as("avg_tokens"),
          sum(when(col("n_same") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
          sum(when(col("n_toks") < 40, 1L).otherwise(0L)).as("n_short_docs"),
          max(col("n_toks")).as("max_tokens"))
        .withColumn("dup_milli", expr("(n_dup_docs * 1000) div n_docs"))
        .orderBy(col("lang"))
    }),

    // HOMOGLYPH (Unicode-confusable) dedup — the obfuscated-spam
    // catcher: text skinned with Cyrillic/Greek lookalikes ("раypal")
    // survives every exact-hash dedup, so fingerprints are taken over
    // the confusable SKELETON (TextOps.confusableSkeleton — one
    // codegen'd translate over a curated bounded map). The corpus is
    // augmented with deterministic Cyrillic-skinned twins of every 5th
    // doc; a doc whose skeleton group outnumbers its raw group is a
    // homoglyph dup. The oracle replays the skinning, both fingerprint
    // families, and the group counts.
    "dedup_homoglyph" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val twins = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          translate(col("text"), "aeo", "аео").as("text"))
      val all = docs.select(col("doc_id"), col("text")).unionByName(twins)
      val fp = all.select(col("doc_id"),
        md5(col("text").cast("binary")).as("fp_raw"),
        md5(TextOps.confusableSkeleton(col("text")).cast("binary"))
          .as("fp_skel"))
      val nraw = fp.groupBy("fp_raw").agg(count(lit(1)).as("n_raw"))
      val nskel = fp.groupBy("fp_skel").agg(count(lit(1)).as("n_skel"))
      fp.join(nraw, "fp_raw").join(nskel, "fp_skel")
        .select(col("doc_id"), col("n_raw"), col("n_skel"),
          (col("n_skel") > col("n_raw")).as("homoglyph_dup"))
        .orderBy(col("doc_id"))
    }),

    // Snapshot-to-snapshot corpus diff (ops.SnapshotOps) — the
    // incremental-curation primitive: between two crawl snapshots,
    // which documents are new / retired / revised / untouched. Both
    // snapshots are DERIVED deterministically from the table (salted
    // hash membership; a ' [v1]' revision marker on every 7th doc in
    // the previous snapshot), so the oracle replays membership,
    // fingerprints, and the full-outer status arithmetic exactly.
    "corpus_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val prev = docs
        .filter(SamplingOps.hash60(col("doc_id"), "snap:") % 10 < 8)
        .withColumn("__t", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" [v1]"))).otherwise(col("text")))
        .select(col("doc_id"), md5(col("__t").cast("binary")).as("fp"))
      val cur = docs
        .filter(SamplingOps.hash60(col("doc_id"), "snap2:") % 20 =!= 0)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      SnapshotOps.diff(prev, cur, "doc_id", "fp").orderBy(col("doc_id"))
    }),

    // CDC changelog compaction (SnapshotOps.applyChangelog — the
    // lakehouse MERGE INTO): deletes on every 5th doc, seq-2 upserts on
    // every 7th (so doc_id%35 docs see delete-then-upsert and SURVIVE
    // modified — the latest-wins edge), and brand-new ids. Output is
    // the full compacted state, so one hash certifies tombstoning,
    // latest-wins resolution, pass-through, and insertion together.
    "corpus_apply_changelog" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
      val del = base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lit(1L).as("seq"), lit("delete").as("op"),
          col("text"), col("lang"), col("n_chars"), col("source"))
      val upd = base.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
          concat(col("text"), lit(" v2")).as("text"), col("lang"),
          (col("n_chars") + 3).as("n_chars"), col("source"))
      val fresh = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), lit(1L).as("seq"),
          lit("upsert").as("op"),
          concat(lit("new "), col("doc_id").cast("string")).as("text"),
          lit("xx").as("lang"), col("doc_id").as("n_chars"), col("source"))
      val log = del.unionByName(upd).unionByName(fresh)
      SnapshotOps.applyChangelog(base, log, "doc_id", "seq", "op")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Random-hyperplane SimHash LSH over EMBEDDINGS (functions
    // .EmbedSimHash): the classic cosine-LSH — bit i = sign of the
    // integer projection onto a deterministic md5-derived ±1 hyperplane
    // — bucketed by the same 4×15-bit hamming bands as token SimHash.
    // The third ANN blocking strategy next to IVF (needs centroids) and
    // PQ (needs codebooks): no training step at all. Quantized integer
    // dots make every bit engine-exact, so the oracle regenerates the
    // matrix (60·64 md5s, once) and replays the projections.
    "embed_simhash_lsh" -> ((s, dir) => {
      graft.functions.EmbedSimHash.register(s, bits = SIMHASH_BITS, dim = 64)
      val sig = Tables.embeddings(s, dir)
        .selectExpr("vec_id", "embed_simhash(embedding) AS fp")
      val banded = sig.select(col("vec_id"), col("fp"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band_idx"),
          expr(s"shiftright(fp, ${b * 15}) & 32767").as("band_val"))): _*)).as("band"))
        .select(col("vec_id"), col("fp"), col("band.band_idx"), col("band.band_val"))
      // same band-block cap as the token-SimHash join above
      DedupOps.cappedBandPairs(banded, "vec_id",
          Seq("band_idx", "band_val"), payload = Seq("fp"), maxBlock = 1000)
        .select(col("id_a"), col("id_b"),
          bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
        .filter(col("hamming") <= EMBED_MAX_HAMMING)
        .distinct()
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Embedding-cosine near-dup pairs, IVF-bucketed on `label`.
    "dedup_embed_cosine" -> ((s, dir) => {
      EmbeddingOps.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          "label", minCos = MIN_COS)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SEMANTIC decontamination: the embedding-space sibling of the
    // 8-gram leak scrub — a paraphrased eval item shares no n-gram but
    // sits next to its source in embedding space. Eval slice broadcast,
    // corpus scanned once, max-cos per train row, threshold flag.
    "dedup_decontam_semantic" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val eval = emb.filter(col("vec_id") < 50)
      val train = emb.filter(col("vec_id") >= 50)
      EmbeddingOps.maxEvalCosine(train, eval, "vec_id", "embedding")
        .withColumn("contaminated", col("max_eval_cos") >= MIN_COS)
        .orderBy(col("vec_id"))
    }),

    // SemDeDup (Abbas et al. 2023): semantic dedup via the embedding
    // space — k-means clusters the corpus (the published recipe's
    // blocking step: candidate pairs only WITHIN a cluster, never
    // all-pairs), cosine near-dup pairs inside each cluster, connected
    // components, keep the min-id representative per component. Every
    // stage is an already-gated operator; this composes them in the
    // paper's shape with the TRAINED (not label) clustering, and the
    // oracle replays kmeans → within-cluster cosine → CC in one
    // statement.
    // Embedding-space OUTLIER detection (prototypicality pruning, the
    // SemDeDup paper's sibling signal): distance-to-assigned-centroid
    // over the SAME trained k-means, flagged per cluster at 2.5× the
    // cluster's mean squared distance — junk, mislabeled, and
    // off-distribution rows sit far from every centroid. The whole path
    // is Long-exact on the 1e-6 grid (per-cluster means by integer
    // division, the flag an integer cross-multiplication), so the
    // oracle replays training AND gate bit-identically.
    "embed_outliers" -> ((s, dir) => {
      val a = KMeansOps.assignmentsWithDist(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 4, iters = 1)
      val stats = a.groupBy(col("cid"))
        .agg(expr("sum(dist) div count(1)").as("mean_d"))
      a.join(broadcast(stats), Seq("cid"))
        .select(col("vec_id"), col("cid").cast("long").as("cid"),
          col("dist"), col("mean_d"),
          (col("dist") * 10 > col("mean_d") * 25).as("outlier"))
        .orderBy(col("vec_id"))
    }),

    "dedup_semdedup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val assign = graft.ops.KMeansOps.assignments(emb, "vec_id", "embedding",
        k = 4, iters = 1)
      val clustered = emb.join(assign, Seq("vec_id"))
      val pairs = EmbeddingOps.cosinePairs(clustered, "vec_id", "embedding",
        "cid", minCos = MIN_COS)
      DedupOps.connectedComponentsStar(pairs, "id_a", "id_b")
        .select(col("id").cast("long").as("vec_id"), col("component"),
          (col("component") === col("id")).as("kept"))
        .orderBy(col("vec_id"))
    }),

    // M6 distributed mini-batch gradient: one epoch-0 pass of the head
    // trainer's gradient aggregation (graft.vesc.HeadTrainer.headGrad —
    // map-side-combined masked-BCE loss + ∂L/∂W + ∂L/∂b per deterministic
    // batch, in one flat buffer: W row-major, then b) over the embeddings
    // as features with one-hot-by-label targets
    // (NaN-masked where (vec_id+k)%11=0). The oracle recomputes every sum
    // independently in SQL. Fixed deterministic init so both engines see
    // the same weights.
    "m6_minibatch_gradient" -> ((s, dir) => {
      val K = 8; val D = 64
      val w = Array.tabulate(K, D)((k, j) => ((k * D + j) % 7 - 3) / 10.0)
      val b = Array.tabulate(K)(k => (k % 5 - 2) / 10.0)
      val rows = Tables.embeddings(s, dir).select(
        graft.vesc.HeadTrainer.batchId(col("vec_id"), epoch = 0, nBatches = 4)
          .as("batch_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("feat"),
        expr(s"""transform(sequence(0, ${K - 1}), k ->
                 CASE WHEN pmod(vec_id + k, 11) = 0 THEN CAST('NaN' AS DOUBLE)
                      WHEN label = k THEN 1.0D ELSE 0.0D END)""").as("y"))
      val agg = udaf(graft.vesc.HeadTrainer.headGrad(w.flatten ++ b, K, D))
      val r4 = (c: org.apache.spark.sql.Column) => floor(c * 1e4 + lit(0.5)) / 1e4
      val norm = (from: Int, len: Int) => r4(expr(
        s"sqrt(aggregate(transform(slice(g.g, $from, $len), x -> x*x), 0D, (a,x) -> a+x))"))
      rows.groupBy(col("batch_id"))
        .agg(agg(col("feat"), col("y")).as("g"))
        .select(col("batch_id"),
          col("g.labeled").as("labeled"),
          r4(col("g.loss")).as("loss"),
          norm(K * D + 1, K).as("grad_b_norm"),
          norm(1, K * D).as("grad_w_norm"))
        .orderBy(col("batch_id"))
    }),

    // Token counting + distinct-token stats.
    "text_tokens" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"),
          length(col("text")).as("n_chars_measured"))
        .orderBy(col("doc_id"))
    }),

    // BPE-ish regex token counting: word pieces + standalone punctuation
    // (`\w+|[^\w\s]`), the pre-merge segmentation a byte-pair tokenizer
    // starts from — vs the whitespace tokens of text_tokens.
    "text_tokens_regex" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("size(regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0))")
            .cast("long").as("n_pieces"),
          expr("size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))")
            .cast("long").as("n_words"))
        .orderBy(col("doc_id"))
    }),

    // BPE merge application via the RUNTIME-LOOPING native expression
    // (functions.BpeApply): the merge table is plan-time data, not
    // plan-time structure, so a 32k-rule vocabulary costs the same one
    // expression node as the 24-rule demo table here. The oracle replays
    // the plan-time replace CHAIN (TextOps.bpeTokensSql) — the hash
    // compare is what proves the two formulations equivalent on real
    // text. n_bpe_tokens is the token count a training-data budget would
    // meter; head_tokens pins the actual segmentation in the hash.
    "text_bpe" -> ((s, dir) => {
      graft.functions.BpeApply.register(s, TextOps.DefaultBpeMerges)
      val words = expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
      val tokArr = flatten(transform(words,
        w => split(call_function("graft_bpe_apply", w), " ")))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(tokArr).cast("long").as("n_bpe_tokens"),
          size(words).cast("long").as("n_words"),
          array_join(slice(tokArr, 1, 8), "|").as("head_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Tokenizer FERTILITY by language — THE cross-lingual tokenizer
    // health metric (tokens per word / per kilochar): a vocabulary that
    // over-fragments a language inflates its training cost and starves
    // its effective context. Same plan-time BPE chain as text_bpe, one
    // aggregate per language on top.
    "text_bpe_fertility" -> ((s, dir) => {
      graft.functions.BpeApply.register(s, TextOps.DefaultBpeMerges)
      val words = expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
      val tokArr = flatten(transform(words,
        w => split(call_function("graft_bpe_apply", w), " ")))
      Tables.documents(s, dir)
        .select(col("lang"), size(tokArr).cast("long").as("nt"),
          size(words).cast("long").as("nw"),
          length(col("text")).cast("long").as("nc"))
        .groupBy(col("lang"))
        .agg(sum(col("nt")).as("n_tokens"), sum(col("nw")).as("n_words"),
          (floor(sum(col("nt")).cast("double") / sum(col("nw")) * 1e4
            + lit(0.5)) / 1e4).as("tokens_per_word"),
          (floor(sum(col("nt")).cast("double") * 1000 / sum(col("nc")) * 1e4
            + lit(0.5)) / 1e4).as("tokens_per_kchar"))
        .orderBy(col("lang"))
    }),

    // BPE merge TRAINING at real depth: up to 256 merges learned from
    // the corpus word vocabulary in ONE distributed pass + a driver-side
    // incremental pair-count loop (TextOps.trainBpeMerges /
    // BpeTrainer.learn — no per-round Spark job, exact count deltas,
    // deterministic (count desc, pair asc) ties, early stop when the
    // vocabulary is fully merged; this fixture saturates before 256, and
    // the oracle's replay saturates at the identical round). The vocab
    // is capped at 65536 entries (freq desc, word asc — mirrored in the
    // oracle), the explicit bound on what the driver holds at 100 TB.
    // Output is the learned table itself with adoption counts — the
    // artifact a tokenizer deployment ships — and the oracle replays
    // EVERY round as a generated full-re-encode CTE chain, which is
    // precisely what certifies the incremental deltas exact.
    "text_bpe_train" -> ((s, dir) => {
      val merges = TextOps.trainBpeMerges(Tables.documents(s, dir), "text",
        nMerges = 256, maxVocab = 65536)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b, c), i) => (i + 1, a, b, c) }
        .toDF("rank", "lhs", "rhs", "pair_count")
        .orderBy(col("rank"))
    }),

    // UNIGRAM-LM tokenizer training (ops.UnigramTrainer — the
    // SentencePiece family, Kudo 2018, as the deterministic hard-EM
    // variant): substring seed → milli-quantized log-prob scores →
    // Viterbi E-step → integer recount M-step, twice. Completes the
    // tokenizer triad (BPE/GPT, WordPiece/BERT, Unigram/T5). The
    // oracle replays the seed cap, both EM rounds — the Viterbi DP as
    // position-chained argmax CTEs with backlen tie-breaks, the
    // backtrace as a second chain, the recount with the single-char
    // floor — and the final score table.
    "text_unigram_train" -> ((s, dir) => {
      val vocab = Tables.documents(s, dir).select(
          explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
            .as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("w").asc).limit(65536)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      require(vocab.forall(_._1.length <= 16),
        "unigram oracle DP chain is sized for words <= 16 chars")
      val rows = graft.ops.UnigramTrainer.learn(vocab, maxPieceLen = 4,
        maxPieces = 2048, emIters = 2)
      import s.implicits._
      rows.toDF("piece", "count", "score_milli")
        .orderBy(col("count").desc, col("piece").asc)
    }),

    // UNIGRAM end-to-end: train the hard-EM table, bake the FINAL
    // scores into the native Viterbi expression (functions
    // .UnigramApply — identical DP and tie-breaks as the trainer's
    // E-step), segment the corpus, aggregate per doc. The oracle
    // replays training, then runs a THIRD Viterbi chain under the
    // final score table and reassembles docs in word order — trainer
    // AND runtime applier certified by one hash.
    "text_unigram_e2e" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = docs.select(
          explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
            .as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("w").asc).limit(65536)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      require(vocab.forall(_._1.length <= 16),
        "unigram oracle DP chain is sized for words <= 16 chars")
      val rows = graft.ops.UnigramTrainer.learn(vocab, maxPieceLen = 4,
        maxPieces = 2048, emIters = 2)
      graft.functions.UnigramApply.register(s,
        rows.map(r => (r._1, r._3)), maxPieceLen = 4, "graft_unigram")
      // words/pieces are projected into their own columns: HOF trees
      // carry lambda variables, which excludes them from codegen
      // subexpression elimination, so the inlined shape re-ran the full
      // per-word Viterbi segmentation once per referencing column
      val words = expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
      docs.select(col("doc_id"), words.as("__w"))
        .select(col("doc_id"), col("__w"),
          flatten(transform(col("__w"),
            w => split(call_function("graft_unigram", w), " "))).as("__p"))
        .select(col("doc_id"),
          size(col("__w")).cast("long").as("n_words"),
          size(col("__p")).cast("long").as("n_pieces"),
          array_join(slice(col("__p"), 1, 8), "|").as("head_pieces"))
        .orderBy(col("doc_id"))
    }),

    // WORDPIECE training (ops.WordPieceTrainer) — the BERT tokenizer
    // family next to BPE: continuation-prefixed symbols (w ##o ##r ##d),
    // merges selected by the LIKELIHOOD score cnt/(ca·cb) quantized to
    // exact micro-units (BigInt driver / HUGEINT oracle — ca·cb
    // overflows 64 bits at corpus scale), ties (cnt desc, pair asc).
    // Same one-corpus-pass + capped-vocab cost shape as text_bpe_train;
    // the oracle replays all 64 rounds (pair counts, symbol counts,
    // quantized scores, ##-stripping merge, re-encode) per round.
    "text_wordpiece_train" -> ((s, dir) => {
      val merges = TextOps.trainWordPieceMerges(Tables.documents(s, dir),
        "text", nMerges = 64, maxVocab = 65536)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b, c, sc), i) => (i + 1, a, b, c, sc) }
        .toDF("rank", "lhs", "rhs", "pair_count", "score_micro")
        .orderBy(col("rank"))
    }),

    // BYTE-LEVEL BPE training (TextOps.trainBpeMergesBytes): the GPT-2
    // production shape — unicode-category pre-tokens with the leading
    // space glued on (case KEPT, punctuation trainable), initial symbols
    // = UTF-8 bytes as uppercase hex pairs, so multi-byte characters are
    // ordinary mergeable byte symbols. Same single vocab pass + driver
    // merge loop as text_bpe_train; the oracle rebuilds the byte
    // encoding with hex(encode(w)) and replays all 64 rounds through
    // the identical re-encode CTE chain.
    "text_bpe_train_bytes" -> ((s, dir) => {
      val merges = TextOps.trainBpeMergesBytes(Tables.documents(s, dir),
        "text", nMerges = 64, maxVocab = 65536)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b, c), i) => (i + 1, a, b, c) }
        .toDF("rank", "lhs", "rhs", "pair_count")
        .orderBy(col("rank"))
    }),

    // Tokenizer DECODE round trip: segment every pre-token with the
    // trained byte-level table, then decode the hex-pair symbols back
    // (concat → unhex → UTF-8) and re-join. The oracle only replays the
    // pre-tokenization — it never runs BPE — so the hash passes IFF
    // segment→decode is lossless through the engine for every document
    // (the detokenization guarantee a training pipeline relies on when
    // it reconstructs text from token ids).
    "text_bpe_decode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextOps.trainBpeMergesBytes(docs, "text",
        nMerges = 16, maxVocab = 65536).map(m => (m._1, m._2))
      graft.functions.BpeApply.register(s, merges, name = "graft_bpe_dec",
        byteLevel = true)
      val sqlRegex = TextOps.BytePretokenRegex.replace("\\", "\\\\")
      val words = expr(s"regexp_extract_all(text, '$sqlRegex', 0)")
      val decoded = transform(words, w =>
        decode(unhex(regexp_replace(call_function("graft_bpe_dec", w),
          lit(" "), lit(""))), "UTF-8"))
      docs.select(col("doc_id"),
          size(words).cast("long").as("n_words"),
          array_join(decoded, "").as("rejoined"))
        .orderBy(col("doc_id"))
    }),

    // WORDPIECE end-to-end: learn 32 likelihood merges, assemble the
    // piece vocabulary (initial `w/##x` symbols of the capped vocab +
    // every merge product), bake it into the native greedy
    // longest-match-first WordPieceApply expression, and segment the
    // SAME corpus. The oracle replays training through the wp CTE
    // chain, derives the identical piece set in SQL, and re-runs the
    // greedy matcher with a recursive position-stepping CTE — trainer,
    // vocabulary assembly, AND the published inference algorithm
    // certified by one hash.
    "text_wordpiece_e2e" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocabWords = docs.select(
          explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
            .as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("w").asc).limit(65536)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val merges = graft.ops.WordPieceTrainer.learn(vocabWords, 32)
      val pieceVocab =
        (vocabWords.flatMap(v => graft.ops.WordPieceTrainer.initSymbols(v._1)).toSet
          ++ merges.map(m => graft.ops.WordPieceTrainer.mergeSym(m._1, m._2))).toSeq
      graft.functions.WordPieceApply.register(s, pieceVocab, "graft_wp")
      // words/pieces projected into their own columns (the
      // text_unigram_e2e rationale): the inlined shape re-ran the
      // greedy longest-match segmentation of every word THREE times per
      // row (n_pieces, the [UNK] filter, head slice)
      val words = expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
      docs.select(col("doc_id"), words.as("__w"))
        .select(col("doc_id"), col("__w"),
          flatten(transform(col("__w"),
            w => split(call_function("graft_wp", w), " "))).as("__p"))
        .select(col("doc_id"),
          size(col("__w")).cast("long").as("n_words"),
          size(col("__p")).cast("long").as("n_pieces"),
          size(filter(col("__p"), p => p === "[UNK]")).cast("long").as("n_unk"),
          array_join(slice(col("__p"), 1, 8), "|").as("head_pieces"))
        .orderBy(col("doc_id"))
    }),

    // BYTE-LEVEL tokenizer end-to-end: learn 16 byte merges, bake them
    // into the byteLevel BpeApply expression (initial symbols = the
    // pre-token's UTF-8 bytes as hex pairs), segment the SAME corpus's
    // unicode pre-tokens. The oracle trains via the shared byte CTE
    // chain then applies with the recursive rank-stepping CTE over
    // hex(encode(w)) — trainer AND byte-level runtime applier certified
    // in one hash compare, the full GPT-2-shape loop.
    "text_bpe_bytes_e2e" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextOps.trainBpeMergesBytes(docs, "text",
        nMerges = 16, maxVocab = 65536).map(m => (m._1, m._2))
      graft.functions.BpeApply.register(s, merges, name = "graft_bpe_bytes",
        byteLevel = true)
      val sqlRegex = TextOps.BytePretokenRegex.replace("\\", "\\\\")
      // pre-tokens/tokens projected into their own columns (the
      // text_unigram_e2e rationale): lambda-carrying HOF trees are
      // excluded from subexpression elimination, so the inlined shape
      // re-ran the byte-level merge loop twice per row
      val words = expr(s"regexp_extract_all(text, '$sqlRegex', 0)")
      docs.select(col("doc_id"), words.as("__w"))
        .select(col("doc_id"), col("__w"),
          flatten(transform(col("__w"),
            w => split(call_function("graft_bpe_bytes", w), " "))).as("__t"))
        .select(col("doc_id"),
          size(col("__t")).cast("long").as("n_bpe_tokens"),
          size(col("__w")).cast("long").as("n_words"),
          array_join(slice(col("__t"), 1, 8), "|").as("head_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Training-data MATERIALIZATION end-to-end: learn the byte-level
    // tokenizer from the corpus, tokenize every document through the
    // native BpeApply expression, and pack the REAL token counts into
    // fixed-budget sequences with the sharded greedy packer — the
    // tokenize→pack chain a pre-training data drop actually runs. The
    // oracle replays BPE training, application, AND the packer's
    // placement arithmetic in one statement, so a drift anywhere in the
    // chain breaks the hash.
    "text_bpe_pack_e2e" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextOps.trainBpeMergesBytes(docs, "text",
        nMerges = 16, maxVocab = 65536).map(m => (m._1, m._2))
      graft.functions.BpeApply.register(s, merges, name = "graft_bpe_pack",
        byteLevel = true)
      val sqlRegex = TextOps.BytePretokenRegex.replace("\\", "\\\\")
      val words = expr(s"regexp_extract_all(text, '$sqlRegex', 0)")
      val tokArr = flatten(transform(words,
        w => split(call_function("graft_bpe_pack", w), " ")))
      val counted = docs.select(col("doc_id"),
        size(tokArr).cast("long").as("n_bpe"))
      graft.ops.PackingOps.packTokenStream(counted, "doc_id", "n_bpe",
          budget = 512, shards = 8)
        .orderBy(col("doc_id"))
    }),

    // Tokenizer END-TO-END: learn a 32-merge table from the corpus
    // (TextOps.trainBpeMerges — the same single-pass incremental
    // trainer), then segment the SAME corpus with it through the
    // runtime-looping BpeApply expression — train→deploy→apply in one
    // gated query, at a depth where segmentation is still partial
    // (256 saturates this fixture; 32 leaves real subword structure).
    // The oracle replays the 32 training rounds as the re-encode CTE
    // chain, then applies the learned table with a RECURSIVE CTE that
    // steps rank-by-rank over the distinct corpus words — a genuinely
    // data-driven apply (the merge table is rows, not SQL literals), so
    // trainer AND applier are certified in one hash compare.
    "text_bpe_e2e" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextOps.trainBpeMerges(docs, "text",
        nMerges = 32, maxVocab = 65536).map(m => (m._1, m._2))
      graft.functions.BpeApply.register(s, merges, name = "graft_bpe_e2e")
      // words/tokens projected into their own columns (the
      // text_unigram_e2e rationale): the inlined shape re-ran the
      // rank-looping merge applier twice per row
      val words = expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
      docs.select(col("doc_id"), words.as("__w"))
        .select(col("doc_id"), col("__w"),
          flatten(transform(col("__w"),
            w => split(call_function("graft_bpe_e2e", w), " "))).as("__t"))
        .select(col("doc_id"),
          size(col("__t")).cast("long").as("n_bpe_tokens"),
          size(col("__w")).cast("long").as("n_words"),
          array_join(slice(col("__t"), 1, 8), "|").as("head_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: stopword ratio + length-normalized score.
    "text_quality" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val stops = TextOps.tokenHits(col("text"), Seq("the", "a", "of", "and"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          (stops.cast("double") / size(toks).cast("double")).as("stop_ratio"),
          (stops.cast("double") / size(toks).cast("double") * 0.5 +
            least(size(toks), lit(100)).cast("double") / 100.0 * 0.5).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID heuristic: marker-word hit counts with a deterministic
    // argmax chain.
    "text_langid" -> ((s, dir) => {
      val en = TextOps.tokenHits(col("text"), Seq("the", "a", "of", "and"))
      val es = TextOps.tokenHits(col("text"), Seq("el", "la", "de", "y"))
      val zh = TextOps.tokenHits(col("text"), Seq("de", "shi", "le", "zai"))
      Tables.documents(s, dir)
        .select(col("doc_id"), en.as("en_hits"), es.as("es_hits"), zh.as("zh_hits"))
        .withColumn("lang_pred",
          when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("zh_hits"), "en")
            .when(col("es_hits") >= col("zh_hits"), "es")
            .otherwise("zh"))
        .orderBy(col("doc_id"))
    }),

    // Canonical-form document fingerprint (md5 of normalized text).
    "text_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // Brute-force cosine top-5: queries = vec_id < 10 (broadcast), corpus =
    // the rest; exact baseline for ANN.
    "embed_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      EmbeddingOps.bruteForceTopK(
          emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // MATRYOSHKA truncation evaluation (MRL, Kusupati et al. 2022 —
    // the "serve the first d dims" memory/latency trade modern
    // embedding APIs expose): brute-force top-1 retrieval at prefix
    // dims 8/16/32/64, agreement against the full-dim truth, and the
    // quantized top-1 score per tier — the curve an engineer reads
    // before picking a serving dimension. Same broadcast-scored shape
    // as embed_cosine_topk, one pass per tier over sliced vectors.
    "embed_mrl_eval" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      def top1(d: Int) = {
        val sliced = emb.select(col("vec_id"),
          slice(col("embedding"), 1, d).as("embedding"))
        EmbeddingOps.bruteForceTopK(
            sliced.filter(col("vec_id") >= 10),
            sliced.filter(col("vec_id") < 10),
            "vec_id", "embedding", k = 1)
          .select(col("query_id"), col("neighbor_id"), col("score"))
      }
      val full = top1(64).select(col("query_id"),
        col("neighbor_id").as("n64"))
      val tiers = Seq(8, 16, 32, 64).map { d =>
        top1(d).join(full, "query_id")
          .agg(
            sum(when(col("neighbor_id") === col("n64"), 1L).otherwise(0L))
              .as("top1_agree"),
            (floor(avg(col("score")) * 1e4 + lit(0.5)) / 1e4)
              .as("avg_top1_score"),
            count(lit(1)).as("n_queries"))
          .withColumn("dim", lit(d.toLong))
      }
      tiers.reduce(_ unionByName _)
        .select(col("dim"), col("n_queries"), col("top1_agree"),
          col("avg_top1_score"))
        .orderBy(col("dim"))
    }),

    // MARGIN-based bitext mining (EmbeddingOps.bitextMine — the
    // LASER/CCMatrix parallel-corpus recipe): even vec_ids play the
    // source language, odd the target; candidates restricted to the
    // IVF label bucket; ratio margin over both points' 4-NN
    // neighborhoods in exact e4 integers; forward best-match per
    // source above 1.01. The oracle replays cosines, both
    // neighborhoods, every margin, and the thresholded argmax.
    "bitext_mine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      EmbeddingOps.bitextMine(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", "label", k = 4, minMarginE4 = 10100L)
        .orderBy(col("src_id"))
    }),

    // LATE-INTERACTION retrieval (EmbeddingOps.maxSimTopK — the ColBERT
    // MaxSim shape, the published family between one-vector ANN and
    // full cross-attention): four per-token INTEGER vectors per row,
    // derived deterministically from the base embedding (circular shift
    // by token index, milli-quantized), scored Σ over query tokens of
    // the max dot against any document token, candidates cut to the
    // query's coarse cluster. The oracle replays every dot, max and sum
    // as exact integers.
    "retrieval_maxsim" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val toks = array((0 until 4).map(t =>
        transform(sequence(lit(0), lit(63)), i =>
          floor(element_at(col("embedding"),
            pmod(i + lit(t), lit(64)) + 1).cast("double") * 1000 + lit(0.5))
            .cast("long"))): _*)
      val mv = emb.select(col("vec_id"), col("label"), toks.as("tvecs"))
      EmbeddingOps.maxSimTopK(
          mv.filter(col("vec_id") >= 10), mv.filter(col("vec_id") < 10),
          "vec_id", "tvecs", "label", k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-style bucketed ANN: probe only the query's coarse cluster
    // (`label` plays the IVF centroid assignment).
    "embed_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      EmbeddingOps.ivfTopK(
          emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ANN quality evaluation: recall@k of the MULTI-PROBE IVF index
    // against the exact brute-force ground truth, per query, per nprobe
    // ∈ {1, 2, 4}, and per CODEBOOK — the label-bucket centroids (the
    // fixture's idealized clustering) AND the k-means-trained codebook
    // (KMeansOps.assignments k=4, the index a production deployment
    // would actually serve, where nprobe=4 is a full probe and recall
    // must hit 1.0 exactly). Ground truth and each codebook's probe
    // table are materialized ONCE (localCheckpoint) and rank-filtered
    // per curve point, so neither brute force nor codebook scoring
    // physically re-runs per setting. The query set is hash-SAMPLED (60%,
    // deterministic md5 threshold — no RNG) before anything runs: recall
    // is a statistic, and brute force is the expensive half, so at 100 TB
    // the eval pays exact-side cost only for the sampled queries while
    // the probed side stays the production path. The sampling is in the
    // query shape itself (and mirrored in the oracle), not a docstring.
    "embed_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.filter(col("vec_id") >= 10)
      val queries = SamplingOps.hashSample(
        emb.filter(col("vec_id") < 10), col("vec_id"), 60, "annq:")
      val exact = EmbeddingOps.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", k = 3).localCheckpoint(true)
      def curve(corpusC: DataFrame, clusterCol: String, tag: String): DataFrame = {
        val cent = EmbeddingOps.meanCentroids(corpusC, "embedding", clusterCol)
        val probes = EmbeddingOps.probeAssignments(queries, "vec_id",
          "embedding", cent, nprobe = 4).localCheckpoint(true)
        Seq(1, 2, 4).map { np =>
          val approx = EmbeddingOps.ivfTopKProbed(corpusC, queries,
            "vec_id", "embedding", clusterCol,
            probes.filter(col("probe_rank") <= np), k = 3)
          exact.alias("e")
            .join(approx.alias("a"),
              col("e.query_id") === col("a.query_id") &&
                col("e.neighbor_id") === col("a.neighbor_id"), "left")
            .groupBy(col("e.query_id").as("query_id"))
            .agg(count(col("a.neighbor_id")).as("hits"),
              (floor(count(col("a.neighbor_id")) / 3.0 * 1e4 + lit(0.5)) / 1e4)
                .as("recall"))
            .withColumn("nprobe", lit(np))
            .withColumn("codebook", lit(tag))
        }.reduce(_ unionByName _)
      }
      val trained = corpus.join(
        graft.ops.KMeansOps.assignments(emb, "vec_id", "embedding",
          k = 4, iters = 1), "vec_id")
      curve(corpus, "label", "label")
        .unionByName(curve(trained, "cid", "trained"))
        .select(col("query_id"), col("codebook"), col("nprobe"),
          col("hits"), col("recall"))
        .orderBy(col("query_id"), col("codebook"), col("nprobe"))
    }),

    // Per-cluster mean L2 norm (array aggregation exercise).
    "embed_norms" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .groupBy(col("label"))
        .agg((floor(avg(EmbeddingOps.l2Norm(col("embedding"))) * 10000 + lit(0.5)) / 10000.0)
          .as("mean_norm"), count(lit(1)).as("n"))
        .orderBy(col("label"))
    }))

  // ---- oracle SQL ----

  private val tokSql = """string_split_regex(trim(lower(text)), '\s+')"""

  /** Replay of TextOps.trainBpeMerges(nMerges = 256, maxVocab = 65536):
    * the capped vocabulary CTE, then one generated (pairs → argmax →
    * replace) block per round — identical double-space encoding,
    * identical (cnt desc, pair asc) tie-break, identical replace
    * rewrite — so Spark's loop count and the SQL's cannot drift. When
    * the vocabulary saturates (no pair left), that round's argmax CTE is
    * empty, the cross-join re-encode empties every later round, and the
    * rank union stops emitting — the same early stop as the trainer.
    * The pair-position series is bounded by the longest encoded word in
    * that round's vocabulary, not a constant.
    *
    * Two structural constraints at 256 rounds, both hit in testing:
    *  - every round CTE is `AS MATERIALIZED` — DuckDB's default CTE
    *    inlining re-expands the chain per reference (observed as
    *    thousands of parquet re-opens → "Too many open files");
    *  - ONE fused CTE per round (argmax as a nested subquery, merge
    *    metadata carried as repeated columns) — four CTEs per round put
    *    the binder's reference chain past its 1000 expression-depth
    *    limit; fused, the chain is ~n+1 deep.
    */
  private def bpeTrainOracleSql: String = bpeTrainOracleSql(256)

  /** One Viterbi DP + backtrace chain over `v`'s words under the score
    * CTE `scSrc(p, s)`: dp as position-chained argmax CTEs (candidates
    * from the previous ≤P positions, (score desc, backlen desc) — the
    * trainer's smallest-split tie-break), backtrace as a second chain,
    * ending in `upieces$tag(w, piece)`.
    */
  private def unigramViterbiChain(tag: String, scSrc: String, L: Int,
                                  P: Int): String = {
    val dp = (1 to L).map { i =>
      val srcs = (math.max(0, i - P) until i)
        .map(j => s"SELECT w, pos, best FROM udp${tag}_$j").mkString(" UNION ALL ")
      s"""udp${tag}_$i AS MATERIALIZED (
         |  SELECT w, pos, best, backlen FROM (
         |    SELECT d.w, $i AS pos, d.best + sc.s AS best,
         |      $i - d.pos AS backlen,
         |      row_number() OVER (PARTITION BY d.w
         |        ORDER BY d.best + sc.s DESC, $i - d.pos DESC) AS rn
         |    FROM ($srcs) d JOIN $scSrc sc
         |      ON sc.p = substr(d.w, d.pos + 1, $i - d.pos)
         |    WHERE len(d.w) >= $i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val segs = (1 to L).map { k =>
      s"""useg${tag}_$k AS MATERIALIZED (
         |  SELECT s.w, s.pos - d.backlen AS pos,
         |    substr(s.w, s.pos - d.backlen + 1, d.backlen) AS piece
         |  FROM useg${tag}_${k - 1} s JOIN udpall$tag d
         |    ON d.w = s.w AND d.pos = s.pos
         |  WHERE s.pos > 0)""".stripMargin
    }.mkString(",\n")
    s"""udp${tag}_0 AS (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS best,
       |    0 AS backlen FROM v),
       |$dp,
       |udpall$tag AS (${(1 to L).map(i => s"SELECT * FROM udp${tag}_$i")
        .mkString(" UNION ALL ")}),
       |useg${tag}_0 AS (SELECT w, len(w) AS pos FROM v),
       |$segs,
       |upieces$tag AS MATERIALIZED (${(1 to L)
        .map(k => s"SELECT w, piece, $k AS krev FROM useg${tag}_$k")
        .mkString(" UNION ALL ")})""".stripMargin
  }

  /** Unigram hard-EM replay: seed substring counts + deterministic cap,
    * then per EM round — scores (milli-quantized ln BEFORE any
    * comparison), the Viterbi DP as position-chained argmax CTEs
    * (candidates from the previous ≤4 positions, QUALIFY picks (score
    * desc, backlen desc) — the trainer's smallest-split tie-break), the
    * backtrace as a second position chain emitting pieces, and the
    * integer recount with the single-char count floor. L = 16 (the
    * Spark side asserts the corpus fits — the adversarial derivation's
    * suffixed words reach 13).
    */
  private def unigramOracleSql: String = {
    val L = 16
    val P = 4
    def emRound(r: Int, prev: String): String =
      s"""utot$r AS (SELECT sum(c) AS t FROM $prev),
         |usc$r AS MATERIALIZED (SELECT p,
         |    CAST(floor(ln(CAST(c AS DOUBLE) / t) * 1000 + 0.5) AS BIGINT) AS s
         |  FROM $prev, utot$r),
         |${unigramViterbiChain(r.toString, s"usc$r", L, P)},
         |ucur$r AS MATERIALIZED (
         |  SELECT p, c FROM (
         |    SELECT cp.p,
         |      coalesce(u.c, CASE WHEN length(cp.p) = 1 THEN 1 END) AS c
         |    FROM $prev cp LEFT JOIN
         |      (SELECT piece AS p, sum(freq) AS c
         |       FROM upieces$r JOIN v USING (w) GROUP BY piece) u
         |      ON u.p = cp.p)
         |  WHERE c IS NOT NULL)""".stripMargin
    s"""WITH v AS MATERIALIZED (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |    FROM documents) GROUP BY w
       |    ORDER BY freq DESC, w ASC LIMIT 65536),
       |usub AS (SELECT substr(w, gi.i, gl.l) AS p, sum(freq) AS c
       |  FROM v,
       |    (SELECT unnest(generate_series(1, $L)) AS i) gi,
       |    (SELECT unnest(generate_series(1, $P)) AS l) gl
       |  WHERE gi.i + gl.l - 1 <= len(w)
       |  GROUP BY 1),
       |ucur0 AS MATERIALIZED (
       |  SELECT p, c FROM (
       |    SELECT p, c, row_number() OVER (ORDER BY c DESC, p ASC) AS rn
       |    FROM usub)
       |  WHERE rn <= 2048 OR length(p) = 1),
       |${emRound(1, "ucur0")},
       |${emRound(2, "ucur1")},
       |uft AS (SELECT sum(c) AS t FROM ucur2)
       |SELECT p AS piece, CAST(c AS BIGINT) AS count,
       |  CAST(floor(ln(CAST(c AS DOUBLE) / t) * 1000 + 0.5) AS BIGINT)
       |    AS score_milli
       |FROM ucur2, uft
       |ORDER BY count DESC, piece ASC""".stripMargin
  }

  /** [[unigramOracleSql]]'s training chain, then a THIRD Viterbi chain
    * under the FINAL score table (what the runtime applier actually
    * consumes) and per-doc reassembly in word order — pieces within a
    * word ordered by the backtrace's reversed step index.
    */
  private def unigramE2eOracleSql: String = {
    val L = 16
    val P = 4
    s"""${unigramOracleSql.substring(0, unigramOracleSql.indexOf("uft AS"))}
       |uscF AS MATERIALIZED (SELECT p,
       |    CAST(floor(ln(CAST(c AS DOUBLE) /
       |      (SELECT sum(c) FROM ucur2)) * 1000 + 0.5) AS BIGINT) AS s
       |  FROM ucur2),
       |${unigramViterbiChain("F", "uscF", L, P)},
       |udocw AS (SELECT doc_id, unnest(ws) AS w,
       |    generate_subscripts(ws, 1) AS wpos
       |  FROM (SELECT doc_id,
       |          regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |        FROM documents)),
       |udp AS (SELECT d.doc_id, d.wpos, p.piece, -p.krev AS porder
       |  FROM udocw d JOIN upiecesF p USING (w)),
       |uagg AS (SELECT doc_id, count(*) AS n_pieces,
       |    array_to_string((list(piece ORDER BY wpos, porder))[1:8], '|')
       |      AS head_pieces
       |  FROM udp GROUP BY doc_id),
       |uaggw AS (SELECT doc_id, count(*) AS n_words FROM udocw GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(uaggw.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(uagg.n_pieces, 0) AS BIGINT) AS n_pieces,
       |  coalesce(uagg.head_pieces, '') AS head_pieces
       |FROM documents d
       |LEFT JOIN uaggw ON uaggw.doc_id = d.doc_id
       |LEFT JOIN uagg ON uagg.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** WordPiece round replay: per round ONE fused MATERIALIZED CTE —
    * pair counts and the two symbol-count joins feed the quantized
    * HUGEINT likelihood `(cnt·10⁶) // (ca·cb)`, argmax (score desc, cnt
    * desc, pair asc), ##-stripped merged symbol, replace re-encode —
    * mirroring [[graft.ops.WordPieceTrainer.learn]] exactly. Same
    * double-space encoding and structural constraints as
    * [[bpeRoundCtes]].
    */
  private def wpRoundCtes(n: Int): Seq[String] =
    (1 to n).map { i =>
      val prev = s"wp${i - 1}"
      s"""wp$i AS MATERIALIZED (
         |  SELECT replace(t.enc, ' ' || b.a || '  ' || b.b || ' ',
         |      ' ' || b.m || ' ') AS enc, t.freq,
         |    b.a AS a, b.b AS b, b.cnt AS cnt, b.sc AS sc
         |  FROM $prev t CROSS JOIN (
         |    SELECT a, b,
         |      a || CASE WHEN b LIKE '##%' THEN substr(b, 3) ELSE b END AS m,
         |      cnt, sc FROM (
         |      SELECT p.a, p.b, p.cnt,
         |        CAST((p.cnt * 1000000) // (sa.c * sb.c) AS BIGINT) AS sc
         |      FROM (SELECT s[g.i] AS a, s[g.i + 1] AS b, sum(freq) AS cnt
         |            FROM (SELECT string_split(trim(enc), '  ') AS s, freq
         |                  FROM $prev) t2,
         |              (SELECT unnest(generate_series(1,
         |                (SELECT max(len(string_split(trim(enc), '  ')))
         |                 FROM $prev))) AS i) g
         |            WHERE g.i + 1 <= len(t2.s)
         |            GROUP BY 1, 2) p
         |      JOIN (SELECT sym, sum(freq) AS c FROM
         |              (SELECT unnest(string_split(trim(enc), '  ')) AS sym,
         |                 freq FROM $prev) q1
         |            GROUP BY sym) sa ON sa.sym = p.a
         |      JOIN (SELECT sym, sum(freq) AS c FROM
         |              (SELECT unnest(string_split(trim(enc), '  ')) AS sym,
         |                 freq FROM $prev) q2
         |            GROUP BY sym) sb ON sb.sym = p.b)
         |    ORDER BY sc DESC, cnt DESC, a ASC, b ASC LIMIT 1) b)""".stripMargin
    }

  /** WordPiece e2e replay: 32 training rounds through [[wpRoundCtes]],
    * the piece vocabulary derived in SQL (bare first chars + `##`
    * continuation chars of the capped vocab, plus every round's merge
    * product), then the published greedy longest-match-first inference
    * re-run per distinct word with a RECURSIVE position-stepping CTE
    * whose step picks the longest matching piece via a LATERAL argmax
    * (an unmatchable position collapses the word to '[UNK]'), and
    * finally per-doc reassembly in word order. The matcher consumes the
    * learned pieces as ROWS — no learned literals in the SQL text.
    */
  private def wpE2eOracleSql: String = {
    val n = 32
    s"""WITH RECURSIVE v AS MATERIALIZED (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |    FROM documents) GROUP BY w
       |    ORDER BY freq DESC, w ASC LIMIT 65536),
       |wp0 AS MATERIALIZED (SELECT '  ' || substr(w, 1, 1) || '  ' ||
       |    regexp_replace(substr(w, 2), '(.)', '##\\1  ', 'g') AS enc,
       |    freq FROM v),
       |${wpRoundCtes(n).mkString(",\n")},
       |pieces AS MATERIALIZED (
       |  SELECT DISTINCT p FROM (
       |    SELECT substr(w, 1, 1) AS p FROM v
       |    UNION
       |    SELECT '##' || substr(w, g.i, 1) AS p FROM v,
       |      (SELECT unnest(generate_series(2,
       |        (SELECT max(len(w)) FROM v))) AS i) g
       |      WHERE g.i <= len(w)
       |    UNION
       |    ${(1 to n).map(i =>
      s"SELECT DISTINCT a || CASE WHEN b LIKE '##%' THEN substr(b, 3) ELSE b END AS p FROM wp$i")
      .mkString(" UNION ")})),
       |dw AS MATERIALIZED (SELECT DISTINCT unnest(
       |    regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
       |mt AS MATERIALIZED (
       |  SELECT w, pos, p FROM (
       |    SELECT dw.w, g.i AS pos, pieces.p,
       |      row_number() OVER (PARTITION BY dw.w, g.i
       |        ORDER BY len(p) DESC, p ASC) AS rn
       |    FROM dw, (SELECT unnest(generate_series(0,
       |        (SELECT max(len(w)) - 1 FROM dw))) AS i) g, pieces
       |    WHERE g.i < len(dw.w)
       |      AND ((g.i = 0 AND p NOT LIKE '##%'
       |              AND substr(dw.w, 1, len(p)) = p)
       |        OR (g.i > 0 AND p LIKE '##%'
       |              AND substr(dw.w, g.i + 1, len(p) - 2) = substr(p, 3))))
       |  WHERE rn = 1),
       |wapp AS (
       |  SELECT w, 0 AS pos, CAST('' AS VARCHAR) AS toks FROM dw
       |  UNION ALL
       |  SELECT a.w,
       |    CASE WHEN m.p IS NULL THEN len(a.w)
       |         ELSE a.pos + len(m.p)
       |           - CASE WHEN a.pos > 0 THEN 2 ELSE 0 END END AS pos,
       |    CASE WHEN m.p IS NULL THEN '[UNK]'
       |         WHEN a.toks = '' THEN m.p
       |         ELSE a.toks || ' ' || m.p END AS toks
       |  FROM wapp a LEFT JOIN mt m ON m.w = a.w AND m.pos = a.pos
       |  WHERE a.pos < len(a.w)),
       |wtoks AS MATERIALIZED (SELECT w, toks FROM wapp WHERE pos >= len(w)),
       |docw AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |        FROM documents)),
       |dp AS (SELECT d.doc_id, d.pos,
       |    unnest(string_split(t.toks, ' ')) AS p,
       |    generate_subscripts(string_split(t.toks, ' '), 1) AS pi
       |  FROM docw d JOIN wtoks t USING (w)),
       |aggp AS (SELECT doc_id, count(*) AS n_pieces,
       |    sum(CASE WHEN p = '[UNK]' THEN 1 ELSE 0 END) AS n_unk,
       |    array_to_string((list(p ORDER BY pos, pi))[1:8], '|') AS head_pieces
       |  FROM dp GROUP BY doc_id),
       |aggw AS (SELECT doc_id, count(*) AS n_words FROM docw GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(aggw.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(aggp.n_pieces, 0) AS BIGINT) AS n_pieces,
       |  CAST(coalesce(aggp.n_unk, 0) AS BIGINT) AS n_unk,
       |  coalesce(aggp.head_pieces, '') AS head_pieces
       |FROM documents d
       |LEFT JOIN aggw ON aggw.doc_id = d.doc_id
       |LEFT JOIN aggp ON aggp.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  private def wpTrainOracleSql(n: Int): String =
    s"""WITH v AS MATERIALIZED (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |    FROM documents) GROUP BY w
       |    ORDER BY freq DESC, w ASC LIMIT 65536),
       |wp0 AS MATERIALIZED (SELECT '  ' || substr(w, 1, 1) || '  ' ||
       |    regexp_replace(substr(w, 2), '(.)', '##\\1  ', 'g') AS enc,
       |    freq FROM v),
       |${wpRoundCtes(n).mkString(",\n")}
       |${(1 to n).map { i =>
      s"""SELECT DISTINCT CAST($i AS INTEGER) AS rank, a AS lhs, b AS rhs,
         |  CAST(cnt AS BIGINT) AS pair_count, sc AS score_micro FROM wp$i""".stripMargin
    }.mkString(" UNION ALL ")}
       |ORDER BY rank""".stripMargin

  private def bpeTrainOracleSql(n: Int): String =
    s"""WITH ${bpeVocabCtes(bpeRoundCtes(n))}
       |${bpeRanksUnion(n)}
       |ORDER BY rank""".stripMargin

  private def bpeRoundCtes(n: Int): Seq[String] =
    (1 to n).map { i =>
      val prev = s"e${i - 1}"
      s"""e$i AS MATERIALIZED (
         |  SELECT replace(t.enc, ' ' || b.a || '  ' || b.b || ' ',
         |      ' ' || b.a || b.b || ' ') AS enc, t.freq,
         |    b.a AS a, b.b AS b, b.cnt AS cnt
         |  FROM $prev t CROSS JOIN (
         |    SELECT a, b, cnt FROM (
         |      SELECT s[g.i] AS a, s[g.i + 1] AS b, sum(freq) AS cnt
         |      FROM (SELECT string_split(trim(enc), '  ') AS s, freq
         |            FROM $prev) t2,
         |        (SELECT unnest(generate_series(1,
         |          (SELECT max(len(string_split(trim(enc), '  ')))
         |           FROM $prev))) AS i) g
         |      WHERE g.i + 1 <= len(t2.s)
         |      GROUP BY 1, 2)
         |    ORDER BY cnt DESC, a ASC, b ASC LIMIT 1) b)""".stripMargin
    }

  /** Replay of the text_bpe_e2e query: train 32 rounds (the same CTE
    * chain as bpeTrainOracleSql(32)), collect the learned table as ROWS,
    * then apply it to every distinct corpus word with a RECURSIVE CTE
    * stepping rank-by-rank (LEFT JOIN keeps stepping past a saturated
    * rank with the encoding unchanged), and finally reassemble per-doc
    * token counts/heads by joining words back in document order. The
    * applier consumes the merge table as data — the SQL text contains no
    * learned literals — so one hash compare certifies trainer AND
    * runtime applier together.
    */
  private def bpeE2eOracleSql: String = {
    val n = 32
    s"""WITH RECURSIVE ${bpeVocabCtes(bpeRoundCtes(n))},
       |merges AS MATERIALIZED (${bpeRanksUnion(n)}),
       |mx AS (SELECT coalesce(max(rank), 0) AS r FROM merges),
       |dw AS MATERIALIZED (SELECT DISTINCT
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |  FROM documents),
       |app AS (
       |  SELECT w, 0 AS r,
       |    '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS enc FROM dw
       |  UNION ALL
       |  SELECT a.w, a.r + 1,
       |    CASE WHEN m.rank IS NULL THEN a.enc
       |         ELSE replace(a.enc, ' ' || m.lhs || '  ' || m.rhs || ' ',
       |                      ' ' || m.lhs || m.rhs || ' ') END
       |  FROM app a LEFT JOIN merges m ON m.rank = a.r + 1
       |  WHERE a.r < (SELECT r FROM mx)),
       |appf AS MATERIALIZED (SELECT w, string_split(trim(enc), '  ') AS tok
       |  FROM app WHERE r = (SELECT r FROM mx)),
       |docw AS (SELECT doc_id,
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
       |    generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS ord
       |  FROM documents),
       |agg AS (SELECT d.doc_id, flatten(list(a.tok ORDER BY d.ord)) AS toks
       |  FROM docw d JOIN appf a USING (w) GROUP BY d.doc_id)
       |SELECT doc.doc_id,
       |  CAST(coalesce(len(g.toks), 0) AS BIGINT) AS n_bpe_tokens,
       |  CAST(len(regexp_extract_all(lower(doc.text), '[a-z0-9]+')) AS BIGINT)
       |    AS n_words,
       |  coalesce(array_to_string(g.toks[1:8], '|'), '') AS head_tokens
       |FROM documents doc LEFT JOIN agg g USING (doc_id)
       |ORDER BY doc.doc_id""".stripMargin
  }

  /** Byte-level variant of [[bpeVocabCtes]]: unicode pre-tokens (case
    * kept), e0 = UTF-8 bytes as uppercase hex pairs via hex(encode(w)) —
    * the same double-space encoding, so every round CTE is shared
    * verbatim with the char-level replay.
    */
  private def bpeVocabCtesBytes(rounds: Seq[String]): String =
    s"""v AS MATERIALIZED (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(regexp_extract_all(text,
       |      '${TextOps.BytePretokenRegex}')) AS w
       |    FROM documents) GROUP BY w
       |    ORDER BY freq DESC, w ASC LIMIT 65536),
       |e0 AS MATERIALIZED (SELECT
       |    '  ' || regexp_replace(hex(encode(w)), '(..)', '\\1  ', 'g') AS enc,
       |    freq FROM v),
       |${rounds.mkString(",\n")}""".stripMargin

  private def bpeTrainBytesOracleSql: String = {
    val n = 64
    s"""WITH ${bpeVocabCtesBytes(bpeRoundCtes(n))}
       |${bpeRanksUnion(n)}
       |ORDER BY rank""".stripMargin
  }

  /** Byte-level replay of text_bpe_bytes_e2e: train 16 rounds through
    * the byte CTE chain, then the same recursive rank-stepping applier
    * as [[bpeE2eOracleSql]] with the word encoding rebuilt from
    * hex(encode(w)) — the applier consumes the learned table as rows, so
    * the SQL text contains no learned literals and one hash compare
    * certifies the byte trainer AND the byteLevel BpeApply runtime.
    */
  private val bytePretokSql =
    s"regexp_extract_all(text, '${TextOps.BytePretokenRegex}')"

  /** Byte-level BPE train+apply replay ending in an `agg` CTE of
    * (doc_id, toks) — shared by `text_bpe_bytes_e2e` and the packed
    * materialization `text_bpe_pack_e2e`.
    */
  private def bpeBytesCtes: String = {
    val n = 16
    s"""WITH RECURSIVE ${bpeVocabCtesBytes(bpeRoundCtes(n))},
       |merges AS MATERIALIZED (${bpeRanksUnion(n)}),
       |mx AS (SELECT coalesce(max(rank), 0) AS r FROM merges),
       |dw AS MATERIALIZED (SELECT DISTINCT unnest($bytePretokSql) AS w
       |  FROM documents),
       |app AS (
       |  SELECT w, 0 AS r,
       |    '  ' || regexp_replace(hex(encode(w)), '(..)', '\\1  ', 'g') AS enc
       |  FROM dw
       |  UNION ALL
       |  SELECT a.w, a.r + 1,
       |    CASE WHEN m.rank IS NULL THEN a.enc
       |         ELSE replace(a.enc, ' ' || m.lhs || '  ' || m.rhs || ' ',
       |                      ' ' || m.lhs || m.rhs || ' ') END
       |  FROM app a LEFT JOIN merges m ON m.rank = a.r + 1
       |  WHERE a.r < (SELECT r FROM mx)),
       |appf AS MATERIALIZED (SELECT w, string_split(trim(enc), '  ') AS tok
       |  FROM app WHERE r = (SELECT r FROM mx)),
       |docw AS (SELECT doc_id, unnest($bytePretokSql) AS w,
       |    generate_subscripts($bytePretokSql, 1) AS ord
       |  FROM documents),
       |agg AS (SELECT d.doc_id, flatten(list(a.tok ORDER BY d.ord)) AS toks
       |  FROM docw d JOIN appf a USING (w) GROUP BY d.doc_id)""".stripMargin
  }

  private def bpeBytesE2eOracleSql: String =
    s"""$bpeBytesCtes
       |SELECT doc.doc_id,
       |  CAST(coalesce(len(g.toks), 0) AS BIGINT) AS n_bpe_tokens,
       |  CAST(len($bytePretokSql) AS BIGINT) AS n_words,
       |  coalesce(array_to_string(g.toks[1:8], '|'), '') AS head_tokens
       |FROM documents doc LEFT JOIN agg g USING (doc_id)
       |ORDER BY doc.doc_id""".stripMargin

  /** The full training-data MATERIALIZATION replay: byte-BPE token
    * counts feeding the sharded greedy packer's placement arithmetic.
    */
  private def bpePackE2eOracleSql: String =
    s"""$bpeBytesCtes,
       |cnt AS MATERIALIZED (SELECT doc.doc_id,
       |    CAST(coalesce(len(g.toks), 0) AS BIGINT) AS n,
       |    ('0x' || substr(md5('pack:' || CAST(doc.doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard
       |  FROM documents doc LEFT JOIN agg g USING (doc_id)),
       |w2 AS (SELECT doc_id, shard, n,
       |    CAST(coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
       |  FROM cnt)
       |SELECT doc_id, shard,
       |  shard * 1099511627776 + CAST(strt // 512 AS BIGINT) AS pack_id,
       |  strt % 512 AS pack_offset, n AS n_tokens
       |FROM w2 ORDER BY doc_id""".stripMargin

  private def bpeVocabCtes(rounds: Seq[String]): String =
    s"""v AS MATERIALIZED (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |    FROM documents) GROUP BY w
       |    ORDER BY freq DESC, w ASC LIMIT 65536),
       |e0 AS MATERIALIZED (SELECT '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS enc,
       |    freq FROM v),
       |${rounds.mkString(",\n")}""".stripMargin

  private def bpeRanksUnion(n: Int): String =
    (1 to n).map { i =>
      s"""SELECT DISTINCT CAST($i AS INTEGER) AS rank, a AS lhs, b AS rhs,
         |  CAST(cnt AS BIGINT) AS pair_count FROM e$i""".stripMargin
    }.mkString(" UNION ALL ")

  /** doc_id → distinct word-3-gram shingles (mirrors TextOps.shingles).
    * The position series bound is derived from the data (longest token
    * list), not a constant, so longer documents in a future sf can't
    * silently truncate the Spark-vs-oracle shingle sets apart.
    */
  private val shingleSql =
    s"""tok AS (SELECT doc_id, $tokSql AS ws FROM documents),
       |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
       |  FROM tok, (SELECT unnest(generate_series(1,
       |    (SELECT max(len(ws)) FROM tok))) AS i) g
       |  WHERE i + 2 <= len(ws))""".stripMargin

  /** Replay of KMeansOps.assignments(k=4, iters=1, salt "km:") over the
    * full embeddings table — identical to the embed_kmeans_assign oracle
    * (CorpusQueries) modulo CTE names, ending in `a1(id, cid)`.
    */
  private val kmeansReplaySql =
    """ev AS (SELECT vec_id AS id,
      |        list_transform(embedding,
      |          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv2,
      |        ('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |      FROM embeddings),
      |sk AS (SELECT qv2, rn - 1 AS cid FROM (
      |        SELECT qv2, row_number() OVER (ORDER BY h, id) AS rn FROM ev)
      |      WHERE rn <= 4),
      |d0 AS (SELECT ev.id, sk.cid,
      |         sum((ev.qv2[i] - sk.qv2[i]) * (ev.qv2[i] - sk.qv2[i])) AS d
      |       FROM ev CROSS JOIN sk CROSS JOIN dims GROUP BY ev.id, sk.cid),
      |a0 AS (SELECT id, cid FROM (
      |         SELECT id, cid, row_number() OVER (PARTITION BY id
      |           ORDER BY d, cid) AS rnk FROM d0)
      |       WHERE rnk = 1),
      |c1 AS (SELECT a0.cid, d.i, CAST(floor(avg(ev.qv2[d.i]) + 0.5) AS BIGINT) AS cx
      |       FROM ev JOIN a0 ON ev.id = a0.id CROSS JOIN dims d
      |       GROUP BY a0.cid, d.i),
      |cf AS (SELECT sk.cid, d.i, coalesce(c1.cx, sk.qv2[d.i]) AS cx
      |       FROM sk CROSS JOIN dims d
      |       LEFT JOIN c1 ON c1.cid = sk.cid AND c1.i = d.i),
      |d1 AS (SELECT ev.id, cc.cid,
      |         sum((ev.qv2[cc.i] - cc.cx) * (ev.qv2[cc.i] - cc.cx)) AS d
      |       FROM ev CROSS JOIN cf cc GROUP BY ev.id, cc.cid),
      |a1 AS (SELECT id, cid FROM (
      |         SELECT id, cid, row_number() OVER (PARTITION BY id
      |           ORDER BY d, cid) AS rnk FROM d1)
      |       WHERE rnk = 1)""".stripMargin

  /** One codebook's multi-probe recall-curve CTEs over `src(vec_id,
    * embedding, cluster)`: mean centroids → probe ranks → per-nprobe
    * candidates → approximate top-3 (`a_<sfx>`). Shared CTEs `q`, `qn`,
    * `dims`, `np` come from the enclosing query.
    */
  private def annCurveSql(sfx: String, src: String): String =
    s"""cent_$sfx AS (
       |  SELECT cluster, i,
       |    floor(avg(CAST(embedding[i] AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS cv
       |  FROM $src CROSS JOIN dims GROUP BY cluster, i),
       |cn_$sfx AS (SELECT cluster, sqrt(sum(cv * cv)) AS ncv
       |  FROM cent_$sfx GROUP BY cluster),
       |qc_$sfx AS (
       |  SELECT q.query_id, cent_$sfx.cluster,
       |    sum(CAST(q.qv[cent_$sfx.i] AS DOUBLE) * cent_$sfx.cv) AS dp
       |  FROM q CROSS JOIN cent_$sfx GROUP BY q.query_id, cent_$sfx.cluster),
       |probes_$sfx AS (
       |  SELECT query_id, cluster,
       |    row_number() OVER (PARTITION BY query_id ORDER BY
       |      floor(dp / (nqv * ncv) * 1e4 + 0.5) / 1e4 DESC, cluster ASC) AS pr
       |  FROM qc_$sfx JOIN qn USING (query_id) JOIN cn_$sfx USING (cluster)),
       |cand_$sfx AS (
       |  SELECT n.nprobe, p.query_id, c2.vec_id,
       |    floor(sum(CAST(q.qv[i] AS DOUBLE) * CAST(c2.embedding[i] AS DOUBLE))
       |      / (qn.nqv * sqrt(sum(CAST(c2.embedding[i] AS DOUBLE)
       |                           * CAST(c2.embedding[i] AS DOUBLE))))
       |      * 1e4 + 0.5) / 1e4 AS score
       |  FROM np n
       |  JOIN probes_$sfx p ON p.pr <= n.nprobe
       |  JOIN $src c2 ON c2.cluster = p.cluster
       |  JOIN q ON q.query_id = p.query_id
       |  JOIN qn ON qn.query_id = p.query_id
       |  CROSS JOIN dims
       |  GROUP BY n.nprobe, p.query_id, c2.vec_id, qn.nqv),
       |appr_$sfx AS (
       |  SELECT nprobe, query_id, vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY nprobe, query_id
       |      ORDER BY score DESC, vec_id ASC) AS rk
       |  FROM cand_$sfx),
       |a_$sfx AS (SELECT nprobe, query_id, neighbor_id
       |  FROM appr_$sfx WHERE rk <= 3)""".stripMargin

  private val minhashSigSql = {
    val aggs = (0 until 8)
      .map(i => s"min(md5('$i:' || s)) AS mh$i").mkString(", ")
    s"""sig AS (SELECT doc_id, $aggs FROM sh GROUP BY doc_id)"""
  }

  /** Banded LSH candidate pairs (4 bands × 2 signature rows). */
  private val minhashCandSql =
    s"""cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b
       |    ON a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
       |    ON a.mh2 = b.mh2 AND a.mh3 = b.mh3 AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
       |    ON a.mh4 = b.mh4 AND a.mh5 = b.mh5 AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
       |    ON a.mh6 = b.mh6 AND a.mh7 = b.mh7 AND a.doc_id < b.doc_id)""".stripMargin

  /** CC_ROUNDS-round min-label-propagation unrolling over `cand` —
    * converges to the same unique fixed point (min id per component) as
    * both engine CC paths, label propagation and star contraction.
    */
  private val ccUnrollSql = {
    val rounds = (1 to CC_ROUNDS).map { k =>
      s"""l$k AS MATERIALIZED (SELECT l.id, least(l.lbl, coalesce(min(n.lbl), l.lbl)) AS lbl
         |  FROM l${k - 1} l LEFT JOIN e ON e.u = l.id
         |  LEFT JOIN l${k - 1} n ON n.id = e.v
         |  GROUP BY l.id, l.lbl)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM cand
       |      UNION ALL SELECT id_b AS u, id_a AS v FROM cand),
       |l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS lbl FROM e),
       |$rounds""".stripMargin
  }

  private val simhashSumsSql = (0 until SIMHASH_BITS)
    .map(b => s"sum(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
    .mkString(", ")
  private val simhashAsmSql = (0 until SIMHASH_BITS)
    .map(b => s"CASE WHEN s$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END")
    .mkString(" + ")

  /** Pairwise double-cast dot/cosine over unnested dims (dim join). */
  private def cosineTopkSql(k: Int, clusterCond: String): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
       |    FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 10),
       |p AS (
       |  SELECT q.query_id, c.vec_id,
       |    sum(CAST(qv[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) AS dp,
       |    sqrt(sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) AS qn,
       |    sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS cn
       |  FROM q JOIN c ON $clusterCond
       |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
       |  GROUP BY q.query_id, c.vec_id),
       |r AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |    floor((dp / (qn * cn)) * 10000 + 0.5) / 10000.0 AS score
       |  FROM p),
       |t AS (
       |  SELECT query_id, neighbor_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS rank
       |  FROM r)
       |SELECT query_id, rank, neighbor_id, score FROM t WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** MRL oracle: per prefix dim, the cosineTopkSql arithmetic with
    * generate_series(1, d), rank-1 winner (quantized score desc, id
    * asc), agreement joined against the 64-dim winner.
    */
  private def mrlSql: String = {
    val dims = Seq(8, 16, 32, 64)
    val per = dims.map { d =>
      s"""p$d AS MATERIALIZED (
         |  SELECT q.query_id, c.vec_id,
         |    sum(CAST(qv[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) AS dp,
         |    sqrt(sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) AS qn,
         |    sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS cn
         |  FROM q JOIN c ON TRUE
         |  CROSS JOIN (SELECT unnest(generate_series(1, $d)) AS i) dims
         |  GROUP BY q.query_id, c.vec_id),
         |w$d AS MATERIALIZED (
         |  SELECT query_id, vec_id,
         |    floor((dp / (qn * cn)) * 10000 + 0.5) / 10000.0 AS score
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY floor((dp / (qn * cn)) * 10000 + 0.5) / 10000.0 DESC,
         |        vec_id ASC) AS rn FROM p$d) r WHERE rn = 1)""".stripMargin
    }
    val finals = dims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dim,
         |  CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(CASE WHEN a.vec_id = b.vec_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS top1_agree,
         |  floor(avg(a.score) * 1e4 + 0.5) / 1e4 AS avg_top1_score
         |FROM w$d a JOIN w64 b USING (query_id)""".stripMargin
    }
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
      |    FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
      |""".stripMargin + per.mkString(",\n") +
      "\n" + finals.mkString("\nUNION ALL\n") + "\nORDER BY dim"
  }

  override val oracle: Map[String, String] = Map(
    "embed_mrl_eval" -> mrlSql,
    "dedup_exact" ->
      """SELECT min(doc_id) AS canonical_id, count(*) AS group_size
        |FROM documents GROUP BY text ORDER BY canonical_id""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $shingleSql,
         |$minhashSigSql,
         |$minhashCandSql
         |SELECT id_a, id_b FROM cand ORDER BY id_a, id_b""".stripMargin,
    "dedup_minhash_rowsig" ->
      s"""WITH $shingleSql,
         |$minhashSigSql
         |SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7
         |FROM sig ORDER BY doc_id""".stripMargin,
    "dedup_substring_runs" ->
      s"""WITH tok AS (SELECT doc_id, $tokSql AS ws FROM documents),
         |psh AS (SELECT doc_id, i AS pos, array_to_string(ws[i:i+7], ' ') AS s
         |  FROM tok, (SELECT unnest(generate_series(1,
         |    (SELECT max(len(ws)) FROM tok))) AS i) g
         |  WHERE i + 7 <= len(ws)),
         |rare AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df
         |  FROM psh GROUP BY s) WHERE df <= $MAX_DF),
         |m AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.pos AS pos_a, a.pos - b.pos AS diag
         |  FROM psh a JOIN rare USING (s) JOIN psh b
         |    ON a.s = b.s AND a.doc_id < b.doc_id),
         |r AS (SELECT id_a, id_b, diag,
         |    pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag
         |      ORDER BY pos_a) AS grp
         |  FROM m),
         |c AS (SELECT id_a, id_b, count(*) + 7 AS run
         |  FROM r GROUP BY id_a, id_b, diag, grp)
         |SELECT id_a, id_b, CAST(max(run) AS BIGINT) AS max_run_tokens
         |FROM c GROUP BY id_a, id_b HAVING max(run) >= 10
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_exactsubstr_remove" ->
      s"""WITH tok AS (SELECT doc_id, $tokSql AS ws FROM documents),
         |psh AS (SELECT doc_id, i AS pos, array_to_string(ws[i:i+7], ' ') AS s
         |  FROM tok, (SELECT unnest(generate_series(1,
         |    (SELECT max(len(ws)) FROM tok))) AS i) g
         |  WHERE i + 7 <= len(ws)),
         |rare AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df
         |  FROM psh GROUP BY s) WHERE df <= $MAX_DF),
         |m AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.pos AS pos_a, a.pos - b.pos AS diag
         |  FROM psh a JOIN rare USING (s) JOIN psh b
         |    ON a.s = b.s AND a.doc_id < b.doc_id),
         |r AS (SELECT id_a, id_b, diag, pos_a,
         |    pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag
         |      ORDER BY pos_a) AS grp
         |  FROM m),
         |c AS (SELECT id_b, min(pos_a) - diag AS s0, count(*) + 7 AS run
         |  FROM r GROUP BY id_a, id_b, diag, grp HAVING count(*) + 7 >= 10),
         |rem AS (SELECT DISTINCT id_b AS doc_id, pos FROM (
         |  SELECT id_b, unnest(generate_series(s0, s0 + run - 1)) AS pos
         |  FROM c)),
         |tokp AS (SELECT doc_id, unnest(ws) AS tk,
         |  generate_subscripts(ws, 1) AS pos FROM tok),
         |keep AS (SELECT t.doc_id, t.pos, t.tk FROM tokp t
         |  WHERE NOT EXISTS (SELECT 1 FROM rem
         |    WHERE rem.doc_id = t.doc_id AND rem.pos = t.pos)),
         |surv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    string_agg(tk, ' ' ORDER BY pos) AS text_kept
         |  FROM keep GROUP BY doc_id)
         |SELECT k.doc_id, CAST(len(k.ws) AS BIGINT) AS n_tokens,
         |  CAST(len(k.ws) - coalesce(s.n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(s.text_kept, '') AS text_kept
         |FROM tok k LEFT JOIN surv s USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "dedup_components" ->
      s"""WITH $shingleSql,
         |$minhashSigSql,
         |$minhashCandSql,
         |$ccUnrollSql
         |SELECT id AS doc_id, lbl AS component FROM l$CC_ROUNDS
         |ORDER BY doc_id""".stripMargin,
    "dedup_training_pairs" ->
      s"""WITH $shingleSql,
         |$minhashSigSql,
         |$minhashCandSql,
         |$ccUnrollSql,
         |tpn AS (SELECT count(*) AS n FROM documents),
         |tpc AS (SELECT id AS doc_id, lbl AS component FROM l$CC_ROUNDS),
         |tpp AS (SELECT doc_id AS anchor, component AS other, 1 AS label
         |  FROM tpc WHERE doc_id <> component),
         |tpnc AS (SELECT c.doc_id AS anchor, (c.doc_id*31+7) % n.n AS other,
         |    c.component AS ca FROM tpc c, tpn n),
         |tpneg AS (SELECT nc.anchor, nc.other, 0 AS label
         |  FROM tpnc nc LEFT JOIN tpc cb ON cb.doc_id = nc.other
         |  WHERE (cb.component IS NULL OR cb.component <> nc.ca)
         |    AND nc.anchor <> nc.other)
         |SELECT anchor, other, CAST(label AS BIGINT) AS label
         |FROM (SELECT * FROM tpp UNION ALL SELECT * FROM tpneg) u
         |ORDER BY anchor, other, label""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH $shingleSql,
         |$minhashSigSql,
         |$minhashCandSql,
         |$ccUnrollSql,
         |kbw AS (SELECT d.doc_id, d.n_chars,
         |    coalesce(x.lbl, d.doc_id) AS component
         |  FROM documents d LEFT JOIN l$CC_ROUNDS x ON x.id = d.doc_id),
         |kbb AS (SELECT component, doc_id AS kept_doc FROM (
         |    SELECT component, doc_id, row_number() OVER (
         |      PARTITION BY component ORDER BY n_chars DESC, doc_id ASC) AS rn
         |    FROM kbw) q WHERE rn = 1)
         |SELECT w.component, kbb.kept_doc,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(max(w.n_chars) AS BIGINT) AS max_chars
         |FROM kbw w JOIN kbb USING (component)
         |GROUP BY w.component, kbb.kept_doc
         |ORDER BY w.component""".stripMargin,
    "dedup_cluster_stats" ->
      s"""WITH $shingleSql,
         |$minhashSigSql,
         |$minhashCandSql,
         |$ccUnrollSql,
         |compsz AS (SELECT lbl, count(*) AS sz FROM l$CC_ROUNDS GROUP BY lbl)
         |SELECT CAST(sz AS BIGINT) AS cluster_size,
         |  CAST(count(*) AS BIGINT) AS n_clusters
         |FROM compsz GROUP BY sz ORDER BY cluster_size""".stripMargin,
    "dedup_e2e_fuzzy" ->
      s"""WITH $shingleSql,
         |$minhashSigSql,
         |$minhashCandSql,
         |$ccUnrollSql
         |SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM l$CC_ROUNDS x WHERE x.id = d.doc_id AND x.lbl < x.id)
         |ORDER BY d.doc_id""".stripMargin,
    "corpus_e2e_prepare" ->
      s"""WITH $shingleSql,
         |$minhashSigSql,
         |$minhashCandSql,
         |$ccUnrollSql,
         |surv AS (SELECT d.* FROM documents d
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM l$CC_ROUNDS x WHERE x.id = d.doc_id AND x.lbl < x.id)),
         |qt AS (SELECT doc_id, $tokSql AS l FROM surv),
         |qp AS (SELECT doc_id, unnest(l) AS g, generate_subscripts(l, 1) AS pos FROM qt),
         |quc AS (SELECT doc_id, g, count(*) AS c FROM qp GROUP BY 1, 2),
         |qus AS (SELECT doc_id, sum(c) AS n_tokens, max(c) AS top_uni,
         |         coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dup_mass
         |       FROM quc GROUP BY 1),
         |qbg AS (SELECT doc_id,
         |         g || ' ' || lead(g) OVER (PARTITION BY doc_id ORDER BY pos) AS b
         |       FROM qp),
         |qbc AS (SELECT doc_id, b, count(*) AS c FROM qbg WHERE b IS NOT NULL GROUP BY 1, 2),
         |qbs AS (SELECT doc_id, sum(c) AS n_bi, max(c) AS top_bi FROM qbc GROUP BY 1),
         |pass AS (SELECT qus.doc_id FROM qus LEFT JOIN qbs ON qus.doc_id = qbs.doc_id
         |  WHERE n_tokens >= 40 AND n_tokens <= 100000
         |    AND top_uni / CAST(n_tokens AS DOUBLE) <= 0.09
         |    AND dup_mass / CAST(n_tokens AS DOUBLE) <= 0.9
         |    AND coalesce(top_bi / CAST(n_bi AS DOUBLE), 0.0) <= 0.06),
         |en AS (SELECT qt.doc_id FROM qt JOIN pass USING (doc_id)
         |  WHERE len(list_filter(l, x -> x IN ('the','a','of','and')))
         |      >= len(list_filter(l, x -> x IN ('el','la','de','y')))
         |    AND len(list_filter(l, x -> x IN ('the','a','of','and')))
         |      >= len(list_filter(l, x -> x IN ('de','shi','le','zai')))),
         |dsh AS (SELECT doc_id, s FROM (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(0, len(l) - 8),
         |    i -> array_to_string(l[i+1 : i+8], ' ')))) AS s
         |  FROM (SELECT doc_id, $tokSql AS l FROM documents) WHERE len(l) >= 8)),
         |ev AS (SELECT DISTINCT s FROM dsh WHERE doc_id < 100),
         |hit AS (SELECT DISTINCT dsh.doc_id FROM dsh JOIN ev USING (s)
         |  WHERE dsh.doc_id >= 100)
         |SELECT d.doc_id,
         |  CAST(len(string_split_regex(trim(lower(
         |    regexp_replace(regexp_replace(regexp_replace(d.text,
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      '\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}', '<PHONE>', 'g'),
         |      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')
         |    )), '\\s+')) AS BIGINT) AS n_tokens_clean
         |FROM documents d
         |  JOIN en ON en.doc_id = d.doc_id
         |WHERE d.doc_id >= 100
         |  AND NOT EXISTS (SELECT 1 FROM hit WHERE hit.doc_id = d.doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // the trained-signal funnel: dedup + gate fragments shared with
    // corpus_e2e_prepare, composed with the full trigram-LM scoring and
    // bucket-threshold replay (CorpusQueries.trigramScoreCtesBody); the
    // utf8 stage is identity on this all-ASCII corpus, so its
    // certification here is "no false invalids" (rows would vanish)
    "corpus_e2e_curate2" ->
      s"""WITH $shingleSql,
         |$minhashSigSql,
         |$minhashCandSql,
         |$ccUnrollSql,
         |surv AS MATERIALIZED (SELECT d.* FROM documents d
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM l$CC_ROUNDS x WHERE x.id = d.doc_id AND x.lbl < x.id)),
         |qt AS (SELECT doc_id, $tokSql AS l FROM surv),
         |qp AS (SELECT doc_id, unnest(l) AS g, generate_subscripts(l, 1) AS pos FROM qt),
         |quc AS (SELECT doc_id, g, count(*) AS c FROM qp GROUP BY 1, 2),
         |qus AS (SELECT doc_id, sum(c) AS n_tokens, max(c) AS top_uni,
         |         coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dup_mass
         |       FROM quc GROUP BY 1),
         |qbg AS (SELECT doc_id,
         |         g || ' ' || lead(g) OVER (PARTITION BY doc_id ORDER BY pos) AS b
         |       FROM qp),
         |qbc AS (SELECT doc_id, b, count(*) AS c FROM qbg WHERE b IS NOT NULL GROUP BY 1, 2),
         |qbs AS (SELECT doc_id, sum(c) AS n_bi, max(c) AS top_bi FROM qbc GROUP BY 1),
         |pass AS (SELECT qus.doc_id FROM qus LEFT JOIN qbs ON qus.doc_id = qbs.doc_id
         |  WHERE n_tokens >= 40 AND n_tokens <= 100000
         |    AND top_uni / CAST(n_tokens AS DOUBLE) <= 0.09
         |    AND dup_mass / CAST(n_tokens AS DOUBLE) <= 0.9
         |    AND coalesce(top_bi / CAST(n_bi AS DOUBLE), 0.0) <= 0.06),
         |${CorpusQueries.trigramScoreCtesBody},
         |bq AS MATERIALIZED (SELECT doc_id, avg_logprob3,
         |    CAST(floor(avg_logprob3 * 100) AS BIGINT) AS lp_centi FROM score),
         |bhist AS (SELECT lp_centi, count(*) AS c FROM bq GROUP BY lp_centi),
         |bcum AS (SELECT lp_centi,
         |    sum(c) OVER (ORDER BY lp_centi DESC) AS cumc FROM bhist),
         |btot AS (SELECT count(*) AS n FROM bq),
         |bth AS (SELECT
         |    max(CASE WHEN cumc >= (n + 2) // 3 THEN lp_centi END) AS t1,
         |    max(CASE WHEN cumc >= (2 * n + 2) // 3 THEN lp_centi END) AS t2
         |  FROM bcum, btot),
         |bkept AS (SELECT bq.doc_id,
         |    CASE WHEN bq.lp_centi >= bth.t1 THEN 'head'
         |         WHEN bq.lp_centi >= bth.t2 THEN 'middle'
         |         ELSE 'tail' END AS ppl_bucket
         |  FROM bq, bth)
         |SELECT s.doc_id, k.ppl_bucket,
         |  CAST(len($tokSql) AS BIGINT) AS n_tokens
         |FROM surv s
         |JOIN pass ON pass.doc_id = s.doc_id
         |JOIN bkept k ON k.doc_id = s.doc_id AND k.ppl_bucket <> 'tail'
         |ORDER BY s.doc_id""".stripMargin,
    // curate2's composition with the KN ladder (CorpusQueries.
    // knScoreCtesBody) replacing the JM trigram scorer; kb-prefixed
    // bucket CTEs avoid the b-prefix family above
    "corpus_e2e_curate3" ->
      s"""WITH $shingleSql,
         |$minhashSigSql,
         |$minhashCandSql,
         |$ccUnrollSql,
         |surv AS MATERIALIZED (SELECT d.* FROM documents d
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM l$CC_ROUNDS x WHERE x.id = d.doc_id AND x.lbl < x.id)),
         |qt AS (SELECT doc_id, $tokSql AS l FROM surv),
         |qp AS (SELECT doc_id, unnest(l) AS g, generate_subscripts(l, 1) AS pos FROM qt),
         |quc AS (SELECT doc_id, g, count(*) AS c FROM qp GROUP BY 1, 2),
         |qus AS (SELECT doc_id, sum(c) AS n_tokens, max(c) AS top_uni,
         |         coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dup_mass
         |       FROM quc GROUP BY 1),
         |qbg AS (SELECT doc_id,
         |         g || ' ' || lead(g) OVER (PARTITION BY doc_id ORDER BY pos) AS b
         |       FROM qp),
         |qbc AS (SELECT doc_id, b, count(*) AS c FROM qbg WHERE b IS NOT NULL GROUP BY 1, 2),
         |qbs AS (SELECT doc_id, sum(c) AS n_bi, max(c) AS top_bi FROM qbc GROUP BY 1),
         |pass AS (SELECT qus.doc_id FROM qus LEFT JOIN qbs ON qus.doc_id = qbs.doc_id
         |  WHERE n_tokens >= 40 AND n_tokens <= 100000
         |    AND top_uni / CAST(n_tokens AS DOUBLE) <= 0.09
         |    AND dup_mass / CAST(n_tokens AS DOUBLE) <= 0.9
         |    AND coalesce(top_bi / CAST(n_bi AS DOUBLE), 0.0) <= 0.06),
         |${CorpusQueries.knScoreCtesBody},
         |kbq AS MATERIALIZED (SELECT doc_id, avg_logprob_kn,
         |    CAST(floor(avg_logprob_kn * 100) AS BIGINT) AS lp_centi FROM knscore),
         |kbhist AS (SELECT lp_centi, count(*) AS c FROM kbq GROUP BY lp_centi),
         |kbcum AS (SELECT lp_centi,
         |    sum(c) OVER (ORDER BY lp_centi DESC) AS cumc FROM kbhist),
         |kbtot AS (SELECT count(*) AS n FROM kbq),
         |kbth AS (SELECT
         |    max(CASE WHEN cumc >= (n + 2) // 3 THEN lp_centi END) AS t1,
         |    max(CASE WHEN cumc >= (2 * n + 2) // 3 THEN lp_centi END) AS t2
         |  FROM kbcum, kbtot),
         |kbkept AS (SELECT kbq.doc_id,
         |    CASE WHEN kbq.lp_centi >= kbth.t1 THEN 'head'
         |         WHEN kbq.lp_centi >= kbth.t2 THEN 'middle'
         |         ELSE 'tail' END AS ppl_bucket
         |  FROM kbq, kbth)
         |SELECT s.doc_id, k.ppl_bucket,
         |  CAST(len($tokSql) AS BIGINT) AS n_tokens
         |FROM surv s
         |JOIN pass ON pass.doc_id = s.doc_id
         |JOIN kbkept k ON k.doc_id = s.doc_id AND k.ppl_bucket <> 'tail'
         |ORDER BY s.doc_id""".stripMargin,

    // the published CCNet order replayed whole: line segmentation →
    // corpus-wide keep-first → reassembly → the lang-keyed trigram
    // ladder over the DEDUPED text → per-language terciles → tail drop
    "corpus_e2e_ccnet" ->
      s"""WITH lntoks AS (
         |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
         |  FROM documents),
         |lnlines AS (
         |  SELECT doc_id, lang, i AS line_pos,
         |    array_to_string(t[(i*10+1):(i*10+10)], ' ') AS line
         |  FROM lntoks, LATERAL (SELECT unnest(generate_series(0,
         |    CAST(ceil(greatest(len(t), 1)/10.0) AS INT) - 1)) AS i) g),
         |lnkeep AS (SELECT line, min(doc_id*1000000 + line_pos) AS k
         |  FROM lnlines GROUP BY line),
         |lnkept AS (SELECT l.doc_id, l.lang, l.line_pos, l.line
         |  FROM lnlines l JOIN lnkeep k ON l.line = k.line
         |    AND l.doc_id*1000000 + l.line_pos = k.k),
         |ccnetsrc AS MATERIALIZED (SELECT doc_id, lang,
         |    string_agg(line, ' ' ORDER BY line_pos) AS text
         |  FROM lnkept GROUP BY doc_id, lang),
         |${CorpusQueries.langTrigramCtesBody("ccnetsrc")},
         |ccnt AS (SELECT doc_id,
         |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
         |      AS n_tokens_kept
         |  FROM ccnetsrc)
         |SELECT b.doc_id, b.lang, b.ppl_bucket, ccnt.n_tokens_kept
         |FROM lgbuck b JOIN ccnt USING (doc_id)
         |WHERE b.ppl_bucket <> 'tail'
         |ORDER BY b.doc_id""".stripMargin,

    // exact log2 bucket replay (power-of-two boundaries are IEEE-exact)
    "corpus_length_histogram" ->
      s"""WITH n AS (SELECT CAST(len($tokSql) AS BIGINT) AS n FROM documents)
         |SELECT CAST(floor(log2(n)) AS INTEGER) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS n_tokens
         |FROM n WHERE n > 0 GROUP BY bucket ORDER BY bucket""".stripMargin,

    // same per-doc-presence df + bounded top-20 replay
    "text_boilerplate_ngrams" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS ws FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |    ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS g5
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) AS i) s
         |  WHERE len(ws) >= 5),
         |d AS (SELECT g5, count(*) AS df FROM g GROUP BY g5
         |  ORDER BY df DESC, g5 ASC LIMIT 20),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT g5 AS ngram, CAST(df AS BIGINT) AS df,
         |  CAST(df * 1000 // n AS BIGINT) AS df_milli
         |FROM d, n ORDER BY df DESC, ngram ASC""".stripMargin,

    // the same per-doc scalars + fingerprint-group join replayed
    "corpus_health_report" ->
      """WITH p AS (SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
        |      AS n_toks,
        |    md5(text) AS fp
        |  FROM documents),
        |g AS (SELECT fp, count(*) AS n_same FROM p GROUP BY fp)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  floor(avg(CAST(n_toks AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS avg_tokens,
        |  CAST(sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  CAST(sum(CASE WHEN n_toks < 40 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_short_docs,
        |  CAST(max(n_toks) AS BIGINT) AS max_tokens,
        |  CAST(sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) * 1000
        |    // count(*) AS BIGINT) AS dup_milli
        |FROM p JOIN g USING (fp)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // replay of the Cyrillic skinning, both fingerprint families
    // (raw md5 vs skeleton md5 through the same positional translate
    // map), and the group-size comparison
    "dedup_homoglyph" ->
      s"""WITH twins AS (
         |  SELECT doc_id + 1000000 AS doc_id,
         |    translate(text, 'aeo', 'аео') AS text
         |  FROM documents WHERE doc_id % 5 = 0),
         |allv AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id, text FROM twins),
         |hfp AS (SELECT doc_id, md5(text) AS fp_raw,
         |    md5(translate(lower(text), '${TextOps.ConfusableFrom}',
         |      '${TextOps.ConfusableTo}')) AS fp_skel FROM allv),
         |hnr AS (SELECT fp_raw, count(*) AS n_raw FROM hfp GROUP BY fp_raw),
         |hns AS (SELECT fp_skel, count(*) AS n_skel FROM hfp GROUP BY fp_skel)
         |SELECT hfp.doc_id, CAST(n_raw AS BIGINT) AS n_raw,
         |  CAST(n_skel AS BIGINT) AS n_skel,
         |  n_skel > n_raw AS homoglyph_dup
         |FROM hfp JOIN hnr USING (fp_raw) JOIN hns USING (fp_skel)
         |ORDER BY doc_id""".stripMargin,

    // replay of snapshot membership (salted hash60), fingerprints, and
    // the full-outer status arithmetic
    "corpus_snapshot_diff" ->
      """WITH p AS (SELECT doc_id,
        |    md5(text || CASE WHEN doc_id % 7 = 0 THEN ' [v1]' ELSE '' END) AS fp
        |  FROM documents
        |  WHERE ('0x' || substr(md5('snap:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 < 8),
        |c AS (SELECT doc_id, md5(text) AS fp FROM documents
        |  WHERE ('0x' || substr(md5('snap2:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 20 <> 0)
        |SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
        |  CASE WHEN p.doc_id IS NULL THEN 'added'
        |       WHEN c.doc_id IS NULL THEN 'removed'
        |       WHEN p.fp <> c.fp THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  coalesce(p.fp, '') AS fp_prev,
        |  coalesce(c.fp, '') AS fp_cur
        |FROM p FULL OUTER JOIN c ON p.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin,

    // replay of the changelog construction and the latest-wins fold:
    // per-id max seq (seqs are unique per id by construction), delete
    // tombstones, upsert payloads, untouched pass-through, new ids
    "corpus_apply_changelog" ->
      """WITH ch AS (
        |  SELECT doc_id, 1 AS seq, 'delete' AS op, lang, n_chars
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'upsert', lang, n_chars + 3
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT 100000 + doc_id, 1, 'upsert', 'xx', doc_id
        |  FROM documents WHERE doc_id % 10 = 0),
        |last AS (
        |  SELECT doc_id, op, lang, n_chars FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY seq DESC) AS rn FROM ch) q WHERE rn = 1),
        |untouched AS (
        |  SELECT d.doc_id, d.lang, d.n_chars FROM documents d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM ch))
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM (SELECT * FROM untouched
        |      UNION ALL
        |      SELECT doc_id, lang, n_chars FROM last WHERE op = 'upsert') f
        |ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $shingleSql,
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $MAX_DF),
         |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
         |sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, shared,
         |  CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE) AS jaccard
         |FROM pairs JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_containment" ->
      s"""WITH $shingleSql,
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $MAX_DF),
         |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
         |sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sc AS (SELECT id_a, id_b, shared,
         |    CAST(shared AS DOUBLE) / CAST(sa.n AS DOUBLE) AS cont_a,
         |    CAST(shared AS DOUBLE) / CAST(sb.n AS DOUBLE) AS cont_b,
         |    CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE)
         |      AS jac
         |  FROM pairs JOIN sz sa ON sa.doc_id = id_a
         |    JOIN sz sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b, shared, cont_a, cont_b,
         |  (greatest(cont_a, cont_b) >= 0.8 AND jac <= 0.5) AS asym
         |FROM sc WHERE greatest(cont_a, cont_b) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_simhash" ->
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, unnest($tokSql) AS t FROM documents),
         |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS th FROM tok),
         |sums AS (SELECT doc_id, $simhashSumsSql FROM h GROUP BY doc_id)
         |SELECT doc_id, $simhashAsmSql AS simhash FROM sums
         |ORDER BY doc_id""".stripMargin,
    "dedup_simhash_hamming" ->
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, unnest($tokSql) AS t FROM documents),
         |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS th FROM tok),
         |sums AS (SELECT doc_id, $simhashSumsSql FROM h GROUP BY doc_id),
         |fps AS (SELECT doc_id, $simhashAsmSql AS fp FROM sums),
         |bands AS (SELECT doc_id, fp, g.b AS band_idx,
         |    (fp >> (g.b * 15)) & 32767 AS band_val
         |  FROM fps, (SELECT unnest(generate_series(0, 3)) AS b) g),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    bit_count(xor(a.fp, b.fp)) AS hamming
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |      AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
         |FROM cand WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,
    "embed_simhash_lsh" ->
      s"""WITH planes AS (
         |  SELECT i.i, j.j,
         |    CASE WHEN ('0x' || substr(md5('rp:' || i.i || ':' || j.j), 1, 2))::INT % 2 = 1
         |         THEN 1 ELSE -1 END AS s
         |  FROM (SELECT unnest(generate_series(0, ${SIMHASH_BITS - 1})) AS i) i,
         |       (SELECT unnest(generate_series(0, 63)) AS j) j),
         |qv AS (SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |proj AS (SELECT v.vec_id, p.i, sum(v.q[p.j + 1] * p.s) AS sm
         |  FROM qv v JOIN planes p ON TRUE GROUP BY 1, 2),
         |fp AS (SELECT vec_id,
         |    sum(CASE WHEN sm > 0 THEN (1::BIGINT << i) ELSE 0 END) AS h
         |  FROM proj GROUP BY vec_id),
         |bands AS (SELECT vec_id, h, g.b, (h >> (g.b * 15)) & 32767 AS bv
         |  FROM fp, (SELECT unnest(generate_series(0, 3)) AS b) g),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |    bit_count(xor(a.h, b.h)) AS hamming
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.bv = b.bv AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
         |FROM cand WHERE hamming <= $EMBED_MAX_HAMMING
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_decontam_semantic" ->
      s"""WITH t AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 50),
         |ev AS (SELECT vec_id AS eid, embedding AS ee FROM embeddings WHERE vec_id < 50),
         |p AS (
         |  SELECT t.vec_id, ev.eid,
         |    floor((sum(CAST(t.embedding[i] AS DOUBLE) * CAST(ev.ee[i] AS DOUBLE))
         |      / (sqrt(sum(CAST(t.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)))
         |         * sqrt(sum(CAST(ev.ee[i] AS DOUBLE) * CAST(ev.ee[i] AS DOUBLE)))))
         |      * 10000 + 0.5) / 10000.0 AS cos
         |  FROM t CROSS JOIN ev
         |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
         |  GROUP BY t.vec_id, ev.eid)
         |SELECT vec_id, max(cos) AS max_eval_cos,
         |  (max(cos) >= $MIN_COS) AS contaminated
         |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // kmeans replay (same salt/k/iters as embed_kmeans_assign) + the
    // assigned distance from d1 + integer-division cluster means
    "embed_outliers" ->
      s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
         |$kmeansReplaySql,
         |ad AS (SELECT a1.id, a1.cid, d1.d AS dist
         |  FROM a1 JOIN d1 ON d1.id = a1.id AND d1.cid = a1.cid),
         |st AS (SELECT cid, sum(dist) // count(*) AS mean_d
         |  FROM ad GROUP BY cid)
         |SELECT ad.id AS vec_id, CAST(ad.cid AS BIGINT) AS cid,
         |  CAST(ad.dist AS BIGINT) AS dist,
         |  CAST(st.mean_d AS BIGINT) AS mean_d,
         |  (ad.dist * 10 > st.mean_d * 25) AS outlier
         |FROM ad JOIN st USING (cid) ORDER BY vec_id""".stripMargin,

    "dedup_semdedup" ->
      s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
         |ke AS (SELECT vec_id AS id,
         |        list_transform(embedding,
         |          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv,
         |        ('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |      FROM embeddings),
         |sd AS (SELECT qv, rn - 1 AS cid FROM (
         |        SELECT qv, row_number() OVER (ORDER BY h, id) AS rn FROM ke)
         |      WHERE rn <= 4),
         |d0 AS (SELECT ke.id, sd.cid,
         |         sum((ke.qv[i] - sd.qv[i]) * (ke.qv[i] - sd.qv[i])) AS d
         |       FROM ke CROSS JOIN sd CROSS JOIN dims GROUP BY ke.id, sd.cid),
         |a0 AS (SELECT id, cid FROM (
         |         SELECT id, cid, row_number() OVER (PARTITION BY id
         |           ORDER BY d, cid) AS rnk FROM d0)
         |       WHERE rnk = 1),
         |c1 AS (SELECT a0.cid, d.i, CAST(floor(avg(ke.qv[d.i]) + 0.5) AS BIGINT) AS cx
         |       FROM ke JOIN a0 ON ke.id = a0.id CROSS JOIN dims d
         |       GROUP BY a0.cid, d.i),
         |cf AS (SELECT sd.cid, d.i, coalesce(c1.cx, sd.qv[d.i]) AS cx
         |       FROM sd CROSS JOIN dims d
         |       LEFT JOIN c1 ON c1.cid = sd.cid AND c1.i = d.i),
         |d1 AS (SELECT ke.id, c.cid,
         |         sum((ke.qv[c.i] - c.cx) * (ke.qv[c.i] - c.cx)) AS d
         |       FROM ke CROSS JOIN cf c GROUP BY ke.id, c.cid),
         |a1 AS MATERIALIZED (SELECT id, cid FROM (
         |         SELECT id, cid, row_number() OVER (PARTITION BY id
         |           ORDER BY d, cid) AS rnk FROM d1)
         |       WHERE rnk = 1),
         |pp AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dp,
         |    sqrt(sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))) AS na,
         |    sqrt(sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) AS nb
         |  FROM embeddings a JOIN a1 ca ON ca.id = a.vec_id
         |  JOIN embeddings b JOIN a1 cb ON cb.id = b.vec_id
         |    ON ca.cid = cb.cid AND a.vec_id < b.vec_id
         |  CROSS JOIN dims
         |  GROUP BY 1, 2),
         |cand AS MATERIALIZED (
         |  SELECT id_a, id_b FROM pp
         |  WHERE floor((dp / (na * nb)) * 10000 + 0.5) / 10000.0 >= $MIN_COS),
         |$ccUnrollSql
         |SELECT id AS vec_id, lbl AS component, (lbl = id) AS kept
         |FROM l$CC_ROUNDS ORDER BY vec_id""".stripMargin,

    "dedup_embed_cosine" ->
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dp,
        |    sqrt(sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))) AS na,
        |    sqrt(sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) AS nb
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, floor((dp / (na * nb)) * 10000 + 0.5) / 10000.0 AS cos
        |FROM p WHERE floor((dp / (na * nb)) * 10000 + 0.5) / 10000.0 >= 0.35
        |ORDER BY id_a, id_b""".stripMargin,
    "m6_minibatch_gradient" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |cls AS (SELECT unnest(generate_series(0, 7)) AS k),
        |dims AS (SELECT unnest(generate_series(0, 63)) AS j),
        |t AS (
        |  SELECT e.vec_id, e.label, c.k,
        |         CASE WHEN e.label = c.k THEN 1.0 ELSE 0.0 END AS yk
        |  FROM e CROSS JOIN cls c
        |  WHERE (e.vec_id + c.k) % 11 <> 0),
        |z AS (
        |  SELECT t.vec_id, t.k, t.yk,
        |         ((t.k % 5) - 2) / 10.0 +
        |         sum((((t.k * 64 + d.j) % 7) - 3) / 10.0
        |             * CAST(e.embedding[d.j + 1] AS DOUBLE)) AS z
        |  FROM t JOIN e ON e.vec_id = t.vec_id CROSS JOIN dims d
        |  GROUP BY t.vec_id, t.k, t.yk),
        |g AS (
        |  SELECT ${graft.vesc.HeadTrainer.batchIdSql("vec_id", 0, 4)} AS batch_id,
        |         vec_id, k, yk,
        |         1 / (1 + exp(-z)) - yk AS gk,
        |         greatest(z, 0) - z * yk + ln(1 + exp(-abs(z))) AS le
        |  FROM z),
        |gb AS (SELECT batch_id, k, sum(gk) AS gbk FROM g GROUP BY 1, 2),
        |gw AS (
        |  SELECT g.batch_id, g.k, d.j,
        |         sum(g.gk * CAST(e.embedding[d.j + 1] AS DOUBLE)) AS gwkj
        |  FROM g JOIN e ON e.vec_id = g.vec_id CROSS JOIN dims d
        |  GROUP BY 1, 2, 3),
        |agg AS (
        |  SELECT batch_id, CAST(count(*) AS BIGINT) AS labeled,
        |         floor(sum(le) * 1e4 + 0.5) / 1e4 AS loss
        |  FROM g GROUP BY 1),
        |nb AS (SELECT batch_id, floor(sqrt(sum(gbk * gbk)) * 1e4 + 0.5) / 1e4
        |         AS grad_b_norm FROM gb GROUP BY 1),
        |nw AS (SELECT batch_id, floor(sqrt(sum(gwkj * gwkj)) * 1e4 + 0.5) / 1e4
        |         AS grad_w_norm FROM gw GROUP BY 1)
        |SELECT a.batch_id, a.labeled, a.loss, nb.grad_b_norm, nw.grad_w_norm
        |FROM agg a JOIN nb USING (batch_id) JOIN nw USING (batch_id)
        |ORDER BY a.batch_id""".stripMargin,
    "text_tokens_regex" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_pieces,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_bpe" -> {
      val bpe = graft.ops.TextOps.bpeTokensSql("w")
      s"""WITH t AS (SELECT doc_id,
         |    flatten(list_transform(
         |      regexp_extract_all(lower(text), '[a-z0-9]+'), w -> $bpe)) AS toks,
         |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS nw
         |  FROM documents)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
         |  CAST(nw AS BIGINT) AS n_words,
         |  array_to_string(toks[1:8], '|') AS head_tokens
         |FROM t ORDER BY doc_id""".stripMargin
    },
    "text_bpe_fertility" -> {
      val bpe = graft.ops.TextOps.bpeTokensSql("w")
      s"""WITH t AS (SELECT lang,
         |    len(flatten(list_transform(
         |      regexp_extract_all(lower(text), '[a-z0-9]+'), w -> $bpe))) AS nt,
         |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS nw,
         |    length(text) AS nc
         |  FROM documents)
         |SELECT lang, CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(sum(nw) AS BIGINT) AS n_words,
         |  floor(CAST(sum(nt) AS DOUBLE) / sum(nw) * 1e4 + 0.5) / 1e4
         |    AS tokens_per_word,
         |  floor(CAST(sum(nt) AS DOUBLE) * 1000 / sum(nc) * 1e4 + 0.5) / 1e4
         |    AS tokens_per_kchar
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin
    },
    "text_bpe_train" -> bpeTrainOracleSql,
    "text_wordpiece_train" -> wpTrainOracleSql(64),
    "text_wordpiece_e2e" -> wpE2eOracleSql,
    "text_unigram_train" -> unigramOracleSql,
    "text_unigram_e2e" -> unigramE2eOracleSql,
    "text_bpe_train_bytes" -> bpeTrainBytesOracleSql,
    "text_bpe_bytes_e2e" -> bpeBytesE2eOracleSql,
    "text_bpe_pack_e2e" -> bpePackE2eOracleSql,
    "text_bpe_decode" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextOps.BytePretokenRegex}')) AS BIGINT)
         |    AS n_words,
         |  array_to_string(regexp_extract_all(text, '${TextOps.BytePretokenRegex}'),
         |    '') AS rejoined
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_bpe_e2e" -> bpeE2eOracleSql,
    "text_tokens" ->
      s"""SELECT doc_id, len($tokSql) AS n_tokens,
         |  len(list_distinct($tokSql)) AS n_distinct,
         |  length(text) AS n_chars_measured
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH t AS (SELECT doc_id,
         |    len(list_filter($tokSql, x -> x IN ('the','a','of','and'))) AS stops,
         |    len($tokSql) AS n_tokens
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(stops AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
         |  CAST(stops AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.5 +
         |    CAST(least(n_tokens, 100) AS DOUBLE) / 100.0 * 0.5 AS quality
         |FROM t ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""WITH t AS (SELECT doc_id,
         |    len(list_filter($tokSql, x -> x IN ('the','a','of','and'))) AS en_hits,
         |    len(list_filter($tokSql, x -> x IN ('el','la','de','y'))) AS es_hits,
         |    len(list_filter($tokSql, x -> x IN ('de','shi','le','zai'))) AS zh_hits
         |  FROM documents)
         |SELECT doc_id, en_hits, es_hits, zh_hits,
         |  CASE WHEN en_hits >= es_hits AND en_hits >= zh_hits THEN 'en'
         |       WHEN es_hits >= zh_hits THEN 'es'
         |       ELSE 'zh' END AS lang_pred
         |FROM t ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "embed_cosine_topk" -> cosineTopkSql(5, "TRUE"),
    "embed_ann_ivf" -> cosineTopkSql(3, "c.label = q.qlabel"),
    "bitext_mine" ->
      """WITH bx_s AS (SELECT vec_id AS src_id, label, embedding AS xv
        |  FROM embeddings WHERE vec_id % 2 = 0),
        |bx_t AS (SELECT vec_id AS tgt_id, label, embedding AS yv
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |bx_p AS (SELECT s.src_id, t.tgt_id,
        |    sum(CAST(s.xv[i] AS DOUBLE) * CAST(t.yv[i] AS DOUBLE)) AS dp,
        |    sqrt(sum(CAST(s.xv[i] AS DOUBLE) * CAST(s.xv[i] AS DOUBLE)))
        |      AS xn,
        |    sqrt(sum(CAST(t.yv[i] AS DOUBLE) * CAST(t.yv[i] AS DOUBLE)))
        |      AS yn
        |  FROM bx_s s JOIN bx_t t ON s.label = t.label
        |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
        |  GROUP BY s.src_id, t.tgt_id),
        |bx_c AS MATERIALIZED (SELECT src_id, tgt_id,
        |    CAST(floor((dp / (xn * yn)) * 10000 + 0.5) AS BIGINT) AS cos_e4
        |  FROM bx_p),
        |bx_nx AS (SELECT src_id, CAST(sum(cos_e4) AS BIGINT) AS nx FROM (
        |    SELECT src_id, cos_e4, row_number() OVER (PARTITION BY src_id
        |      ORDER BY cos_e4 DESC, tgt_id ASC) AS rn FROM bx_c) q
        |  WHERE rn <= 4 GROUP BY src_id),
        |bx_ny AS (SELECT tgt_id, CAST(sum(cos_e4) AS BIGINT) AS ny FROM (
        |    SELECT tgt_id, cos_e4, row_number() OVER (PARTITION BY tgt_id
        |      ORDER BY cos_e4 DESC, src_id ASC) AS rn FROM bx_c) q
        |  WHERE rn <= 4 GROUP BY tgt_id),
        |bx_m AS (SELECT c.src_id, c.tgt_id, c.cos_e4,
        |    greatest(c.cos_e4, 0) * 8 * 10000 // (nx.nx + ny.ny) AS margin_e4
        |  FROM bx_c c JOIN bx_nx nx USING (src_id)
        |    JOIN bx_ny ny USING (tgt_id)
        |  WHERE nx.nx + ny.ny > 0),
        |bx_f AS (SELECT src_id, tgt_id, cos_e4, margin_e4,
        |    row_number() OVER (PARTITION BY src_id
        |      ORDER BY margin_e4 DESC, tgt_id ASC) AS rn
        |  FROM bx_m)
        |SELECT src_id, tgt_id, cos_e4, CAST(margin_e4 AS BIGINT) AS margin_e4
        |FROM bx_f WHERE rn = 1 AND margin_e4 >= 10100
        |ORDER BY src_id""".stripMargin,
    "retrieval_maxsim" ->
      """WITH mvq AS (SELECT vec_id AS query_id, label AS qlabel, t,
        |    list_transform(range(0, 64), i ->
        |      CAST(floor(CAST(embedding[((i + t) % 64) + 1] AS DOUBLE)
        |        * 1000 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings, (SELECT unnest(range(0, 4)) AS t) g
        |  WHERE vec_id < 10),
        |mvd AS (SELECT vec_id AS neighbor_id, label AS dlabel, s,
        |    list_transform(range(0, 64), i ->
        |      CAST(floor(CAST(embedding[((i + s) % 64) + 1] AS DOUBLE)
        |        * 1000 + 0.5) AS BIGINT)) AS dv
        |  FROM embeddings, (SELECT unnest(range(0, 4)) AS s) h
        |  WHERE vec_id >= 10),
        |mvp AS (SELECT q.query_id, d.neighbor_id, q.t,
        |    max(list_aggregate(list_transform(range(1, 65),
        |      j -> q.qv[j] * d.dv[j]), 'sum')) AS mx
        |  FROM mvq q JOIN mvd d ON d.dlabel = q.qlabel
        |  GROUP BY q.query_id, d.neighbor_id, q.t),
        |mvs AS (SELECT query_id, neighbor_id, CAST(sum(mx) AS DOUBLE) AS score
        |  FROM mvp GROUP BY query_id, neighbor_id),
        |mvt AS (SELECT query_id, neighbor_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id ASC) AS rank
        |  FROM mvs)
        |SELECT query_id, rank, neighbor_id, score FROM mvt WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,
    "embed_ann_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |    FROM embeddings WHERE vec_id < 10
         |    AND ('0x' || substr(md5('annq:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
         |        % 100 < 60),
         |c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 10),
         |dims AS (SELECT unnest(generate_series(1, 64)) AS i),
         |qn AS (SELECT query_id,
         |    sqrt(sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) AS nqv
         |  FROM q CROSS JOIN dims GROUP BY query_id),
         |np AS (SELECT unnest([1, 2, 4]) AS nprobe),
         |cl AS (SELECT vec_id, embedding, CAST(label AS BIGINT) AS cluster FROM c),
         |$kmeansReplaySql,
         |ct AS (SELECT c.vec_id, c.embedding, CAST(a1.cid AS BIGINT) AS cluster
         |  FROM c JOIN a1 ON a1.id = c.vec_id),
         |${annCurveSql("l", "cl")},
         |${annCurveSql("t", "ct")},
         |ep AS (
         |  SELECT q.query_id, c.vec_id,
         |    sum(CAST(qv[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) AS dp,
         |    sqrt(sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) AS qn2,
         |    sqrt(sum(CAST(embedding[i] AS DOUBLE)
         |             * CAST(embedding[i] AS DOUBLE))) AS cn2
         |  FROM q CROSS JOIN c CROSS JOIN dims
         |  GROUP BY q.query_id, c.vec_id),
         |et AS (
         |  SELECT query_id, vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY
         |      floor((dp / (qn2 * cn2)) * 10000 + 0.5) / 10000.0 DESC,
         |      vec_id ASC) AS rank
         |  FROM ep),
         |e AS (SELECT query_id, neighbor_id FROM et WHERE rank <= 3)
         |SELECT query_id, codebook, nprobe, hits, recall FROM (
         |  SELECT e.query_id, 'label' AS codebook,
         |    CAST(n.nprobe AS INTEGER) AS nprobe,
         |    CAST(count(a_l.neighbor_id) AS BIGINT) AS hits,
         |    floor(count(a_l.neighbor_id) / 3.0 * 1e4 + 0.5) / 1e4 AS recall
         |  FROM np n CROSS JOIN e
         |  LEFT JOIN a_l ON a_l.nprobe = n.nprobe AND a_l.query_id = e.query_id
         |    AND a_l.neighbor_id = e.neighbor_id
         |  GROUP BY e.query_id, n.nprobe
         |  UNION ALL
         |  SELECT e.query_id, 'trained' AS codebook,
         |    CAST(n.nprobe AS INTEGER) AS nprobe,
         |    CAST(count(a_t.neighbor_id) AS BIGINT) AS hits,
         |    floor(count(a_t.neighbor_id) / 3.0 * 1e4 + 0.5) / 1e4 AS recall
         |  FROM np n CROSS JOIN e
         |  LEFT JOIN a_t ON a_t.nprobe = n.nprobe AND a_t.query_id = e.query_id
         |    AND a_t.neighbor_id = e.neighbor_id
         |  GROUP BY e.query_id, n.nprobe)
         |ORDER BY query_id, codebook, nprobe""".stripMargin,
    "embed_norms" ->
      """WITH n AS (SELECT label,
        |    sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS nrm
        |  FROM embeddings
        |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
        |  GROUP BY label, vec_id)
        |SELECT label, floor(avg(nrm) * 10000 + 0.5) / 10000.0 AS mean_norm,
        |  count(*) AS n
        |FROM n GROUP BY label ORDER BY label""".stripMargin
  )
}
