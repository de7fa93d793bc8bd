package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact, MinHash+LSH,
  * SimHash, and n-gram-Jaccard near-dup detection.
  *
  * Scale design: exact dedup is one hash-aggregate on the dedup key (never a
  * window over the whole corpus). Near-dup detection never does an O(n²)
  * cross join — candidate generation goes through an equi-join on a blocking
  * key (LSH band or shared shingle), which Spark executes as a shuffled hash
  * join keyed on the band/shingle; skewed blocks are handled by AQE skew
  * splitting.
  */
object DedupOps {

  /** Conf key: when set to a writable directory, corpus-sized dedup
    * intermediates (MinHash band tables, df-capped shingle tables) are
    * CHECKPOINTED as parquet under it instead of cached executor-side.
    */
  val IntermediateDirKey = "spark.graft.intermediate.dir"

  /** Materialize a corpus-sized intermediate that multiple downstream
    * branches consume (both sides of a self-join, sizes + join, …).
    *
    * Local default: an EAGER `localCheckpoint` (MEMORY_AND_DISK blocks,
    * lineage cut). Eager matters: the r18 lazy persist left the cache to
    * be built by whichever downstream branch ran first, and a scorer
    * fanning a dozen broadcast-table jobs over one lazily-persisted
    * frame serialized those concurrent stages behind the cache-build
    * partition locks (the driver-measured 6.6× regression on
    * text_ppl_buckets_kn5 at 32 cores). Building the blocks in ONE job
    * up front makes every branch a plain read. Cutting lineage also
    * keeps the fan-out plans bounded (the kn5 plan carried the tokenize
    * subtree once per branch), and — unlike a catalog-level persist —
    * leaves no `spark.catalog` cache entry behind: the RDD blocks are
    * reclaimed by the ContextCleaner when the frame goes out of scope,
    * so long-lived sessions composing many queries don't accumulate
    * pinned tables (the r18 ADVICE unpersist item).
    *
    * Still a SINGLE-BOX posture at 100 TB, where caching a
    * corpus-token-sized table pins the cluster's block managers. With
    * [[IntermediateDirKey]] set, the table is written to
    * `<dir>/<name>-<uuid>` and read back: lineage is cut, executors hold
    * nothing, re-reads are parquet scans (column-pruned and
    * splittable), and the files double as a restart point. Same contract
    * either way: the returned frame is evaluated once and cheap to
    * consume repeatedly.
    */
  private[graft] def materialize(df: DataFrame, name: String): DataFrame =
    df.sparkSession.conf.getOption(IntermediateDirKey) match {
      case Some(dir) =>
        val path = s"${dir.stripSuffix("/")}/$name-${java.util.UUID.randomUUID()}"
        df.write.parquet(path)
        df.sparkSession.read.parquet(path)
      case None =>
        df.localCheckpoint(true)
    }

  /** Exact dedup groups: canonical id = min(id) per identical `key`. */
  def exactGroups(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))

  /** Per-document MinHash signature: `numHashes` independent permutations
    * simulated by salted md5; the signature element is the lexicographic min
    * of the salted digests over the document's distinct shingles. One
    * hash-aggregate pass computes all `numHashes` mins.
    */
  /** doc → exploded distinct shingle rows (id, __sh) — tokens materialized
    * first so the regex split runs once per document.
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
                  shingleN: Int): DataFrame =
    df.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(array_distinct(TextOps.shinglesOf(col("__toks"), shingleN))).as("__sh"))

  /** Per-ROW MinHash signature as one scan-side expression — identical
    * values to [[minhashSignature]] (same salted-md5 family, same
    * lexicographic min over distinct shingles) but computed per row with
    * no explode and no aggregate, so it needs NO shuffle and NO stateful
    * aggregation. That is exactly what a STREAMING near-dup path
    * requires (append-mode streams allow one stateful op per query — the
    * signature must not consume it) and it doubles as the cheaper batch
    * formulation when the signature feeds a per-row projection rather
    * than a band join. Null when the document has fewer than `shingleN`
    * tokens (no shingles → no signature), same as the aggregate form
    * emitting no row.
    *
    * Backed by the native [[graft.functions.MinHashSig]] expression —
    * the first cut used `transform`/`array_min` higher-order functions,
    * which are CodegenFallback (fully interpreted) and re-built the
    * shingle array once per hash: 15.6 s at sf0.1 vs 1.0 s native.
    */
  def minhashSignatureRow(textCol: Column, shingleN: Int,
                          numHashes: Int): Column = {
    call_function("graft_minhash_sig", TextOps.tokens(textCol),
      lit(shingleN), lit(numHashes))
  }

  /** LSH band keys of a per-row signature: array of `bands` structs
    * (band_idx, band_key) with `numHashes / bands` signature elements
    * joined per key — the same banding as [[minhashCandidates]], row-wise.
    * Empty array (not null) when the signature is null, so `explode`
    * simply drops shingle-less documents.
    */
  def minhashBandsRow(textCol: Column, shingleN: Int, numHashes: Int,
                      bands: Int): Column = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    val rowsPerBand = numHashes / bands
    val sig = minhashSignatureRow(textCol, shingleN, numHashes)
    val bandOf = (s: Column) => when(s.isNotNull,
      transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.cast("int").as("band_idx"),
          concat_ws("|", (0 until rowsPerBand).map(r =>
            element_at(s, b * rowsPerBand + r + 1)): _*).as("band_key"))))
    coalesce(element_at(transform(array(sig), bandOf), 1),
      array().cast("array<struct<band_idx:int,band_key:string>>"))
  }

  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, numHashes: Int): DataFrame = {
    val sh = shingleRows(df, idCol, textCol, shingleN)
    val aggs = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("__sh")))).as(s"mh$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Banded self-join with a per-block anti-quadratic cap — the shared
    * engine under every LSH-family candidate generator ([[minhashCandidates]]
    * and the SimHash / embedding-SimHash hamming-band joins).
    *
    * The failure mode it guards: a self-equi-join on a blocking key is
    * quadratic IN EACH BLOCK. m boilerplate-identical documents (empty
    * docs, license headers, templated pages) share every band key, so one
    * block emits m(m−1)/2 pairs — at crawl scale a million-doc clique is
    * O(10¹²) rows from a single key. Uniform benchmarks never trigger it;
    * real corpora always do. Same bug class [[ngramJaccardPairs]]' `maxDf`
    * already guards against, applied to band blocks.
    *
    * The cap: blocks with ≤ `maxBlock` members run the exact all-pairs
    * join (bit-identical output to the uncapped form). Bigger blocks emit
    * the CONSECUTIVE-BY-ID chain plus DOUBLING SKIP-LINKS — each row
    * pairs with the rows 1, 2, 4, …, 2ʲ positions ahead in block order
    * (all via `lead` in ONE window partitioned by the very same block
    * key — no extra shuffle granularity), so an m-row block costs
    * O(m·log m) edges instead of O(m²) and its graph DIAMETER is
    * O(log m) instead of m — star-contraction components over the capped
    * output converge in the same round count as on uniform inputs
    * (the r9 adversarial dedup_semdedup finding: chain-only capping made
    * CC rounds grow with the clique's diameter).
    *
    * Recall argument: chain + skips connect exactly the same vertex set
    * as the clique, so connected components — what every downstream
    * dedup path (groups, anti-join, e2e funnel) computes — are
    * IDENTICAL to the uncapped join's. Only direct pair listing inside
    * oversized blocks is sampled; pair-level verifiers (e.g. a hamming
    * or exact-cosine filter on the payload) still see every emitted
    * edge, and every emitted edge is an edge the clique had too — a
    * skip edge surviving the filter is always a TRUE positive, so
    * capped components stay a refinement-free subset of the uncapped
    * ones even when verification splits blocks.
    *
    * Output: `id_a`, `id_b` (id_a < id_b everywhere; block order is
    * ascending by id), plus `<p>_a`/`<p>_b` for every payload column —
    * NOT distinct'd, callers dedup after their own filters so the
    * shuffle carries verified pairs only.
    */
  def cappedBandPairs(banded: DataFrame, idCol: String,
                      keyCols: Seq[String], payload: Seq[String],
                      maxBlock: Int): DataFrame = {
    def outSmall(small: DataFrame): DataFrame = {
      val sa = small.alias("a"); val sb = small.alias("b")
      sa.join(sb, keyCols.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id_a") +: col(s"b.$idCol").as("id_b") +:
          payload.flatMap(p =>
            Seq(col(s"a.$p").as(s"${p}_a"), col(s"b.$p").as(s"${p}_b"))): _*)
    }
    if (maxBlock == Int.MaxValue) outSmall(banded)
    else {
      val sizes = banded.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__bsz"))
      // same key as the self-join → co-partitioned, no new shuffle shape
      val withSz = banded.join(sizes, keyCols)
      val small = withSz.filter(col("__bsz") <= maxBlock).drop("__bsz")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
      // chain (offset 1) + doubling skip-links (2, 4, …, 2³⁰); leads past
      // the block end are null and filtered — all offsets share one
      // window sort
      val offsets = 1 +: (1 to 30).map(1 << _)
      val withLeads = withSz.filter(col("__bsz") > maxBlock)
        .select((col(idCol).as("id_a") +:
          payload.map(p => col(p).as(s"${p}_a"))) ++
          offsets.zipWithIndex.flatMap { case (o, j) =>
            lead(col(idCol), o).over(w).as(s"__idb_$j") +:
              payload.map(p => lead(col(p), o).over(w).as(s"__pb_${p}_$j"))
          }: _*)
      val chained = withLeads
        .select(col("id_a") +: payload.map(p => col(s"${p}_a")) :+
          explode(array(offsets.indices.map(j =>
            struct(col(s"__idb_$j").as("id_b") +:
              payload.map(p => col(s"__pb_${p}_$j").as(s"${p}_b")): _*)): _*))
            .as("__e"): _*)
        .filter(col("__e.id_b").isNotNull)
        .select(col("id_a") +: col("__e.id_b").as("id_b") +:
          payload.flatMap(p =>
            Seq(col(s"${p}_a"), col(s"__e.${p}_b").as(s"${p}_b"))): _*)
      outSmall(small).unionByName(chained)
    }
  }

  /** LSH candidate pairs: signatures are cut into `bands` bands of
    * `numHashes / bands` rows; documents sharing any band key become a
    * candidate pair (id_a < id_b, distinct). The band table is
    * (docs × bands) rows; the self-equi-join on (band_idx, band_key) is the
    * only shuffle and touches only same-bucket documents.
    *
    * `maxBandBlock` caps each band block's contribution via
    * [[cappedBandPairs]] — finite BY DEFAULT (1000, mirroring
    * [[ngramJaccardPairs]]' `maxDf`: a df-1000 block still allows ~500k
    * pairs) so m identical documents cost O(m) edges, not O(m²); the
    * quadratic behavior is opt-in via `maxBandBlock = Int.MaxValue`.
    * Downstream connected components are unaffected by the cap (chain
    * edges span exactly the block's clique).
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numHashes: Int = 8,
                        bands: Int = 4, maxBandBlock: Int = 1000): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sig = minhashSignature(df, idCol, textCol, shingleN, numHashes)
    val bandKey = (b: Int) => concat_ws("|",
      (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
    // materialized: both sides of the self-join consume it — without this
    // the full shingle+hash pipeline runs twice. In-memory persist
    // locally; a parquet checkpoint table when IntermediateDirKey is set
    val bandTable = materialize(sig.select(col(idCol),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band_idx"), bandKey(b).as("band_key"))): _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_key")),
      "minhash-bands")
    cappedBandPairs(bandTable, idCol, Seq("band_idx", "band_key"),
        payload = Nil, maxBlock = maxBandBlock)
      .distinct()
  }

  /** n-gram Jaccard similarity for every pair of documents sharing at least
    * one shingle: |A∩B| via a shingle-keyed self-join, |A|/|B| via a
    * broadcast-able per-doc size table; jaccard = shared/(|A|+|B|−shared).
    *
    * `maxDf` caps shingle document frequency BEFORE the self-join: a shingle
    * appearing in df documents produces O(df²) candidate pairs, so one hot
    * shingle ("the of the") makes its block quadratic at corpus scale.
    * Dropping high-df shingles is the standard fix — they carry no
    * near-duplicate signal at any useful Jaccard cutoff. Sizes (and hence
    * the Jaccard denominator) are computed over the same df-capped shingle
    * space so the similarity stays a true Jaccard of the retained sets.
    * The cap is finite BY DEFAULT (1000 — generous for near-dup use; a
    * df-1000 shingle still allows ~500k pairs from one block) so the
    * quadratic behavior is opt-in via `maxDf = Int.MaxValue`, never an
    * accident of omitting a parameter.
    */
  /** The df-capped shingle rows [[ngramJaccardPairs]] materializes —
    * package-private so the plan audit can assert the `__df` cap on the
    * UN-materialized frame (the eager checkpoint in the query path cuts
    * lineage, so the final plan only shows the checkpointed scan).
    */
  private[graft] def cappedShingleRows(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, maxDf: Int): DataFrame = {
    val shAll = shingleRows(df, idCol, textCol, shingleN)
    if (maxDf == Int.MaxValue) shAll
    else {
      val rare = shAll.groupBy(col("__sh"))
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf)
        .select(col("__sh"))
      shAll.join(rare, "__sh")
    }
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, maxDf: Int = 1000): DataFrame = {
    val sh = materialize(cappedShingleRows(df, idCol, textCol, shingleN, maxDf),
      "jaccard-shingles")
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
    val a = sh.alias("a")
    val b = sh.alias("b")
    val shared = a.join(b, col("a.__sh") === col("b.__sh") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed(idCol, "id_a").withColumnRenamed("__sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed(idCol, "id_b").withColumnRenamed("__sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("sz_a") + col("sz_b") - col("shared")).cast("double"))
  }

  /** ASYMMETRIC near-dup: Broder containment C(A→B) = |S(A)∩S(B)| / |S(A)|.
    * Symmetric Jaccard structurally misses a short document wholly
    * embedded in a long one (quoted articles, boilerplate-wrapped
    * copies, licence pages stapled to payloads) — the intersection is
    * all of A but a sliver of A∪B. Containment is exactly that signal:
    * ≈1 in the A→B direction while Jaccard stays small. Derived from
    * the SAME df-capped shingle equi-join as [[ngramJaccardPairs]]
    * (shared counts + per-doc shingle sizes), so the anti-quadratic
    * guard and the scale shape carry over unchanged — only the
    * denominators differ.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, maxDf: Int = 1000): DataFrame =
    ngramJaccardPairs(df, idCol, textCol, shingleN, maxDf)
      .withColumn("cont_a",
        col("shared").cast("double") / col("sz_a").cast("double"))
      .withColumn("cont_b",
        col("shared").cast("double") / col("sz_b").cast("double"))

  /** Verbatim-overlap detection (the ExactSubstr dedup signal: near-dup
    * metrics like Jaccard miss a long copied PASSAGE inside otherwise
    * different documents — the thing training-data pipelines must catch
    * for memorization and license hygiene). For every document pair, the
    * longest run of consecutive identical tokens, found WITHOUT suffix
    * arrays: positioned `shingleN`-token shingles equi-join on content
    * (df-capped, the same anti-quadratic guard as
    * [[ngramJaccardPairs]]), matches land on alignment DIAGONALS
    * (pos_a − pos_b); within one (pair, diagonal) partition a run of c
    * consecutive matching shingle positions is a verbatim run of
    * c + shingleN − 1 tokens, extracted with the classic
    * pos − row_number() island trick. Pairs below `minRunTokens` are
    * dropped.
    *
    * Scale shape: the only corpus-sized shuffle is the shingle
    * equi-join; diagonal islands are window work over (pair, diag)
    * partitions — thousands of tiny partitions, no global sort. A
    * longer `shingleN` (default 8) makes the blocking key more
    * selective, the exact trade a 100 TB run tunes.
    */
  def substringRuns(df: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 8, maxDf: Int = 1000,
                    minRunTokens: Int = 16): DataFrame = {
    require(minRunTokens >= shingleN,
      s"minRunTokens ($minRunTokens) below shingleN ($shingleN) is unmeasurable")
    runIslands(df, idCol, textCol, shingleN, maxDf)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("run_tokens")).cast("long").as("max_run_tokens"))
      .filter(col("max_run_tokens") >= minRunTokens)
  }

  /** Verbatim-run ISLANDS per (pair, diagonal): one row per maximal run
    * of consecutive matching shingle positions, with the run's start in
    * both documents. Shared by [[substringRuns]] (pair-level max) and
    * [[removeSubstringRuns]] (span cut). Columns: id_a < id_b, diag,
    * `__amin` (run start in a, 0-based token pos), `run_tokens`.
    */
  private def runIslands(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int, maxDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val positioned = df
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        posexplode(TextOps.shinglesOf(col("__toks"), shingleN))
          .as(Seq("__pos", "__sh")))
    val rare = positioned.groupBy(col("__sh"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("__sh"))
    // corpus-token-sized when uncapped — exactly the table the
    // IntermediateDirKey checkpoint path exists for
    val capped = materialize(positioned.join(rare, "__sh"), "substr-shingles")
    val a = capped.alias("a")
    val b = capped.alias("b")
    val matches = a.join(b, col("a.__sh") === col("b.__sh") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.__pos").as("pos_a"),
        (col("a.__pos") - col("b.__pos")).as("diag"))
      .distinct() // a shingle repeated in one doc can duplicate a (pos_a, diag) cell
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pos_a"))
    matches
      .withColumn("__grp", col("pos_a") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("__grp"))
      .agg(min(col("pos_a")).as("__amin"), count(lit(1)).as("__c"))
      .withColumn("run_tokens", col("__c") + lit(shingleN - 1))
      .drop("__c", "__grp")
  }

  /** ExactSubstr span REMOVAL (Lee et al. 2022 §4: all but one copy of
    * every duplicated ≥k-token span is CUT from the corpus, keeping the
    * rest of each document — doc-level and line-level dedup both miss a
    * boilerplate passage inside an otherwise-unique page). Keep-first
    * like [[lineDedup]]: for every verbatim run of at least
    * `minRunTokens` tokens shared by a pair, the LATER document
    * (id_b side, so the min-id copy always survives intact) loses the
    * run's token span; a document is then reassembled from its
    * surviving tokens in order.
    *
    * Overlapping spans need no interval-merge pass: each qualifying run
    * explodes to its covered token POSITIONS and a map-side-partial
    * `distinct` forms the union — the df-cap (`maxDf`) already bounds
    * how many earlier docs can stamp the same span, and position rows
    * are bounded by corpus tokens.
    *
    * Scale shape on top of [[runIslands]]' one shingle equi-join: one
    * distinct keyed by (doc, pos), one anti-join at the same grain, one
    * per-doc reassembly agg — no global sort, no corpus-sized window.
    *
    * Output: every input document as (idCol, n_tokens, n_removed,
    * text_kept) — `text_kept` empty when every token was cut.
    */
  def removeSubstringRuns(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 8, maxDf: Int = 1000,
                          minRunTokens: Int = 16): DataFrame = {
    require(minRunTokens >= shingleN,
      s"minRunTokens ($minRunTokens) below shingleN ($shingleN) is unmeasurable")
    val removed = runIslands(df, idCol, textCol, shingleN, maxDf)
      .filter(col("run_tokens") >= minRunTokens)
      .select(col("id_b").as(idCol),
        explode(sequence(col("__amin") - col("diag"),
          col("__amin") - col("diag") + col("run_tokens") - 1)).as("__pos"))
      .distinct()
    val tokRows = df.select(col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val kept = tokRows.join(removed, Seq(idCol, "__pos"), "left_anti")
    val survived = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          s => s.getField("__tok")), " ").as("text_kept"))
    df.select(col(idCol),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(survived, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L)))
          .cast("long").as("n_removed"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** Connected components over near-dup PAIRS — the step that turns
    * pairwise matches into canonical dedup GROUPS (keep min-id per
    * component, drop the rest). Min-label propagation: each round every
    * vertex takes the min of its own label and its neighbours' (one
    * shuffled join + one aggregate per round), converging in
    * graph-diameter rounds. Near-dup graphs are unions of small cliques —
    * diameter is tiny — so most inputs converge inside the first
    * `checkEvery`-round batch; the result the SQL oracle unrolls.
    *
    * CONVERGENCE IS CHECKED, not assumed: after each batch of `checkEvery`
    * rounds the round's change count (one `count()` on the already
    * materialized next-labels checkpoint) decides whether to continue, up
    * to `maxRounds`. A diameter-20 chain therefore merges fully instead of
    * silently splitting at the fixed-round horizon, and a graph that needs
    * more than `maxRounds` rounds fails loudly rather than returning a
    * wrong answer. The converged fixed point (min id per component) is
    * unique, so extra rounds never change the result — the oracle's
    * fixed-round unrolling stays valid whenever it, too, has converged.
    *
    * Lineage is cut with `localCheckpoint` every other round — iterative
    * plans otherwise double per round and choke analysis. For adversarial
    * diameters (long chains, not clique-like dedup graphs) use
    * [[connectedComponentsStar]] — same output contract, O(log n) rounds.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          checkEvery: Int = 8, maxRounds: Int = 64): DataFrame = {
    require(checkEvery >= 1 && maxRounds >= checkEvery,
      s"need 1 <= checkEvery ($checkEvery) <= maxRounds ($maxRounds)")
    val edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .union(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("lbl", col("id"))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val batchEnd = math.min(round + checkEvery, maxRounds)
      while (round < batchEnd) {
        val nbrMin = edges.join(labels, col("v") === col("id"))
          .groupBy(col("u")).agg(min(col("lbl")).as("__nmin"))
        val updated = labels.join(nbrMin, col("id") === col("u"), "left")
          .select(col("id"), col("lbl").as("__old"),
            least(col("lbl"), coalesce(col("__nmin"), col("lbl"))).as("lbl"))
        round += 1
        if (round == batchEnd) {
          // eager checkpoint materializes once; the change count reads it
          val next = updated.localCheckpoint(true)
          converged = next.filter(col("lbl") < col("__old")).limit(1).isEmpty
          labels = next.select(col("id"), col("lbl"))
        } else {
          labels = updated.select(col("id"), col("lbl"))
          if (round % 2 == 0) labels = labels.localCheckpoint(true)
        }
      }
    }
    // unpersist BEFORE the convergence require: the loud-failure path must
    // not leave the doubled-edge table pinned in the cache for the session
    edges.unpersist()
    require(converged,
      s"connectedComponents did not converge within $maxRounds rounds " +
        "(graph diameter exceeds the bound — raise maxRounds or switch to " +
        "star contraction)")
    labels.select(col("id"), col("lbl").as("component"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the scale path for ADVERSARIAL diameters. Label
    * propagation ([[connectedComponents]]) needs diameter-many rounds; a
    * diameter-10⁶ chain (pathological crawl graphs, linked doc chains)
    * would never finish. Star contraction halves component height every
    * alternation, converging in O(log n) rounds regardless of diameter,
    * with the same per-round shape Spark executes well: one shuffle
    * (groupBy min per center) + one equi-join per star step.
    *
    *  - '''large-star''': every node x links each strictly-larger
    *    neighbor y to m(x) = min(Γ(x) ∪ x) — emitted as edge (y, m).
    *  - '''small-star''': every edge is oriented (hi → lo); each center
    *    hi links its smaller neighbors and itself to the minimum — stars
    *    centered at local minima.
    *
    * Both steps preserve connectivity and only ever link toward smaller
    * ids, so the fixed point is the unique min-id star forest — exactly
    * the labels [[connectedComponents]] converges to (machine-checked in
    * ConnectedComponentsSpec against union-find and against the
    * propagation path). Convergence IS the edge set reaching that fixed
    * point: checked per round on the materialized checkpoint, loud
    * failure past `maxRounds` (which would indicate a bug, not an input
    * property — unlike label propagation there is no diameter bound to
    * outgrow).
    *
    * Output contract matches [[connectedComponents]]: (id, component)
    * for every vertex that appears in `pairs` — including vertices whose
    * only appearance is a self-loop pair (they label themselves). One
    * deliberate difference: ids are cast to long (dedup keys in this
    * engine are numeric); the propagation path works on any orderable
    * id type.
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxRounds: Int = 32): DataFrame = {
    connectedComponentsStarCounted(pairs, aCol, bCol, maxRounds)._1
  }

  /** [[connectedComponentsStar]] plus the number of alternation rounds it
    * took — exposed so tests can assert the O(log n) bound.
    */
  private[graft] def connectedComponentsStarCounted(
      pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 32): (DataFrame, Int) = {
    val ckpt = (df: DataFrame) => df.localCheckpoint(true)
    // Materialize the candidate pairs ONCE: `nodes` and `edges` below each
    // consume this DF, and upstream candidate generators (banded minhash
    // self-joins) are exactly the plans too expensive to execute twice.
    val all = ckpt(pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v")))
    // vertex set BEFORE the self-loop filter: a vertex whose only pair is
    // (x, x) still gets a (x, x) singleton label, like the propagation path
    val nodes = ckpt(
      all.select(col("u").as("id")).union(all.select(col("v").as("id"))).distinct())
    val init = all.filter(col("u") =!= col("v"))
    // canonical orientation (small, large); self-loops already dropped
    var edges = ckpt(init
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct())
    var round = 0
    var converged = edges.isEmpty
    while (!converged && round < maxRounds) {
      // large-star: for each center x, m = min(neighbors ∪ x); every
      // LARGER neighbor y re-links to m. Each input edge contributes
      // exactly one output edge (from its smaller endpoint's star).
      val nbrs = edges.select(col("u").as("x"), col("v").as("y"))
        .union(edges.select(col("v").as("x"), col("u").as("y")))
      val mins = nbrs.groupBy(col("x")).agg(min(col("y")).as("__ny"))
        .select(col("x"), least(col("__ny"), col("x")).as("m"))
      val ls = nbrs.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(least(col("y"), col("m")).as("u"), greatest(col("y"), col("m")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: orient (hi → lo); center hi and all smaller
      // neighbors link to the local minimum.
      val or = ls.select(col("v").as("x"), col("u").as("y")) // y < x by construction
      val mins2 = or.groupBy(col("x")).agg(min(col("y")).as("m"))
      val next = ckpt(
        or.join(mins2, "x").filter(col("y") =!= col("m"))
          .select(col("m").as("u"), col("y").as("v"))
          .union(mins2.select(col("m").as("u"), col("x").as("v")))
          .filter(col("u") =!= col("v"))
          .distinct())
      round += 1
      // fixed point = identical edge set (both are (min, member) oriented
      // and deduped, so count + one-sided except decide equality)
      converged = next.count() == edges.count() &&
        next.exceptAll(edges).limit(1).isEmpty
      edges = next
    }
    require(converged,
      s"connectedComponentsStar did not converge within $maxRounds rounds — " +
        "this exceeds the O(log n) bound and indicates a bug, not an input property")
    val labels = nodes
      .join(edges.select(col("v").as("id"), col("u").as("__root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("component"))
    (labels, round)
  }

  // ---- eval-set decontamination ----

  /** Training documents contaminated by eval/benchmark content: a train
    * doc counts as contaminated when at least `minHits` of its DISTINCT
    * word `n`-gram shingles appear anywhere in the eval set (the standard
    * n-gram-overlap decontamination every pre-training pipeline runs so
    * benchmark answers don't leak into the corpus).
    *
    * Scale shape: eval sets are benchmark-sized — their distinct shingle
    * table is tiny next to the corpus, so the overlap test is one
    * broadcast equi-join from corpus shingles to eval shingles plus a
    * per-doc count. The corpus is scanned once; nothing all-pairs.
    *
    * Output: (idCol, n_hits) for contaminated train docs only.
    */
  def contaminated(train: DataFrame, idCol: String, textCol: String,
                   eval: DataFrame, evalTextCol: String,
                   shingleN: Int = 8, minHits: Int = 1): DataFrame = {
    def sh(df: DataFrame, id: Seq[Column], text: Column) =
      df.select((id :+ TextOps.tokens(text).as("__toks")): _*)
        .select((id :+
          explode(array_distinct(TextOps.shinglesOf(col("__toks"), shingleN))).as("__sh")): _*)
    val evalSh = sh(eval, Seq.empty, col(evalTextCol)).distinct()
    sh(train, Seq(col(idCol)), col(textCol))
      .join(broadcast(evalSh), "__sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** The decontaminated corpus: `train` minus [[contaminated]] docs (one
    * anti-join — the split-anti-join shape of P11).
    */
  def decontaminate(train: DataFrame, idCol: String, textCol: String,
                    eval: DataFrame, evalTextCol: String,
                    shingleN: Int = 8, minHits: Int = 1): DataFrame =
    train.join(
      contaminated(train, idCol, textCol, eval, evalTextCol, shingleN, minHits)
        .select(col(idCol)),
      Seq(idCol), "left_anti")

  /** CCNet-style LINE-level dedup (Wenzek et al. 2020 §3.1: the crawl's
    * boilerplate — cookie banners, nav bars, footers — repeats across
    * pages at the line level, and dropping repeated lines removes most
    * of it before any document-level pass). Each document is segmented
    * into lines, every line is keyed corpus-wide, and only the FIRST
    * occurrence (min (doc, position) — deterministic) survives;
    * documents are then re-assembled from their surviving lines.
    *
    * `lineCol` must yield the document's array of lines. Corpora whose
    * documents are single unstructured strings segment synthetically
    * (e.g. fixed token windows via [[TextOps.chunkTokens]] arithmetic) —
    * the operator only sees the array.
    *
    * Scale shape: ONE shuffle keyed by the line hash (the keep-first
    * min-agg), one join back from surviving keys to line rows, one
    * per-doc re-assembly agg. The hot case — a boilerplate line on 30%
    * of all pages — is a single large group under a min-aggregate:
    * map-side partials bound it at one row per task, the same reason
    * [[exactDedup]] tolerates giant duplicate groups. No window over the
    * whole corpus, no sort.
    *
    * Output: (idCol, n_lines, n_kept, text_kept) — every input document
    * appears, `text_kept` empty when every line was someone else's.
    */
  def lineDedup(df: DataFrame, idCol: String, lines: Column): DataFrame = {
    val lineRows = df
      .select(col(idCol), posexplode(lines).as(Seq("line_pos", "line")))
    // first occurrence per distinct line, totally ordered by (doc, pos)
    // aliased keep-side columns: the self-derived join would otherwise
    // resolve `line === line` ambiguously (dataset-id disambiguation is
    // fragile across optimizer changes)
    val keep = lineRows
      .groupBy(col("line"))
      .agg(min(struct(col(idCol), col("line_pos"))).as("first"))
      .select(col("line").as("keep_line"), col("first").getField(idCol).as("keep_id"),
        col("first").getField("line_pos").as("keep_pos"))
    val kept = lineRows
      .join(keep,
        col("line") === col("keep_line") &&
          col(idCol) === col("keep_id") && col("line_pos") === col("keep_pos"),
        "left_semi")
    val total = lineRows.groupBy(col(idCol)).agg(count(lit(1)).as("n_lines"))
    val survived = kept
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("line_pos"), col("line")))),
          s => s.getField("line")), " ").as("text_kept"))
    total.join(survived, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** Bloom-filter membership of `probe` units against `build` units — the
    * Dolma/BFF posture for INCREMENTAL dedup: flag every paragraph of a
    * new crawl that was (probably) already in the reference corpus,
    * without ever joining against the reference corpus itself.
    *
    * The filter is the classic (m, k) Bloom construction with the
    * engine's shared deterministic randomness ([[SamplingOps.hash60]],
    * salts `bf0:`…`bf{k-1}:`): each build-side unit sets k bit positions
    * in an m-bit space; a probe unit is flagged iff ALL its k positions
    * are set (false positives possible at the standard Bloom rate,
    * false negatives impossible — exactly the trade a 100 TB incremental
    * ingest wants, since a stray FP costs one dropped paragraph while
    * the alternative is re-shuffling last month's corpus every day).
    *
    * Physical shape: the bit-position table is `distinct` over the
    * build side's k·n hashes — **bounded by m rows regardless of corpus
    * size** — then BROADCAST to the probe side's scan, so the probe
    * never shuffles on content at all: positions-explode → broadcast
    * semi-probe → count==k. Returns `probe` grain `(id, unit_pos, hit)`.
    */
  def bloomMembership(build: DataFrame, probe: DataFrame, idCol: String,
                      posCol: String, unitCol: String,
                      mBits: Long = 65536L, k: Int = 4): DataFrame = {
    def positions(df: DataFrame, extra: Seq[String]): DataFrame =
      df.select(extra.map(col) :+
        explode(array((0 until k).map(j =>
          pmod(SamplingOps.hash60(col(unitCol), s"bf$j:"), lit(mBits))): _*))
          .as("pos"): _*)
    val bits = positions(build, Seq.empty).distinct()
    positions(probe, Seq(idCol, posCol))
      .join(broadcast(bits), Seq("pos"))
      .groupBy(col(idCol), col(posCol))
      .agg(count(lit(1)).as("__nhit"))
      .join(probe.select(col(idCol), col(posCol)), Seq(idCol, posCol), "right")
      .select(col(idCol), col(posCol),
        (coalesce(col("__nhit"), lit(0L)) === k).as("hit"))
  }
}
