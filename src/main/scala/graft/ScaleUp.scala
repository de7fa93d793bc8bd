package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Derives a larger scale factor from an existing test-data directory by
  * unioning `k` id-shifted, content-perturbed copies of the tables the
  * heavy operator families read (`events`, `documents`, `embeddings`).
  *
  * The perturbations are chosen so workload STRUCTURE scales linearly —
  * the property a real 10× corpus has and a naive `union(identity × 10)`
  * does not:
  *
  *  - `documents.text`: every whitespace token in copy i>0 gets a
  *    `<U+0001>i` suffix (U+0001 is non-whitespace, so it stays inside the
  *    token, and it cannot occur in the source corpus — checked loudly
  *    below, since a base token already ending in the separator+digit
  *    would alias a suffixed token and create cross-copy shingle matches).
  *    Within a copy, pairwise shingle overlap is exactly the original
  *    corpus's (suffixing is a bijection on tokens), so each copy
  *    contributes the same near-dup groups; across copies no shingle
  *    matches, so MinHash/SimHash/Jaccard pair counts grow ×k, not ×k².
  *    An unperturbed union would make every document a near-dup of its
  *    k−1 clones and inflate pair outputs quadratically.
  *  - `embeddings.embedding`: copy i is rotated by i mod dim positions
  *    (rotation preserves the norm and all within-copy dot products —
  *    both operands rotate) AND its `label` bucket shifts by i·1000.
  *    The label shift is what guarantees ×k linearity at ANY k: every
  *    threshold-based pair operator (cosine near-dup, IVF ANN) blocks on
  *    the label, so cross-copy candidates never meet even when two
  *    copies share a rotation (k > dim); top-k operators are
  *    count-stable by construction.
  *  - `events`: `user_id` (the series key everywhere) shifts by
  *    i·1,000,000 — k× more series of the original per-series length,
  *    which is how telemetry actually grows (more rides, not longer
  *    rides) and exactly what partition-parallel window plans should
  *    absorb linearly.
  *
  * `events.ts` is written as a microsecond timestamp, matching the current
  * testdata generation's `timestamp[us]` layout; [[Tables.eventsRaw]]
  * branches on the loaded schema, so the derived directory loads through
  * the identical code path as the source directory.
  */
object ScaleUp {

  /** Adversarial-mode constants (arg 4 = "adversarial"). The uniform
    * derivation scales structure linearly — which is exactly why it can
    * NEVER catch quadratic-in-a-block bugs: no block is ever big. Real
    * crawls are the opposite — empty docs, license headers, and templated
    * pages form million-member identical cliques, and boilerplate
    * sentences give a Zipf-heavy shingle distribution. This mode injects
    * both, scaled-down but far past every cap threshold:
    *
    *  - a `CliqueSize`-doc IDENTICAL-text clique (one band block per LSH
    *    band; the uncapped join would emit ~50M pairs per band from it,
    *    the capped one a 9,999-edge chain);
    *  - a fixed boilerplate sentence appended to `HotDocPct`% of all
    *    documents (hot shingles with df ≈ 0.3·corpus — far above the
    *    `maxDf` caps in ngramJaccardPairs / substringRuns, forcing the
    *    drop paths to carry real weight instead of trimming a tail).
    */
  val CliqueSize = 10000
  val HotDocPct = 30
  val CliqueText: String =
    "this page is intentionally left blank all rights reserved " +
      "unauthorized reproduction of this template page is prohibited " +
      "please contact the site administrator for further information " +
      "about licensing terms and conditions of use"
  val HotSentence: String =
    "all rights reserved terms of service privacy policy cookie settings " +
      "do not sell my personal information"

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dest = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val adversarial = args.length > 3 && args(3) == "adversarial"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.getOrCreate("graft-scaleup")
    // write µs-annotated timestamps (the current testdata generation's
    // layout), not Spark's legacy INT96 default
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    val docs = Tables.documents(spark, src)
    val sep = "\u0001" // token-suffix separator; must be absent from the source
    val dirty = docs.filter(col("text").contains(sep)).count()
    require(dirty == 0,
      s"ScaleUp precondition violated: $dirty source documents already contain " +
        "U+0001 — suffixed tokens would alias base tokens and break ×k linearity")
    val copies = (0 until k).map { i =>
      if (i == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1" + sep + i))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionByName _)
    val docsOut =
      if (!adversarial) copies
      else {
        // Zipf-heavy shingles: the same boilerplate sentence on 30% of
        // every copy's documents — applied AFTER per-copy suffixing so
        // the hot shingles are genuinely CROSS-copy hot
        val hot = copies.withColumn("text",
            when(col("doc_id") % 10 < lit(HotDocPct / 10),
              concat(col("text"), lit(" " + HotSentence)))
              .otherwise(col("text")))
          .withColumn("n_chars", length(col("text")))
        // identical-text clique: one template row stamped CliqueSize
        // times with fresh ids past every copy's range
        val clique = docs.orderBy(col("doc_id")).limit(1)
          .select(explode(sequence(lit(0L), lit(CliqueSize - 1L))).as("__i"),
            col("lang"), col("source"))
          .withColumn("doc_id", lit(k * 10000000L) + col("__i"))
          .withColumn("text", lit(CliqueText))
          .withColumn("n_chars", length(col("text")))
          .drop("__i")
        hot.unionByName(clique.select(hot.columns.map(col): _*))
      }
    docsOut
      .repartition(cpus.toInt)
      .write.mode(SaveMode.Overwrite).parquet(s"$dest/documents.parquet")

    val emb = Tables.embeddings(spark, src)
    // rotation amount wraps at the ACTUAL dimensionality, not an assumed
    // constant — a 32-dim corpus at k > 32 would otherwise feed slice() a
    // negative length at runtime
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val embCopies = (0 until k).map { i =>
      if (i == 0) emb
      else {
        val shifted = emb
          .withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
          .withColumn("label", col("label") + lit(i * 1000L))
        val rot = i % dim // rotation by 0 is the identity
        if (rot == 0) shifted
        else shifted.withColumn("embedding", expr(
          s"concat(slice(embedding, ${rot + 1}, size(embedding) - $rot), slice(embedding, 1, $rot))"))
      }
    }.reduce(_ unionByName _)
    val embOut =
      if (!adversarial) embCopies
      else {
        // EMBEDDING clique: CliqueSize identical vectors in one label
        // bucket past every copy's range — the SemDeDup failure input
        // (near-dups CONCENTRATE in one cluster by design), invisible to
        // the text clique because embeddings are an independent table.
        // An uncapped within-block cosine join would emit ~50M pairs each
        // carrying two full vectors; the capped path must chain it O(m).
        val embClique = emb.orderBy(col("vec_id")).limit(1)
          .select(explode(sequence(lit(0L), lit(CliqueSize - 1L))).as("__i"),
            col("embedding"))
          .withColumn("vec_id", lit(k * 10000000L) + col("__i"))
          .withColumn("label", lit(k * 1000L + 999L))
          .drop("__i")
        embCopies.unionByName(embClique.select(embCopies.columns.map(col): _*))
      }
    embOut
      .repartition(cpus.toInt)
      .write.mode(SaveMode.Overwrite).parquet(s"$dest/embeddings.parquet")

    val ev = Tables.events(spark, src) // ts already rebuilt as µs timestamp
    (0 until k).map { i =>
      if (i == 0) ev
      else ev
        .withColumn("event_id", col("event_id") + lit(i * 10000000000L))
        .withColumn("user_id", col("user_id") + lit(i * 1000000L))
    }.reduce(_ unionByName _)
      .repartition(cpus.toInt)
      .write.mode(SaveMode.Overwrite).parquet(s"$dest/events.parquet")

    // lineitem ×k for the layout/clustering family (src_zorder_layout):
    // orderkeys shift per copy; part/supp keys keep their ranges, so the
    // z-cell GRID stays fixed while every cell gets k× denser — the
    // honest scale shape for a clustering key (same data space, more
    // rows).
    val li = Tables.lineitem(spark, src)
    (0 until k).map { i =>
      if (i == 0) li
      else li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 1000000000L))
    }.reduce(_ unionByName _)
      .repartition(cpus.toInt)
      .write.mode(SaveMode.Overwrite).parquet(s"$dest/lineitem.parquet")

    println(s"""{"scaled":"$dest","from":"$src","k":$k,"adversarial":$adversarial}""")
    spark.stop()
  }
}
