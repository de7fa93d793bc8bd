package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** BPE contract tests across the three formulations:
  *
  *  - plan-time replace chain (BpeChain, the twin of TextOps.bpeTokensSql),
  *  - runtime-looping native expression (functions.BpeApply — the 32k-rule
  *    scale path),
  *  - driver-side incremental trainer (BpeTrainer) vs a from-scratch
  *    recount reference.
  *
  * The chain and the expression must agree on every word (for well-formed
  * tables — see BpeApply's scaladoc for why); the trainer's incremental
  * deltas must equal a full recount at every round.
  */
class BpeSpec extends SparkSuite {

  private val adversarial = Seq(
    "a", "aa", "aaa", "aaaa", "ababab", "thethethe", "oooo",
    "and", "anand", "ingingin", "z", "thethe", "attat", "stst",
    "x1y2z3", "0000", "ororor", "edited", "alll", "lllll")

  test("runtime expression == replace chain on fixture corpus + adversarial words") {
    graft.functions.BpeApply.register(spark, TextOps.DefaultBpeMerges)
    import spark.implicits._
    val corpusWords = graft.Tables.documents(spark, sf("sf0.001"))
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      .distinct()
    val words = corpusWords.union(adversarial.toDF("w"))
    val both = words.select(
        col("w"),
        array_join(BpeChain.bpeTokens(col("w")), " ").as("chain"),
        call_function("graft_bpe_apply", col("w")).as("rt"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"word=${r.getString(0)} chain=${r.getString(1)} runtime=${r.getString(2)}")
    }
  }

  test("expression handles a deep learned table the chain could not codegen") {
    // learn a deep table from the corpus, then apply it via the runtime
    // expression — segmentations must be valid (concat of tokens == word)
    val merges3 = BpeTrainer.learn(
      Array(("banana", 3L), ("bandana", 2L), ("analysis", 1L)), nMerges = 1000)
    assert(merges3.nonEmpty && merges3.size < 1000, "tiny vocab must saturate")
    graft.functions.BpeApply.register(spark,
      merges3.map(m => (m._1, m._2)), name = "bpe_deep")
    import spark.implicits._
    val out = Seq("banana", "bandana", "analysis", "banan", "xyzzy")
      .toDF("w")
      .select(col("w"), call_function("bpe_deep", col("w")).as("t"))
      .collect()
    out.foreach { r =>
      assert(r.getString(1).replace(" ", "") == r.getString(0),
        s"lossy segmentation: ${r.getString(0)} -> ${r.getString(1)}")
    }
    // the three training words saturate to a single symbol each
    assert(out.take(3).forall(r => !r.getString(1).contains(" ")))
  }

  test("incremental trainer == from-scratch recount at every round") {
    // reference: recount pair stats from the current encoding each round
    def recountReference(vocab: Array[(String, Long)],
                         n: Int): Seq[(String, String, Long)] = {
      var words = vocab.map(_._1.toCharArray.map(String.valueOf))
      val freqs = vocab.map(_._2)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var continue = true
      while (continue && out.size < n) {
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        for (wi <- words.indices; i <- 0 until words(wi).length - 1)
          counts((words(wi)(i), words(wi)(i + 1))) =
            counts.getOrElse((words(wi)(i), words(wi)(i + 1)), 0L) + freqs(wi)
        if (counts.isEmpty) continue = false
        else {
          val (p, c) = counts.minBy { case ((a, b), cnt) => (-cnt, a, b) }
          out += ((p._1, p._2, c))
          words = words.map { s =>
            val o = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < s.length) {
              if (i + 1 < s.length && s(i) == p._1 && s(i + 1) == p._2) {
                o += p._1 + p._2; i += 2
              } else { o += s(i); i += 1 }
            }
            o.toArray
          }
        }
      }
      out.toSeq
    }

    val vocab = graft.Tables.documents(spark, sf("sf0.001"))
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      .groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    assert(vocab.nonEmpty)
    val incremental = BpeTrainer.learn(vocab, 300)
    val reference = recountReference(vocab, 300)
    assert(incremental == reference,
      s"first divergence at rank ${
        incremental.zip(reference).indexWhere { case (a, b) => a != b }}")
    // the corpus saturates below 300 — early stop exercised, and deep
    // enough to flush out any delta bookkeeping drift
    assert(incremental.size < 300 && incremental.size > 50,
      s"unexpected depth ${incremental.size}")
  }

  test("trainer determinism and tie-break order on a crafted tie") {
    // both pairs occur exactly twice; (a,b) < (b,a) lexicographically
    val got = BpeTrainer.learn(Array(("abba", 1L), ("ab", 1L)), 1)
    assert(got.head._1 == "a" && got.head._2 == "b" && got.head._3 == 2L)
  }

  test("byte-level: multi-byte UTF-8 symbols merge across char boundaries") {
    import spark.implicits._
    // "éé" = C3 A9 C3 A9; "é!" = C3 A9 21. The dominant pair is the
    // INTRA-character (C3, A9) — a char-level trainer can't even see it.
    val docs = Seq("éé éé é!").toDF("text")
    val merges = TextOps.trainBpeMergesBytes(docs, "text", nMerges = 3)
    assert(merges.head._1 == "C3" && merges.head._2 == "A9",
      s"first merge must be the é byte pair, got ${merges.head}")
    assert(merges.head._3 == 5L, "é occurs 5 times across the pre-tokens")
    // after (C3,A9)→C3A9, (20,C3A9) and (C3A9,C3A9) tie at count 2 and
    // the lexicographic tie-break picks "20" < "C3A9" — the merged hex
    // symbols partake in ordinary symbol ordering
    assert(merges(1)._1 == "20" && merges(1)._2 == "C3A9",
      s"tie-break must pick (20, C3A9), got ${merges(1)}")
    assert(merges(2)._1 == "20C3A9" && merges(2)._2 == "C3A9",
      "round 3: (20C3A9, C3A9) and (C3A9, C3A9) tie at 1; '2' < 'C'")
  }

  test("byte-level applier: hex-pair symbols, lossless over multi-byte UTF-8") {
    import spark.implicits._
    // learned byte table from a tiny corpus, applied through the
    // byteLevel runtime expression — segmentation must re-concatenate
    // to the word's exact UTF-8 hex, including across é's two bytes
    val docs = Seq("éé éé é!").toDF("text")
    val merges = TextOps.trainBpeMergesBytes(docs, "text", nMerges = 3)
      .map(m => (m._1, m._2))
    graft.functions.BpeApply.register(spark, merges, name = "bpe_bytes_t",
      byteLevel = true)
    val out = Seq("éé", " é", "!", "x").toDF("w")
      .select(col("w"), call_function("bpe_bytes_t", col("w")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    out.foreach { case (w, t) =>
      val hex = w.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").mkString
      assert(t.replace(" ", "") == hex, s"lossy byte segmentation: $w -> $t")
    }
    // the (C3,A9) merge applies: "éé" becomes two C3A9 symbols — then
    // rank-2 (20,C3A9) can't apply (no space) and rank-3 (20C3A9,C3A9)
    // needs the 20-prefix, so it stays 2 symbols
    assert(out("éé") == "C3A9 C3A9")
    // " é" = 20 C3 A9 → (C3,A9) then (20,C3A9) → one symbol
    assert(out(" é") == "20C3A9")
    // untrained bytes stay single hex symbols
    assert(out("!") == "21" && out("x") == "78")
  }

  test("byte-level: pre-tokens keep case and leading spaces, unlike char-level") {
    import spark.implicits._
    val docs = Seq("The cat the cat THE").toDF("text")
    val vocabWords = docs.select(
        explode(expr("regexp_extract_all(text, '" +
          TextOps.BytePretokenRegex.replace("\\", "\\\\") + "', 0)")).as("w"))
      .collect().map(_.getString(0)).toSeq
    // leading spaces glued, case preserved: "The", " cat", " the", " THE"
    assert(vocabWords == Seq("The", " cat", " the", " cat", " THE"))
    // and the trainer's merged symbols are hex strings over those bytes:
    // " cat" (freq 2) has the highest-count pairs, starting (20, 63)
    val merges = TextOps.trainBpeMergesBytes(docs, "text", nMerges = 1)
    assert(merges.head._1 == "20" && merges.head._2 == "63",
      s"space+c must be the top pair, got ${merges.head}")
  }
}
