package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Unit tests for the corpus-hygiene operators: URL canonicalization,
  * repetition quality stats, weighted sampling, bloom-pruned join.
  */
class CorpusOpsSpec extends SparkSuite {

  test("substringRuns finds the longest verbatim token run per pair") {
    import spark.implicits._
    val w = (1 to 16).map(i => s"w$i")
    val docs = Seq(
      (1L, w.mkString(" ")),                                   // w1..w16
      (2L, ("x1 x2 " + w.slice(2, 14).mkString(" ") + " x3")), // shares w3..w14 = 12
      (3L, "y1 " + w.slice(4, 9).mkString(" ") + " y2")        // shares w5..w9 = 5 (< min)
    ).toDF("doc_id", "text")
    val got = DedupOps
      .substringRuns(docs, "doc_id", "text", shingleN = 4, maxDf = 100,
        minRunTokens = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // only (1,2) reaches 6 tokens; its longest run is exactly the 12
    // copied tokens — (1,3) and (2,3) share a 5-run and are dropped
    assert(got == Map((1L, 2L) -> 12L), s"got $got")
  }

  test("substringRuns counts separated runs on one diagonal as islands") {
    import spark.implicits._
    // two copied 6-token passages from doc 1 at the SAME alignment offset,
    // separated by a non-matching token: islands must NOT concatenate
    val w = (1 to 20).map(i => s"v$i")
    val copied = w.slice(0, 6).mkString(" ") + " DIFF " + w.slice(7, 13).mkString(" ")
    val original = w.slice(0, 6).mkString(" ") + " v7 " + w.slice(7, 13).mkString(" ")
    val docs = Seq((1L, original), (2L, copied)).toDF("doc_id", "text")
    val got = DedupOps
      .substringRuns(docs, "doc_id", "text", shingleN = 3, maxDf = 100,
        minRunTokens = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 6L), s"got $got")
  }

  test("removeSubstringRuns cuts the duplicated span from the later doc") {
    import spark.implicits._
    val w = (1 to 12).map(i => s"w$i")
    val docs = Seq(
      (1L, w.mkString(" ")),                                  // w1..w12, intact
      (2L, "x1 x2 " + w.slice(2, 10).mkString(" ") + " x3"),  // shares w3..w10 = 8
      (3L, "z1 z2 z3 z4 z5 z6 z7")                            // nothing shared
    ).toDF("doc_id", "text")
    val got = DedupOps
      .removeSubstringRuns(docs, "doc_id", "text", shingleN = 4, maxDf = 100,
        minRunTokens = 6)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    // doc 1 (earlier) keeps everything; doc 2 loses exactly w3..w10 and
    // reassembles around the cut; doc 3 untouched
    assert(got(1L) == ((12L, 0L, w.mkString(" "))), s"got ${got(1L)}")
    assert(got(2L) == ((11L, 8L, "x1 x2 x3")), s"got ${got(2L)}")
    assert(got(3L) == ((7L, 0L, "z1 z2 z3 z4 z5 z6 z7")))
  }

  test("removeSubstringRuns unions overlapping spans from different pairs") {
    import spark.implicits._
    val w = (1 to 14).map(i => s"u$i")
    // doc 3 copies u1..u8 from doc 1 and u5..u12 from doc 2: the union
    // u1..u12 must be cut once, leaving only the two tail tokens
    val docs = Seq(
      (1L, w.slice(0, 8).mkString(" ") + " a1 a2 a3"),
      (2L, "b1 b2 b3 " + w.slice(4, 12).mkString(" ")),
      (3L, w.slice(0, 12).mkString(" ") + " t1 t2")
    ).toDF("doc_id", "text")
    val got = DedupOps
      .removeSubstringRuns(docs, "doc_id", "text", shingleN = 4, maxDf = 100,
        minRunTokens = 5)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got(1L)._2 == 0L && got(2L)._3.startsWith("b1 b2 b3"),
      s"earlier docs keep their text: $got")
    // doc 2 shares u5..u8 with doc 1 (4 tokens < minRunTokens) → intact
    assert(got(2L) == ((11L, 0L, "b1 b2 b3 " + w.slice(4, 12).mkString(" "))))
    assert(got(3L) == ((14L, 12L, "t1 t2")), s"got ${got(3L)}")
  }

  test("removeSubstringRuns empties a full duplicate and keeps every doc") {
    import spark.implicits._
    val t = (1 to 10).map(i => s"q$i").mkString(" ")
    val docs = Seq((5L, t), (9L, t)).toDF("doc_id", "text")
    val got = DedupOps
      .removeSubstringRuns(docs, "doc_id", "text", shingleN = 4, maxDf = 100,
        minRunTokens = 5)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got(5L) == ((10L, 0L, t)))
    assert(got(9L) == ((10L, 10L, "")), "later full duplicate empties")
  }

  test("canonicalizeUrl folds scheme/host case, ports, www, params, slash, fragment") {
    import spark.implicits._
    val cases = Seq(
      // case + default port + www + fragment
      ("HTTPS://WWW.Example.COM:443/a/b#frag", "https://example.com/a/b"),
      ("http://Example.com:80/a", "http://example.com/a"),
      // non-default port kept
      ("http://example.com:8080/a", "http://example.com:8080/a"),
      // trailing slashes fold; root path folds to empty
      ("https://example.com/a/b/", "https://example.com/a/b"),
      ("https://example.com/", "https://example.com"),
      // tracking params dropped, rest sorted; empty query dropped
      ("https://example.com/p?utm_source=x&b=2&a=1", "https://example.com/p?a=1&b=2"),
      ("https://example.com/p?gclid=zz&fbclid=yy", "https://example.com/p"),
      ("https://example.com/p?z=1&y=2&ref=home", "https://example.com/p?y=2&z=1"),
      // non-absolute urls pass through verbatim (trimmed) — collapsing
      // them onto one synthetic key would merge unrelated docs in dedup
      ("example.com/a", "example.com/a"),
      ("//cdn.example.com/x", "//cdn.example.com/x"),
      (" not a url at all ", "not a url at all")
    ).toDF("url", "expected")
    val got = cases.withColumn("canon", UrlOps.canonicalizeUrl(col("url")))
      .select("url", "expected", "canon").collect()
    got.foreach { r =>
      assert(r.getString(2) == r.getString(1),
        s"${r.getString(0)} -> ${r.getString(2)}, expected ${r.getString(1)}")
    }
  }

  test("canonicalDedup keeps min id per canonical key with variant counts") {
    import spark.implicits._
    val df = Seq(
      (1L, "https://example.com/x?utm_source=a"),
      (2L, "HTTPS://WWW.EXAMPLE.COM:443/x"),
      (3L, "https://example.com/x/"),
      (4L, "https://other.com/y")
    ).toDF("id", "url")
    val out = UrlOps.canonicalDedup(df, col("url"), col("id"))
      .orderBy(col("canonical_url")).collect()
    assert(out.length == 2)
    assert(out(0).getString(0) == "https://example.com/x" &&
      out(0).getLong(1) == 1L && out(0).getLong(2) == 3L)
    assert(out(1).getString(0) == "https://other.com/y" &&
      out(1).getLong(1) == 4L && out(1).getLong(2) == 1L)
  }

  test("repetitionStats matches hand-computed fractions") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a b c"),       // 4 toks, 3 distinct, top a=2, dup mass 2, bigrams: "a a","a b","b c"
      (2L, "x"),             // single token: no bigrams
      (3L, "d d d d")        // all dup, single bigram "d d" x3
    ).toDF("doc_id", "text")
    val got = TextQualityOps.repetitionStats(df, "doc_id", "text")
      .orderBy(col("doc_id")).collect()

    val r1 = got(0)
    assert(r1.getLong(1) == 4 && r1.getLong(2) == 3)
    assert(math.abs(r1.getDouble(3) - 0.5) < 1e-12)       // top unigram 2/4
    assert(math.abs(r1.getDouble(4) - 0.5) < 1e-12)       // dup mass 2/4
    assert(math.abs(r1.getDouble(5) - 1.0 / 3) < 1e-12)   // top bigram 1/3

    val r2 = got(1)
    assert(r2.getLong(1) == 1 && r2.getDouble(5) == 0.0)

    val r3 = got(2)
    assert(r3.getLong(1) == 4 && r3.getLong(2) == 1)
    assert(math.abs(r3.getDouble(3) - 1.0) < 1e-12)
    assert(math.abs(r3.getDouble(4) - 1.0) < 1e-12)
    assert(math.abs(r3.getDouble(5) - 1.0) < 1e-12)       // "d d" 3/3
  }

  test("weightedSample equals the window-ranked reference formulation") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, 1.0 + (i % 7))).toDF("id", "w")
    val got = SamplingOps.weightedSample(df, "id", "w", k = 25)
      .orderBy(col("pick")).collect().map(r => (r.getLong(0), r.getLong(1)))

    // reference: same key expression, ranked by a window (the shape the
    // bounded aggregate exists to avoid at scale)
    val u = (SamplingOps.hash60(col("id"), "wsmp:") + lit(1L)).cast("double") /
      lit(1.152921504606846976e18)
    val keyed = df.withColumn("key", -log(u) / col("w").cast("double"))
    val expected = keyed.orderBy(col("key"), col("id")).limit(25)
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => (id, (i + 1).toLong) }
    assert(got.toList == expected.toList)
  }

  test("scrubPii redacts emails, phones, IPv4; leaves clean text alone") {
    import spark.implicits._
    val cases = Seq(
      ("mail bob.smith+x@sub.example.org now", "mail <EMAIL> now"),
      ("call 555-123-4567 or 555.987.6543", "call <PHONE> or <PHONE>"),
      ("host 192.168.0.1 up", "host <IP> up"),
      ("a1@b.co and 10.0.0.7 and 111-222-3333", "<EMAIL> and <IP> and <PHONE>"),
      ("no pii here 12345", "no pii here 12345")
    ).toDF("dirty", "expected")
    cases.withColumn("clean", TextOps.scrubPii(col("dirty")))
      .collect().foreach { r =>
        assert(r.getString(2) == r.getString(1),
          s"'${r.getString(0)}' -> '${r.getString(2)}'")
      }
  }

  test("quantizedTopK with a full-corpus shortlist equals brute-force exactly") {
    import spark.implicits._
    def vec(i: Int) = (0 until 8).map(j => ((i * 31 + j * 17) % 13 - 6) / 6.0f).toArray
    val corpus = (10L to 109L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val queries = (0L to 4L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")

    // oversample 34 -> shortlist of 102 >= corpus size: phase 1 cannot
    // drop a true neighbor, so rerank == exact brute force
    val got = EmbeddingOps.quantizedTopK(corpus, queries, "vec_id", "embedding",
        k = 3, oversample = 34)
      .orderBy(col("query_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val want = EmbeddingOps.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 3)
      .orderBy(col("query_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toList == want.toList)

    // and with a tight shortlist the output is still k well-formed ranks
    val tight = EmbeddingOps.quantizedTopK(corpus, queries, "vec_id", "embedding",
        k = 3, oversample = 2)
      .collect()
    assert(tight.length == 5 * 3)
  }

  test("packTokenStream cuts each shard's stream at exact budget boundaries") {
    import spark.implicits._
    // single shard so the hand-layout is easy to follow
    val docs = Seq((1L, 100L), (2L, 300L), (3L, 200L), (4L, 50L))
      .toDF("id", "n_tok")
    val out = PackingOps.packTokenStream(docs, "id", "n_tok",
        budget = 512, shards = 1)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // stream offsets: 0, 100, 400, 600 -> packs 0,0,0,1; offsets 0,100,400,88
    assert(out.toList == List(
      (1L, 0L, 0L), (2L, 0L, 100L), (3L, 0L, 400L), (4L, 1L, 88L)))

    // multi-shard: per-shard token conservation (sum of n == last start + n)
    val many = (1L to 200L).map(i => (i, 7L + i % 13)).toDF("id", "n_tok")
    val packed = PackingOps.packTokenStream(many, "id", "n_tok",
      budget = 64, shards = 4)
    val perShard = packed.groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("tot"),
        max(col("pack_id") % (1L << 40) * 64 + col("pack_offset") + col("n_tokens")).as("endoff"))
      .collect()
    perShard.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"shard ${r.get(0)}: stream length mismatch"))
  }

  test("kmeans assignments separate two obvious blobs deterministically") {
    import spark.implicits._
    def blob(center: Double, ids: Range) =
      ids.map(i => (i.toLong, Array.fill(4)(center.toFloat)
        .zipWithIndex.map { case (c, j) => c + ((i + j) % 3) * 0.01f }))
    val df = (blob(10.0, 1 to 40) ++ blob(-10.0, 41 to 80))
      .toDF("vec_id", "embedding")
    val a = KMeansOps.assignments(df, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val c1 = (1L to 40L).map(a).toSet
    val c2 = (41L to 80L).map(a).toSet
    assert(c1.size == 1 && c2.size == 1 && c1 != c2,
      s"blobs must map to two distinct clusters: $c1 vs $c2")
    // deterministic: a second run is identical
    val b = KMeansOps.assignments(df, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a == b)
  }

  test("chunkTokens: overlap layout, short-doc single chunk, tail clamp") {
    import spark.implicits._
    val df = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 toks, win4/stride3 -> 3 chunks
      (2L, "a b")                             // shorter than win -> 1 chunk
    ).toDF("doc_id", "text")
    val out = TextOps.chunkTokens(df, "doc_id", "text", win = 4, stride = 3)
      .orderBy(col("doc_id"), col("chunk_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toList == List(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t4 t5 t6 t7", 4L),
      (1L, 2L, "t7 t8 t9 t10", 4L),
      (2L, 0L, "a b", 2L)))
  }

  test("bpeTokens applies merges in rank order with left-to-right non-overlap") {
    import spark.implicits._
    def seg(word: String, merges: Seq[(String, String)]): List[String] =
      Seq(word).toDF("w")
        .select(BpeChain.bpeTokens(col("w"), merges).as("t"))
        .as[List[String]].head()

    // expectations from an independent Python replay of subword-nmt
    // rank-ordered merge-all application (not derived from the impl)
    val m = TextOps.DefaultBpeMerges
    assert(seg("the", m) == List("the"))
    assert(seg("thinking", m) == List("th", "in", "k", "ing"))
    assert(seg("another", m) == List("an", "o", "the", "r"))
    assert(seg("interesting", m) == List("in", "t", "er", "es", "t", "ing"))
    assert(seg("stood", m) == List("st", "oo", "d"))
    assert(seg("toother", m) == List("t", "oo", "the", "r"))
    assert(seg("a", m) == List("a"))

    // left-to-right non-overlap on repeated pairs
    assert(seg("aaaa", Seq(("a", "a"))) == List("aa", "aa"))
    assert(seg("aaa", Seq(("a", "a"))) == List("aa", "a"))
    // a later merge consumes an earlier merge's product
    assert(seg("abc", Seq(("a", "b"), ("ab", "c"))) == List("abc"))
    // rank order is the application order, not table order reversed
    assert(seg("abab", Seq(("a", "b"))) == List("ab", "ab"))
  }

  test("trainBpeMerges learns the hand-computed top pairs in order") {
    import spark.implicits._
    // vocab: the(1), there(1), other(1) — all freq 1.
    // round 1: th=3, he=3, er=2, re=1, ot=1, te... tie th/he at 3 →
    //   lexicographic asc picks (h,e).
    // round 2: t-he=3, he-r=2, r-e=1, o-t=1 → (t,he)=3.
    // round 3: the-r=2, r-e=1, o-the=1 → (the,r)=2.
    val docs = Seq((1L, "the there"), (2L, "other")).toDF("doc_id", "text")
    val merges = TextOps.trainBpeMerges(docs, "text", 3)
    assert(merges == Seq(("h", "e", 3L), ("t", "he", 3L), ("the", "r", 2L)),
      s"got $merges")
    // learned table round-trips through the applier: o|t|h|e|r → he →
    // t+he → the+r leaves o|ther
    val seg = Seq("other").toDF("w")
      .select(BpeChain.bpeTokens(col("w"), merges.map(m => (m._1, m._2))).as("t"))
      .as[List[String]].head()
    assert(seg == List("o", "ther"))
    // single-char-word corpora have no pairs: training stops empty
    assert(TextOps.trainBpeMerges(Seq((1L, "a b c")).toDF("doc_id", "text"),
      "text", 2).isEmpty)
  }

  test("mixtureSample keeps per-source rates deterministically; unknown sources drop") {
    import spark.implicits._
    val df = (1L to 300L).map(i =>
      (i, if (i % 3 == 0) "keepall" else if (i % 3 == 1) "half" else "other"))
      .toDF("id", "src")
    val kept = SamplingOps.mixtureSample(df, col("id"), col("src"),
        Map("keepall" -> 1.0, "half" -> 0.5))
      .groupBy(col("src")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("keepall") == 100L, s"rate 1.0 must keep every row: $kept")
    assert(!kept.contains("other"), "unlisted source must drop entirely")
    assert(kept("half") > 20 && kept("half") < 80, s"~half kept: $kept")
    // deterministic: rerun identical
    val again = SamplingOps.mixtureSample(df, col("id"), col("src"),
      Map("keepall" -> 1.0, "half" -> 0.5)).count()
    assert(again == kept.values.sum)
  }

  test("mixtureSample up-weights rates above 1 by replication with copy ids") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, "wiki")).toDF("id", "src")
    val up = SamplingOps.mixtureSample(df, col("id"), col("src"),
      Map("wiki" -> 2.5))
    val n = up.count()
    // floor(2.5)=2 guaranteed copies per row + ~50% hash-chosen extras
    assert(n >= 220 && n <= 280, s"expected ~250 rows, got $n")
    val copies = up.filter(col("id") === 1L).select("copy").as[Long]
      .collect().sorted.toList
    assert(copies == (1L to copies.length).toList, s"copy ids 1..n: $copies")
    assert(copies.length == 2 || copies.length == 3)
  }

  test("assembleChat: offsets, assistant mask, empty turn, whole-drop") {
    import spark.implicits._
    val turns = Seq(
      (1L, 0L, "system", "be helpful"),
      (1L, 1L, "user", ""),                    // empty content: 2 tokens
      (1L, 2L, "assistant", "sure thing boss"),
      (2L, 0L, "user", "a b c d e f g h i j")) // 12 tokens > cap 10
      .toDF("conv", "t", "role", "txt")
    val out = SftOps.assembleChat(turns, "conv", "t", "role", "txt",
      maxTokens = 10).orderBy("conv", "t").collect()
    // conv 2 (12 tokens) dropped whole; conv 1 = 4 + 2 + 5 = 11 > 10?
    // be helpful → 2+2=4; "" → 0+2=2; sure thing boss → 3+2=5 = 11 → also
    // dropped! raise the check data: cap 11 keeps conv 1 exactly
    assert(out.isEmpty)
    val kept = SftOps.assembleChat(turns, "conv", "t", "role", "txt",
      maxTokens = 11).orderBy("conv", "t").collect()
    assert(kept.length == 3 && kept.forall(_.getLong(0) == 1L))
    assert(kept.map(_.getAs[Long]("start_tok")).toSeq == Seq(0L, 4L, 6L))
    assert(kept.map(_.getAs[Long]("n_tok")).toSeq == Seq(4L, 2L, 5L))
    assert(kept.map(_.getAs[Long]("n_trainable")).toSeq == Seq(0L, 0L, 4L),
      "only the assistant turn trains, minus its role-header token")
    assert(kept.forall(_.getAs[Long]("conv_tokens") == 11L))
    // the rendered string is exactly the ChatML concatenation
    val expect = "<|im_start|>system\nbe helpful\n<|im_end|>\n" +
      "<|im_start|>user\n\n<|im_end|>\n" +
      "<|im_start|>assistant\nsure thing boss\n<|im_end|>\n"
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(expect.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(kept.forall(_.getAs[String]("rendered_md5") == md))
    // token-accounting identity: whitespace tokens of the render ==
    // conv_tokens (the contract the offsets stand on)
    assert(expect.trim.split("\\s+").length == 11)
  }

  test("doremiWeights: EG hand-trace, zero-clip, smoothing identity") {
    import spark.implicits._
    // all excess ≤ 0 → every factor is 1, weights stay uniform, and
    // the (1−ε)·ᾱ + ε/D smoothing maps 500000 to itself
    val flat = Seq((0L, "a", -3L), (0L, "b", 0L), (1L, "a", -1L))
      .toDF("step", "dom", "ex")
    val fw = ImportanceOps.doremiWeights(flat, "step", "dom", "ex")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(fw == Map("a" -> ((500000L, 500000L)),
      "b" -> ((500000L, 500000L))), s"got $fw")
    // one positive-excess step at η=1: factor 2 for a → α = 2/3 vs 1/3,
    // then smoothing 0.95·ᾱ + 0.05/2 exactly
    val oneUp = Seq((0L, "a", 1000000L), (0L, "b", -5L))
      .toDF("step", "dom", "ex")
    val w = ImportanceOps.doremiWeights(oneUp, "step", "dom", "ex",
        etaPpm = 1000000L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(w("a") == ((666666L, 658332L)), s"got $w")
    assert(w("b") == ((333333L, 341666L)))
    // a missing (step, domain) cell reads as zero excess
    val sparse = Seq((0L, "a", 1000000L), (1L, "b", -1L))
      .toDF("step", "dom", "ex")
    val sw = ImportanceOps.doremiWeights(sparse, "step", "dom", "ex",
        etaPpm = 1000000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sw("a") > sw("b"), s"got $sw")
  }

  test("doremiWeights: fixed nSteps pads absent rounds; nulls refuse") {
    import spark.implicits._
    // only step 0 observed, but nSteps=4 → the average divides by 4:
    // α after step 0 = 2/3 vs 1/3, steps 1-3 all factor-1 (absent =
    // zero excess), so ᾱ(a) = 4·666666/4 = 666666 either way — but
    // with steps OBSERVED (=1 round) vs FIXED (=4 rounds) the acc
    // differs when later rounds exist: check a 2-observed-of-4 shape
    val twoOfFour = Seq((0L, "a", 1000000L), (2L, "a", 1000000L),
      (0L, "b", 0L), (2L, "b", 0L)).toDF("step", "dom", "ex")
    val fixed = ImportanceOps.doremiWeights(twoOfFour, "step", "dom", "ex",
        etaPpm = 1000000L, nSteps = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val derived = ImportanceOps.doremiWeights(twoOfFour, "step", "dom", "ex",
        etaPpm = 1000000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // fixed: rounds 1 and 3 keep α flat but still count in the mean of
    // FOUR; derived averages the same two post-update states over TWO.
    // α(a): 2/3 after step 0, 4/5 after step 2 (α·2 / (α·2 + (1−α)));
    // fixed ᾱ(a) = (666666 + 666666 + 799999 + 799999) / 4 and
    // derived = (666666 + 799999) / 2 — equal here by symmetry, so
    // assert the distinguishing case instead: a round observed ONLY
    // late (step 3) — fixed carries three flat rounds first
    val lateOnly = Seq((3L, "a", 1000000L), (3L, "b", 0L))
      .toDF("step", "dom", "ex")
    val f2 = ImportanceOps.doremiWeights(lateOnly, "step", "dom", "ex",
        etaPpm = 1000000L, nSteps = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val d2 = ImportanceOps.doremiWeights(lateOnly, "step", "dom", "ex",
        etaPpm = 1000000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // derived sees ONE round → ᾱ(a) = 666666; fixed averages three
    // uniform rounds + one updated → (3·500000 + 666666) / 4 = 541666
    assert(d2("a") == 666666L, s"got $d2")
    assert(f2("a") == 541666L, s"got $f2")
    // null cells refuse loudly instead of NPE / silent round drop
    val withNull = Seq((Some(0L), Some("a"), Some(1L)),
      (None, Some("b"), Some(2L))).toDF("step", "dom", "ex")
    val e = intercept[IllegalArgumentException] {
      ImportanceOps.doremiWeights(withNull, "step", "dom", "ex")
    }
    assert(e.getMessage.contains("null"))
  }

  test("emF1: null answer arrays score 0, never null") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq("a", "b")), Some(Seq("a", "b"))),
      (2L, None, Some(Seq("a"))),
      (3L, Some(Seq("a")), None),
      (4L, Option.empty[Seq[String]], Option.empty[Seq[String]]))
      .toDF("id", "pred", "ref")
      .withColumn("m", TextOps.emF1(col("pred"), col("ref")))
      .select(col("id"), col("m.n_pred"), col("m.n_ref"),
        col("m.overlap"), col("m.em"), col("m.f1_e4"))
    val rows = df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4),
        r.getLong(5)))).toMap
    assert(rows(1) == ((2L, 2L, 2L, true, 10000L)))
    assert(rows(2) == ((0L, 1L, 0L, false, 0L)))
    assert(rows(3) == ((1L, 0L, 0L, false, 0L)))
    // both null: em is FALSE by contract (degenerate scores 0)
    assert(rows(4) == ((0L, 0L, 0L, false, 0L)))
  }

  test("unimaxSample: epoch cap, quota flow-down, exact-budget greedy") {
    import spark.implicits._
    // tiny=10, mid=30, big=160 rows; budget 100, 2 epochs:
    //   tiny (first, quota 33): capped at 2·10=20 → rate 2.0
    //   mid  (quota (100−20)/2=40): capped at 2·30=60? no — 40 < 60 →
    //        takes 40 of 30 rows → rate 40/30 epochs (ppm 1333333)
    //   big  (quota 40): 40 of 160 → rate 250000 ppm
    val df = ((1L to 10L).map((_, "tiny")) ++ (11L to 40L).map((_, "mid")) ++
      (41L to 200L).map((_, "big"))).toDF("id", "src")
    val out = SamplingOps.unimaxSample(df, col("id"), col("src"),
      budgetRows = 100, maxEpochs = 2)
    val rates = out.select("src", "rate_ppm", "alloc_rows", "src_total")
      .distinct().as[(String, Long, Long, Long)].collect()
      .map { case (s, r, a, _) => s -> ((r, a)) }.toMap
    assert(rates("tiny") == ((2000000L, 20L)), s"got $rates")
    assert(rates("mid") == ((1333333L, 40L)))
    assert(rates("big") == ((250000L, 40L)))
    // every tiny row appears exactly twice (full epochs, no hash part)
    assert(out.filter(col("src") === "tiny").count() == 20L)
    assert(out.filter(col("id") === 1L).select("copy").as[Long]
      .collect().sorted.toList == List(1L, 2L))
    // determinism
    val again = SamplingOps.unimaxSample(df, col("id"), col("src"),
      budgetRows = 100, maxEpochs = 2)
    assert(out.select("id", "copy").collect().toSet ==
      again.select("id", "copy").collect().toSet)
    // budget ≥ maxEpochs·total → everything at the epoch cap
    val all = SamplingOps.unimaxSample(df, col("id"), col("src"),
      budgetRows = 1000, maxEpochs = 2)
    assert(all.count() == 400L)
  }

  test("bloomPrunedSemiJoin is exact and prunes at the scan") {
    import spark.implicits._
    val big = (1L to 2000L).map(i => (i, i % 97)).toDF("k", "v")
    val small = Seq(3L, 97L, 500L, 1999L, 3000L).toDF("sk")
    val got = BloomJoin.bloomPrunedSemiJoin(big, col("k"), small, col("sk"),
        expectedItems = 100L)
      .orderBy(col("k")).collect().map(_.getLong(0))
    assert(got.toList == List(3L, 97L, 500L, 1999L))

    // the bloom filter must sit in the plan as a Filter(might_contain)
    // BELOW the semi join — pruning before the shuffle, not after. (The
    // analyzed plan: on a LocalRelation fixture the optimizer constant-
    // folds the whole filter into the relation, which is exactly the
    // pre-shuffle evaluation we want; a parquet-backed probe keeps it as a
    // scan-side Filter.)
    val plan = BloomJoin.bloomPrunedSemiJoin(big, col("k"), small, col("sk"))
      .queryExecution.analyzed.toString
    assert(plan.contains("might_contain"), plan.take(2000))
    val filterLine = plan.linesIterator.indexWhere(_.contains("might_contain"))
    val joinLine = plan.linesIterator.indexWhere(_.contains("Join LeftSemi"))
    assert(joinLine < filterLine, s"filter must be below the semi join\n$plan")
  }

  test("compression ratio orders repetition < prose < noise; short docs null") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val docs = Seq(
      (1L, "the same line over and over " * 40), // boilerplate
      (2L, ("the quick brown fox jumps over a lazy dog while mixed words " +
        "vary across this sentence and keep entropy moderate ") * 6), // prose-ish
      (3L, Array.fill(800)(rng.nextPrintableChar()).mkString), // noise
      (4L, "tiny")).toDF("doc_id", "text")
    val got = TextQualityOps.compressionRatio(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got(4L).isEmpty, "short doc must not get a ratio")
    val (rep, prose, noise) = (got(1L).get, got(2L).get, got(3L).get)
    assert(rep < prose && prose < noise, s"rep=$rep prose=$prose noise=$noise")
    assert(noise > 500, "random printable text must barely deflate")
    assert(rep < 150, "pure repetition must collapse")
  }

  test("trigram LM: repetition scores above rare text; cap forces OOV; short docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b c a b c"),
      (2L, "x y z q w e r t v u i o"),
      (3L, "one two")).toDF("doc_id", "text")
    val got = TextQualityOps.trigramLogProb(docs, "doc_id", "text", maxVocab = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(!got.contains(3L), "2-token doc has no trigram evidence")
    // doc 1's single repeated trigram dominates the capped table; doc 2's
    // ten distinct trigrams mostly fall outside the cap of 4
    assert(got(1L)._3 > got(2L)._3,
      s"repeated trigrams must score higher: ${got(1L)._3} vs ${got(2L)._3}")
    assert(got(2L)._2 > 0, "cap must push doc 2's tail trigrams OOV")
    assert(got(1L)._2 == 0, "doc 1's trigrams all survive the cap")
    // interpolation keeps every position finite even when fully OOV
    assert(!got(2L)._3.isNegInfinity)
  }

  test("modified-KN LM: repetition beats rare text; probabilities stay finite; short docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b c a b c"),
      (2L, "x y z q w e r t v u i o"),
      (3L, "one two")).toDF("doc_id", "text")
    val got = TextQualityOps.knTrigramLogProb(docs, "doc_id", "text", maxVocab = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(!got.contains(3L), "2-token doc has no trigram evidence")
    assert(got(1L)._3 > got(2L)._3,
      s"repeated trigrams must score higher: ${got(1L)._3} vs ${got(2L)._3}")
    assert(got(2L)._2 > 0, "cap must push doc 2's tail trigrams OOV")
    // KN interpolation must bottom out at the continuation floor, never -inf
    assert(!got(1L)._3.isNegInfinity && !got(2L)._3.isNegInfinity)
    // the discounted top-order numerator can never push p past 1
    assert(got(1L)._3 <= 0.0, "ln p must be non-positive")
  }

  test("5-gram modified-KN: repetition beats rare text; <5-token docs absent; finite") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e a b c d e a b c d e a b c d e"),
      (2L, "x y z q w e r t v u i o p l k j h g f d"),
      (3L, "one two three four")).toDF("doc_id", "text")
    val got = TextQualityOps.kn5LogProb(docs, "doc_id", "text", maxVocab = 6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(!got.contains(3L), "4-token doc has no 5-gram evidence")
    assert(got(1L)._1 == 16L && got(2L)._1 == 16L, "20 tokens -> 16 5-grams")
    assert(got(1L)._3 > got(2L)._3,
      s"repeated 5-grams must score higher: ${got(1L)._3} vs ${got(2L)._3}")
    assert(got(2L)._2 > 0, "cap must push doc 2's tail 5-grams OOV")
    assert(!got(1L)._3.isNegInfinity && !got(2L)._3.isNegInfinity)
    assert(got(1L)._3 <= 0.0, "ln p must be non-positive")
    // the 5-gram ladder must use MORE context than the trigram one:
    // on the heavily-repeated doc its average log-prob is at least as high
    val tri = TextQualityOps.knTrigramLogProb(docs, "doc_id", "text",
      maxVocab = 6).collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(1L)._3 >= tri(1L) - 1.0,
      "5-gram score on pure repetition should not collapse vs trigram")
  }

  test("per-language kn5 buckets: grouped ladder matches per-language slicing") {
    import spark.implicits._
    // two whitelisted languages with different repetition structure (so
    // their models, discounts and caps genuinely differ), a <5-token doc
    // (absent: no 5-gram evidence), and an off-whitelist language (absent)
    val docs = Seq(
      (1L, "en", "a b c d e a b c d e a b c d e a b c d e"),
      (2L, "en", "x y z q w e r t v u i o p l k j h g f d"),
      (3L, "en", "a b c d e x y z q w a b c d e x y z q w"),
      (4L, "en", "one two three four"),
      (5L, "fr", "le chat dort ici le chat dort ici le chat dort ici bien"),
      (6L, "fr", "un deux trois quatre cinq six sept huit neuf dix onze douze"),
      (7L, "fr", "le chat dort bien un deux trois quatre le chat dort ici"),
      (8L, "de", "der hund lauft schnell der hund lauft schnell der hund lauft"))
      .toDF("doc_id", "lang", "text")
    val langs = Seq("en", "fr")
    // maxVocab = 6 so the per-language df-caps bite differently per model
    val grouped = TextQualityOps.langKn5PerplexityBuckets(
        docs, "doc_id", "text", "lang", langs, maxVocab = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSet
    // reference: the pre-grouping semantics — one full single-corpus
    // ladder per language slice, buckets within the slice, lang appended
    val sliced = langs.flatMap { lg =>
      TextQualityOps.kn5PerplexityBuckets(
          docs.filter(col("lang") === lg), "doc_id", "text", maxVocab = 6)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
          r.getString(3), lg))
    }.toSet
    assert(grouped == sliced,
      s"grouped=${grouped.toSeq.sortBy(_._1)} sliced=${sliced.toSeq.sortBy(_._1)}")
    assert(!grouped.exists(t => t._1 == 4L || t._1 == 8L),
      "short doc and off-whitelist language must be absent")
    assert(grouped.map(_._1) == Set(1L, 2L, 3L, 5L, 6L, 7L))

    def slices[T](lgs: Seq[String])(f: (org.apache.spark.sql.DataFrame, String) => Seq[T]): Set[T] =
      lgs.flatMap(lg => f(docs.filter(col("lang") === lg), lg)).toSet
    // the same lang-keyed ladder at order 3 against knTrigramLogProb per slice
    val kn3 = TextQualityOps.knLogProb(docs.filter(col("lang").isin(langs: _*)),
        "doc_id", "text", 3, Seq("lang"), maxVocab = 6)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val kn3Sliced = slices(langs) { (d, lg) =>
      TextQualityOps.knTrigramLogProb(d, "doc_id", "text", maxVocab = 6).collect()
        .map(r => (r.getLong(0), lg, r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    }
    assert(kn3 == kn3Sliced, s"kn3=${kn3.toSeq.sortBy(_._1)} sliced=${kn3Sliced.toSeq.sortBy(_._1)}")
    assert(kn3.map(_._1) == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // the interpolated trigram per language (every language, no whitelist):
    // scores and buckets against trigramLogProb / perplexityBuckets per slice
    val all = Seq("en", "fr", "de")
    val tri = TextQualityOps.langTrigramLogProb(docs, "doc_id", "text", "lang", maxVocab = 6)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val triSliced = slices(all) { (d, lg) =>
      TextQualityOps.trigramLogProb(d, "doc_id", "text", maxVocab = 6).collect()
        .map(r => (r.getLong(0), lg, r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    }
    assert(tri == triSliced, s"tri=${tri.toSeq.sortBy(_._1)} sliced=${triSliced.toSeq.sortBy(_._1)}")
    assert(tri.map(_._1) == (1L to 8L).toSet)
    val buckets = TextQualityOps.langPerplexityBuckets(docs, "doc_id", "text", "lang",
        maxVocab = 6)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
        r.getString(4))).toSet
    val bucketsSliced = slices(all) { (d, lg) =>
      TextQualityOps.perplexityBuckets(d, "doc_id", "text", maxVocab = 6).collect()
        .map(r => (r.getLong(0), lg, r.getDouble(1), r.getLong(2), r.getString(3))).toSeq
    }
    assert(buckets == bucketsSliced,
      s"buckets=${buckets.toSeq.sortBy(_._1)} sliced=${bucketsSliced.toSeq.sortBy(_._1)}")
  }

  test("containment: embedded document scores ~1 one-way while Jaccard stays low") {
    import spark.implicits._
    val inner = "alpha beta gamma delta epsilon zeta eta theta"
    val outer = ((0 until 30).map("pre" + _) ++ inner.split(" ") ++
      (0 until 30).map("post" + _)).mkString(" ")
    val docs = Seq((1L, inner), (2L, outer),
      (3L, "totally unrelated words live here on their own")).toDF("doc_id", "text")
    val got = DedupOps.containmentPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        ((r.getAs[Double]("cont_a"), r.getAs[Double]("cont_b"),
          r.getAs[Double]("jaccard")))).toMap
    val (ca, cb, j) = got((1L, 2L))
    assert(ca == 1.0, s"inner doc fully contained, got $ca")
    assert(cb < 0.2, s"outer doc barely covered, got $cb")
    assert(j < 0.2, s"symmetric Jaccard must miss this pair, got $j")
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc shares no shingles")
  }

  test("c4 rules: line filter, javascript drop, page poisons, kept-text assembly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "this sentence ends properly.\nshort one\nso does this one!\n" +
        "a quoted line ends here\"\nplease enable javascript to view."),
      (2L, "only one good sentence lives here.\nnope\nnah"),
      (3L, "lorem ipsum dolor sit amet.\nanother fine sentence follows here."),
      (4L, "var x = { a: 1 };\na real sentence is here.\nand another one here."))
      .toDF("doc_id", "text")
    val got = TextQualityOps.c4Rules(docs, "doc_id", "text",
        minLineWords = 3, minLines = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: 5 lines; kept = terminal + >=3 words + no javascript = 3
    assert(got(1L).getLong(1) == 5 && got(1L).getLong(2) == 3)
    assert(got(1L).getBoolean(6), "doc 1 passes the page gate")
    assert(got(1L).getString(7) ==
      "this sentence ends properly. so does this one! a quoted line ends here\"")
    // doc 2: only 1 kept line -> below minLines
    assert(got(2L).getLong(2) == 1 && !got(2L).getBoolean(6))
    // doc 3: lorem ipsum poisons the page even with fine sentences
    assert(got(3L).getBoolean(4) && !got(3L).getBoolean(6))
    // doc 4: curly braces poison the page
    assert(got(4L).getBoolean(5) && !got(4L).getBoolean(6))
  }

  test("gopher rules: word/line-shape fractions and the composed gate") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a normal document with sensible words across several lines\n" +
        "another fluent line of text here\nand one more closing line"),
      (2L, "#### ## ### #tag ##x\n$$$ %%% ^^^ &&&"),            // symbol soup
      (3L, "- one\n- two\n- three\n- four"),                    // all bullets
      (4L, "read the rest...\nclick to continue...\nmore soon…\nok"),
      (5L, "same line\nsame line\nsame line\ndifferent line"),  // dup lines
      (6L, "supercalifragilisticexpialidocious " * 8))          // huge words
      .toDF("doc_id", "text")
    val got = TextQualityOps.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getBoolean(9), "fluent doc must pass")
    assert(!got(2L).getBoolean(9), "symbol soup must fail")
    assert(got(2L).getDouble(3) < 0.8, "symbol soup has few alphabetic words")
    assert(!got(3L).getBoolean(9), "all-bullet doc must fail")
    assert(got(3L).getDouble(6) == 1.0)
    assert(!got(4L).getBoolean(9), "ellipsis-heavy doc must fail")
    assert(got(4L).getDouble(7) == 0.75)
    assert(got(5L).getDouble(8) == 0.5, "2 of 4 lines are duplicates")
    assert(!got(6L).getBoolean(9), "34-char words fail the 3-10 mean")
  }

  test("perplexity buckets: near-equal terciles, head strictly above tail") {
    import spark.implicits._
    // 30 docs across three fluency regimes: repeated fluent phrases,
    // mixed, and unique-token soup
    val docs = (0 until 30).map { i =>
      val text =
        if (i < 10) "the quick brown fox jumps over the lazy dog " * 5
        else if (i < 20) ("the quick brown fox " + (0 until 10)
          .map(j => s"mid${i}x$j").mkString(" "))
        else (0 until 20).map(j => s"junk${i}y$j").mkString(" ")
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val got = TextQualityOps.perplexityBuckets(docs, "doc_id", "text",
        maxVocab = 65536)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(3)))
    val byBucket = got.groupBy(_._3).view.mapValues(_.length).toMap
    // equal-count up to boundary-cell ties
    assert(byBucket.keySet == Set("head", "middle", "tail"), s"got $byBucket")
    assert(byBucket.values.forall(c => c >= 8 && c <= 12), s"got $byBucket")
    // every head score >= every tail score (buckets are score-ordered)
    val headMin = got.filter(_._3 == "head").map(_._2).min
    val tailMax = got.filter(_._3 == "tail").map(_._2).max
    assert(headMin >= tailMax, s"head min $headMin below tail max $tailMax")
    // the fluent-repetition docs land in head, the soup in tail
    assert(got.filter(_._1 < 10).forall(_._3 == "head"))
    assert(got.filter(_._1 >= 20).forall(_._3 == "tail"))
  }

  test("maxEvalCosine refuses a corpus-sized eval side, runs at the bound") {
    import spark.implicits._
    val emb = (0 until 20).map(i => (i.toLong, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    // the operator broadcasts eval whole — a corpus passed as eval would be
    // an accidental all-pairs cross join, so it must fail BEFORE the join
    val ex = intercept[IllegalArgumentException] {
      EmbeddingOps.maxEvalCosine(emb, emb, "vec_id", "embedding",
        maxEvalRows = 10L)
    }
    assert(ex.getMessage.contains("eval side exceeds"))
    // exactly at the bound it runs: every train row scores the eval slice
    val ok = EmbeddingOps.maxEvalCosine(emb, emb.limit(10), "vec_id",
      "embedding", maxEvalRows = 10L)
    assert(ok.count() == 20)
  }
}
