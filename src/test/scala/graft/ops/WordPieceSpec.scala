package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.WordPieceApply

/** WordPiece trainer + greedy inference unit properties: likelihood
  * (not raw-count) merge selection, ##-aware symbol algebra, quantized
  * integer scores, longest-match-first segmentation, [UNK] collapse.
  */
class WordPieceSpec extends AnyFunSuite {

  /** Greedy longest-match-first WordPiece inference (the published
    * algorithm: repeatedly take the longest vocab piece matching a prefix
    * of the rest of the word, `##`-prefixed after the first piece; a word
    * with any unmatchable position becomes one `[UNK]`) — the reference
    * encoder the native [[WordPieceApply]] is held to.
    */
  private def encodeWord(w: String, vocab: Set[String]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      var j = w.length
      var hit: String = null
      while (hit == null && j > i) {
        val cand = (if (i == 0) "" else "##") + w.substring(i, j)
        if (vocab.contains(cand)) hit = cand else j -= 1
      }
      if (hit == null) return Seq("[UNK]")
      out += hit
      i = j
    }
    out.toSeq
  }

  test("likelihood selection prefers rare-symbol pairs over frequent pairs") {
    // "ab" appears 100x (common symbols), "xq" 2x (rare symbols):
    // score(ab) = 100/(100·100) = 0.01 < score(xq) = 2/(2·2) = 0.5 —
    // raw-count BPE would pick (a,b); WordPiece must pick (x,##q)
    val vocab = Array(("ab", 100L), ("xq", 2L))
    val m = WordPieceTrainer.learn(vocab, 1)
    assert(m.head._1 == "x" && m.head._2 == "##q")
    assert(m.head._3 == 2L) // pair count
    assert(m.head._4 == 500000L) // ⌊10⁶·2/(2·2)⌋
  }

  test("quantized micro scores are exact integer arithmetic") {
    // single word "aa"x3: pair (a,##a) cnt=3, ca: 'a' appears 3, '##a' 3
    // score = ⌊3e6/(3·3)⌋ = 333333
    val m = WordPieceTrainer.learn(Array(("aa", 3L)), 1)
    assert(m.head._4 == 333333L)
  }

  test("merge symbol strips the continuation prefix of the right side") {
    assert(WordPieceTrainer.mergeSym("a", "##b") == "ab")
    assert(WordPieceTrainer.mergeSym("##a", "##b") == "##ab")
    assert(WordPieceTrainer.mergeSym("a", "b") == "ab")
    assert(WordPieceTrainer.initSymbols("word").toSeq ==
      Seq("w", "##o", "##r", "##d"))
  }

  test("training saturates when every word is one symbol") {
    val m = WordPieceTrainer.learn(Array(("ab", 5L), ("cd", 1L)), 10)
    assert(m.size == 2) // one merge per word, then no pairs remain
  }

  test("greedy inference: longest match first, ## continuation, [UNK]") {
    val vocab = Set("un", "##aff", "##able", "##ffa", "a", "##b", "##l", "##e",
      "##a", "##f")
    // longest-first at pos 0: "un"; then "##aff" (len 5 beats ##a/##f)
    assert(encodeWord("unaffable", vocab) ==
      Seq("un", "##aff", "##able"))
    // unmatchable start → [UNK]
    assert(encodeWord("zoo", vocab) == Seq("[UNK]"))
    // unmatchable middle → whole word [UNK]
    assert(encodeWord("unz", vocab) == Seq("[UNK]"))
  }

  test("native expression agrees with the reference encoder") {
    val vocab = Seq("un", "##aff", "##able", "a", "##b")
    val set = WordPieceApply.buildSet(vocab)
    def enc(w: String) = WordPieceApply.encode(
      org.apache.spark.unsafe.types.UTF8String.fromString(w), set).toString
    assert(enc("unaffable") == "un ##aff ##able")
    assert(enc("ab") == "a ##b")
    assert(enc("zoo") == "[UNK]")
    assert(enc("") == "")
  }
}
