package graft.ops

import scala.collection.mutable

/** Driver-side WordPiece learner — the BERT tokenizer family next to
  * [[BpeTrainer]]'s GPT family (Schuster & Nakajima 2012; the
  * likelihood-merge description published with BERT and implemented by
  * the public HF `tokenizers` trainer). Same corpus contract as BPE —
  * ONE distributed pass builds the capped (word, freq) vocabulary, the
  * merge loop never touches the corpus again — but:
  *
  *  - initial symbols carry the continuation prefix: `word` →
  *    `w, ##o, ##r, ##d`, and a merge of (a, b) produces
  *    `a + b-without-##` (so `##r + ##d = ##rd`);
  *  - selection maximizes the LIKELIHOOD score count(ab) /
  *    (count(a)·count(b)) rather than the raw pair count — rare symbols
  *    merge first, which is what gives WordPiece its morphology-shaped
  *    vocab. The score is quantized to an exact micro-unit integer
  *    `⌊10⁶·cnt/(ca·cb)⌋` (BigInt intermediate — at corpus scale
  *    ca·cb overflows 64 bits; the oracle's HUGEINT replays it), ties
  *    broken (cnt desc, a asc, b asc) — a strict total order, so the
  *    merge sequence is engine-exact.
  *
  * Unlike BPE (whose scores depend only on the merged pair), every
  * adopted merge moves the DENOMINATOR counts of all pairs sharing a
  * symbol, so the loop recounts pairs + symbols per round — bounded by
  * the CAPPED vocabulary (≤ maxVocab words), not the corpus: the cost
  * profile a 100 TB corpus sees is identical to BPE's (one corpus
  * pass + driver milliseconds).
  */
object WordPieceTrainer {

  /** `##`-aware merged-symbol text. */
  def mergeSym(a: String, b: String): String =
    a + (if (b.startsWith("##")) b.substring(2) else b)

  /** Initial WordPiece symbols of a word. */
  def initSymbols(w: String): Array[String] =
    w.toCharArray.zipWithIndex.map { case (c, i) =>
      if (i == 0) String.valueOf(c) else "##" + c }

  /** Learn `nMerges` merges; returns (a, b, pairCount, scoreMicro). */
  def learn(vocab: Array[(String, Long)],
            nMerges: Int): Seq[(String, String, Long, Long)] = {
    val words: Array[Array[String]] = vocab.map(v => initSymbols(v._1))
    val freqs: Array[Long] = vocab.map(_._2)
    val out = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
    val M = BigInt(1000000)
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      val pairs = mutable.HashMap.empty[(String, String), Long]
      val syms = mutable.HashMap.empty[String, Long]
      var wi = 0
      while (wi < words.length) {
        val s = words(wi); val f = freqs(wi)
        var i = 0
        while (i < s.length) {
          syms(s(i)) = syms.getOrElse(s(i), 0L) + f
          if (i + 1 < s.length) {
            val p = (s(i), s(i + 1))
            pairs(p) = pairs.getOrElse(p, 0L) + f
          }
          i += 1
        }
        wi += 1
      }
      if (pairs.isEmpty) done = true
      else {
        var best: (String, String) = null
        var bestScore = BigInt(-1)
        var bestCnt = 0L
        pairs.foreach { case (p, c) =>
          val score = (BigInt(c) * M) / (BigInt(syms(p._1)) * BigInt(syms(p._2)))
          if (best == null || score > bestScore ||
              (score == bestScore && (c > bestCnt ||
                (c == bestCnt && (p._1 < best._1 ||
                  (p._1 == best._1 && p._2 < best._2)))))) {
            best = p; bestScore = score; bestCnt = c
          }
        }
        out += ((best._1, best._2, bestCnt, bestScore.toLong))
        val m = mergeSym(best._1, best._2)
        var w = 0
        while (w < words.length) {
          val s = words(w)
          var has = false
          var i = 0
          while (!has && i < s.length - 1) {
            has = s(i) == best._1 && s(i + 1) == best._2; i += 1 }
          if (has) {
            val nb = new mutable.ArrayBuffer[String](s.length)
            var j = 0
            while (j < s.length) {
              if (j + 1 < s.length && s(j) == best._1 && s(j + 1) == best._2) {
                nb += m; j += 2
              } else { nb += s(j); j += 1 }
            }
            words(w) = nb.toArray
          }
          w += 1
        }
        round += 1
      }
    }
    out.toSeq
  }
}
