package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Native Catalyst expression: STRICT UTF-8 validity statistics from a
  * binary column — `utf8_stats(bin)` → `struct<n_bytes, n_cp, n_ascii,
  * n_2byte, n_3byte, n_4byte, n_invalid, n_replacement>`.
  *
  * Encoding hygiene is a first-mile curation gate the same way language
  * ID is: crawl payloads routinely carry the WRONG charset (latin-1
  * served as utf-8), truncated multi-byte sequences at fetch boundaries,
  * and U+FFFD replacement characters left by earlier lossy transcodes —
  * all of which poison tokenizers downstream. This expression scans the
  * RAW bytes once (before any string decode can damage the evidence) and
  * counts, per the strict definition (RFC 3629):
  *
  *  - `n_cp` / `n_ascii` / `n_2byte` / `n_3byte` / `n_4byte`: decoded
  *    code points by encoded length;
  *  - `n_invalid`: bytes that start no valid sequence — stray
  *    continuation bytes, overlong prefixes (C0/C1, E0 80-9F, F0 80-8F),
  *    surrogate encodings (ED A0-BF), > U+10FFFF (F5-FF), and truncated
  *    sequences. One count per offending lead byte, resync at the next
  *    byte (the standard replacement policy's error granularity);
  *  - `n_replacement`: decoded U+FFFD code points (EF BF BD) — the scar
  *    tissue of a PREVIOUS lossy decode, invisible to validity checks.
  *
  * Gates derive directly: `n_invalid = 0` is well-formed;
  * `n_replacement / n_cp` high means an upstream transcode already lost
  * the text; `n_ascii / n_cp` is the cheap script heuristic.
  *
  * Scale shape: scan-side expression inside WholeStageCodegen (static
  * call, the [[ImageHash]] pattern); each blob reduces to eight ints
  * before anything shuffles.
  */
object Utf8Stats {

  val schema: StructType = StructType(Seq(
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("n_cp", IntegerType, nullable = false),
    StructField("n_ascii", IntegerType, nullable = false),
    StructField("n_2byte", IntegerType, nullable = false),
    StructField("n_3byte", IntegerType, nullable = false),
    StructField("n_4byte", IntegerType, nullable = false),
    StructField("n_invalid", IntegerType, nullable = false),
    StructField("n_replacement", IntegerType, nullable = false)))

  /** Invoked from both interpreted eval and generated code. */
  def stats(b: Array[Byte]): InternalRow = {
    val n = b.length
    var cp = 0
    var ascii = 0
    var two = 0
    var three = 0
    var four = 0
    var invalid = 0
    var repl = 0
    var i = 0
    @inline def cont(j: Int): Boolean = j < n && (b(j) & 0xc0) == 0x80
    while (i < n) {
      val c = b(i) & 0xff
      if (c < 0x80) { ascii += 1; cp += 1; i += 1 }
      else if (c < 0xc2) { invalid += 1; i += 1 } // continuation / overlong C0-C1
      else if (c < 0xe0) { // 2-byte lead
        if (cont(i + 1)) { two += 1; cp += 1; i += 2 }
        else { invalid += 1; i += 1 }
      } else if (c < 0xf0) { // 3-byte lead
        val b1ok = cont(i + 1) && (c match {
          case 0xe0 => (b(i + 1) & 0xff) >= 0xa0 // overlong
          case 0xed => (b(i + 1) & 0xff) <= 0x9f // surrogates
          case _ => true
        })
        if (b1ok && cont(i + 2)) {
          three += 1; cp += 1
          if (c == 0xef && (b(i + 1) & 0xff) == 0xbf && (b(i + 2) & 0xff) == 0xbd)
            repl += 1
          i += 3
        } else { invalid += 1; i += 1 }
      } else if (c < 0xf5) { // 4-byte lead
        val b1ok = cont(i + 1) && (c match {
          case 0xf0 => (b(i + 1) & 0xff) >= 0x90 // overlong
          case 0xf4 => (b(i + 1) & 0xff) <= 0x8f // > U+10FFFF
          case _ => true
        })
        if (b1ok && cont(i + 2) && cont(i + 3)) { four += 1; cp += 1; i += 4 }
        else { invalid += 1; i += 1 }
      } else { invalid += 1; i += 1 } // F5-FF can start nothing
    }
    new GenericInternalRow(
      Array[Any](n, cp, ascii, two, three, four, invalid, repl))
  }
}
