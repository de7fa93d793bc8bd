package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a scan-side expression — the first step
  * of real-corpus text hygiene (the same logical string arrives as
  * precomposed é or e+COMBINING ACUTE depending on the source; hashing,
  * dedup keys, shingles, and token counts must not fork on encoding
  * form). Wraps `java.text.Normalizer` (ICU-equivalent NFC per Unicode
  * TR15, the same algorithm DuckDB's `nfc_normalize` implements, which
  * is what lets the oracle replay byte-identically).
  *
  * Fast path: `Normalizer.isNormalized` is O(n) with no allocation and
  * true for virtually all real text (and all ASCII) — the expression
  * returns the input UTF8String unchanged without a decode/encode round
  * trip unless normalization actually has work to do.
  */
object NfcNormalize {

  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
