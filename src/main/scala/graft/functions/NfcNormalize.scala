package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
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
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs string, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfcNormalize.normalize($c);")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {

  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
