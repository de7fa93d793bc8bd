package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII detection and redaction over a text column — the scrubbing gate
  * every published pretraining pipeline runs before release (BigCode's
  * PII pass, C4's blocklist step). Six detector classes:
  *
  *   - email addresses (RFC-5322-practical shape),
  *   - North-American phone numbers (`NNN-NNN-NNNN`),
  *   - SSNs (`NNN-NN-NNNN`),
  *   - IPv4 addresses with octet-range validation (`300.1.2.3` is a
  *     candidate but not a valid address),
  *   - payment-card numbers, 13–19 contiguous digits validated by the
  *     Luhn mod-10 checksum (ISO/IEC 7812-1) — shape alone over-fires
  *     on invoice/order numbers,
  *   - German-format IBANs (`DE` + 2 check digits + 18 BBAN digits)
  *     validated by the ISO 13616 mod-97 rule.
  *
  * Everything is scan-side native SQL — `regexp_extract_all` plus
  * higher-order `filter` lambdas carrying the checksum arithmetic —
  * zero shuffle, zero UDFs, so the detector runs at full codegen speed
  * on 100 TB and a DuckDB oracle replays every count bit-for-bit. The
  * [[PiiOps.sql]] builders emit the SAME expression in both dialects
  * (differences are confined to function names and literal escaping),
  * which is what makes the driver's hash compare exact rather than
  * within-epsilon.
  *
  * Redaction is deliberately SHAPE-level (no checksum): the standard
  * posture is to over-redact — a digit run that merely looks like a
  * card must not survive into a training set even if its Luhn digit is
  * wrong. Detection counts are checksum-validated; redaction counts are
  * shape counts.
  *
  * Reference anchor: the reference's allow-list projection + regex
  * parsing discipline (data_pipeline/data_parsing.py:21-38) — same
  * declare-columns-then-let-the-engine-scan shape, applied to the
  * curation axis the reference does not cover.
  */
object PiiOps {

  /** Dialect-shared SQL fragment builders. `duck = false` → Spark SQL,
    * `duck = true` → DuckDB. Patterns avoid `\.` (written `[.]`) so the
    * only escaping difference is `\b`, handled by [[lit]].
    */
  object sql {
    val Email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
    val Ipv4 = "\\b(?:[0-9]{1,3}[.]){3}[0-9]{1,3}\\b"
    val Phone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
    val Ssn = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
    val Card = "\\b[0-9]{13,19}\\b"
    val IbanDe = "\\bDE[0-9]{20}\\b"

    /** Quote a regex as a string literal. Spark's parser consumes one
      * level of backslash escaping inside literals; DuckDB's does not.
      */
    private def lit(p: String, duck: Boolean): String =
      "'" + (if (duck) p else p.replace("\\", "\\\\")) + "'"

    private def len(duck: Boolean) = if (duck) "len" else "size"
    private def flt(duck: Boolean) = if (duck) "list_filter" else "filter"

    private def extract(t: String, p: String, duck: Boolean): String =
      s"regexp_extract_all($t, ${lit(p, duck)}, 0)"

    /** Count of matches of `p` in `t` as BIGINT (0 for null text). */
    def shapeCount(t: String, p: String, duck: Boolean): String =
      s"COALESCE(CAST(${len(duck)}(${extract(t, p, duck)}) AS BIGINT), 0)"

    /** IPv4 candidates whose four octets are all <= 255. */
    def ipv4ValidCount(t: String, duck: Boolean): String = {
      val split =
        if (duck) "string_split(x, '.')" else "split(x, '[.]')"
      s"COALESCE(CAST(${len(duck)}(${flt(duck)}(${extract(t, Ipv4, duck)}, " +
        s"x -> ${len(duck)}(${flt(duck)}($split, " +
        s"o -> CAST(o AS INT) > 255)) = 0)) AS BIGINT), 0)"
    }

    /** Luhn mod-10 sum of a contiguous digit string `x` (a lambda
      * variable), unrolled right-to-left over the 19 possible digit
      * positions. Doubled digits fold as 2d when d<5 else 2d-9. Absent
      * positions (substr past the end → '') contribute 0 via TRY_CAST.
      */
    private def luhnSum(x: String): String =
      (1 to 19).map { k =>
        val v = s"COALESCE(TRY_CAST(substr(reverse($x), $k, 1) AS INT), 0)"
        if (k % 2 == 1) v
        else s"(CASE WHEN $v < 5 THEN 2 * $v ELSE 2 * $v - 9 END)"
      }.mkString("(", " + ", ")")

    /** Card candidates passing the Luhn checksum. */
    def cardLuhnCount(t: String, duck: Boolean): String =
      s"COALESCE(CAST(${len(duck)}(${flt(duck)}(${extract(t, Card, duck)}, " +
        s"x -> ${luhnSum("x")} % 10 = 0)) AS BIGINT), 0)"

    /** mod-97 of a 24-digit string expression, folded in four 6-digit
      * chunks (each intermediate < 97e6, well inside BIGINT). Public so
      * fixtures can COMPUTE correct check digits with the same
      * arithmetic the validator replays.
      */
    def mod97Of24(u: String): String =
      (1 to 4).foldLeft("0") { (acc, k) =>
        s"(($acc * 1000000 + CAST(substr($u, ${6 * k - 5}, 6) AS BIGINT)) % 97)"
      }

    /** ISO 13616 mod-97 of a DE IBAN lambda variable `x`: rearrange to
      * BBAN + 'DE'(=1314) + check digits — 24 digits.
      */
    private def ibanMod97(x: String): String =
      mod97Of24(s"concat(substr($x, 5, 18), '1314', substr($x, 3, 2))")

    /** DE-format IBAN candidates passing mod-97 == 1. */
    def ibanValidCount(t: String, duck: Boolean): String =
      s"COALESCE(CAST(${len(duck)}(${flt(duck)}(${extract(t, IbanDe, duck)}, " +
        s"x -> ${ibanMod97("x")} = 1)) AS BIGINT), 0)"

    /** Shape-level redaction: chained regexp_replace with typed
      * placeholders, most-specific class first so a redacted span can't
      * be re-matched by a broader pattern.
      */
    def redacted(t: String, duck: Boolean): String = {
      val g = if (duck) ", 'g'" else ""
      Seq(Email -> "<EMAIL>", IbanDe -> "<IBAN>", Card -> "<CARD>",
        Ssn -> "<SSN>", Phone -> "<PHONE>", Ipv4 -> "<IP>")
        .foldLeft(t) { case (acc, (p, r)) =>
          s"regexp_replace($acc, ${lit(p, duck)}, '$r'$g)"
        }
    }
  }

  /** Per-row validated detection counts appended to `df`:
    * `n_email, n_phone, n_ssn, n_ipv4_valid, n_card_luhn, n_iban_valid,
    * pii_total`. Pure scan-side projection — the physical plan has no
    * exchange (PiiSpec asserts this).
    */
  def detect(df: DataFrame, textCol: String): DataFrame = {
    val t = textCol
    val d = false
    df.withColumn("n_email", expr(sql.shapeCount(t, sql.Email, d)))
      .withColumn("n_phone", expr(sql.shapeCount(t, sql.Phone, d)))
      .withColumn("n_ssn", expr(sql.shapeCount(t, sql.Ssn, d)))
      .withColumn("n_ipv4_valid", expr(sql.ipv4ValidCount(t, d)))
      .withColumn("n_card_luhn", expr(sql.cardLuhnCount(t, d)))
      .withColumn("n_iban_valid", expr(sql.ibanValidCount(t, d)))
      .withColumn("pii_total",
        col("n_email") + col("n_phone") + col("n_ssn") +
          col("n_ipv4_valid") + col("n_card_luhn") + col("n_iban_valid"))
  }
}
