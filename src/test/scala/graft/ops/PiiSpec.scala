package graft.ops

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._

/** Hostile-input matrix for the PII detectors + decontamination, plus
  * the scale-shape plan audits (detection must stay a scan-side
  * projection; decontamination must broadcast the benchmark side).
  */
class PiiSpec extends SparkSuite {

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private def detectOne(text: String): Row = {
    val df = spark.createDataFrame(
      java.util.List.of(Row(1L, text)),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("t", StringType))))
    PiiOps.detect(df, "t").collect()(0)
  }

  private def counts(text: String): Map[String, Long] = {
    val r = detectOne(text)
    Seq("n_email", "n_phone", "n_ssn", "n_ipv4_valid", "n_card_luhn",
      "n_iban_valid").map(c => c -> r.getAs[Long](c)).toMap
  }

  test("checksum validators accept known-good and reject off-by-one") {
    // DE89 3704 0044 0532 0130 00 — the ISO 13616 worked example
    assert(counts("pay DE89370400440532013000 now")("n_iban_valid") == 1L)
    assert(counts("pay DE88370400440532013000 now")("n_iban_valid") == 0L)
    // canonical Luhn-valid PAN; +1 on the check digit must fail
    assert(counts("card 4111111111111111 ok")("n_card_luhn") == 1L)
    assert(counts("card 4111111111111112 ok")("n_card_luhn") == 0L)
    // Luhn-valid but 11 digits — below the 13-digit PAN floor
    assert(counts("num 79927398713 here")("n_card_luhn") == 0L)
  }

  test("a 25-digit run is not a card (word-boundary gate, both ends)") {
    assert(counts("id 1111111111111111111111111 x")("n_card_luhn") == 0L)
  }

  test("ipv4 octet-range validation") {
    val c = counts("a 255.255.255.255 b 999.1.2.3 c 10.0.0.1 d")
    assert(c("n_ipv4_valid") == 2L)
  }

  test("non-ASCII digits never match the [0-9] classes") {
    val c = counts("ssn ١٢٣-٤٥-٦٧٨٩ end")
    assert(c.values.sum == 0L)
  }

  test("email shape: 2+ letter TLD required, no double @") {
    assert(counts("mail a@b.co x")("n_email") == 1L)
    assert(counts("mail a@b.c x")("n_email") == 0L)
    assert(counts("mail user@@x.com x")("n_email") == 0L)
  }

  test("null text yields zero counts, not nulls") {
    val c = counts(null)
    assert(c.values.forall(_ == 0L))
  }

  test("redaction removes every detectable shape (re-detect finds nothing)") {
    val dirty = "user9@example.com 415-555-0100 078-05-1120 10.1.2.3 " +
      "4111111111111111 DE89370400440532013000"
    val df = spark.createDataFrame(
      java.util.List.of(Row(1L, dirty)),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("t", StringType))))
    // the redaction query `text_pii_redact` projects
    val red = df.withColumn("clean", expr(PiiOps.sql.redacted("t", duck = false)))
    val txt = red.collect()(0).getAs[String]("clean")
    assert(txt.contains("<EMAIL>") && txt.contains("<PHONE>") &&
      txt.contains("<SSN>") && txt.contains("<IP>") &&
      txt.contains("<CARD>") && txt.contains("<IBAN>"))
    val re = PiiOps.detect(red.select(col("doc_id"), col("clean").as("t")), "t")
      .collect()(0)
    assert(re.getAs[Long]("pii_total") == 0L)
  }

  test("decontamination flags exactly the docs sharing an n-gram") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different words appear in this sentence here"),
      (3L, "prefix quick brown fox jumps over suffix")
    ).toDF("doc_id", "text")
    val bench = Seq("quick brown fox jumps over").toDF("q")
    val out = DecontamOps.ngramOverlap(docs, "doc_id", "text", bench, "q", 5)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_contaminated") == 1L)
    assert(out(1).getAs[Long]("n_contaminated") == 0L)
    assert(out(2).getAs[Long]("n_contaminated") == 1L)
    assert(out.map(_.getAs[Boolean]("is_contaminated")).toSeq ===
      Seq(true, false, true))
  }

  test("fuzzy decontamination: identical text scores 1000, disjoint scores 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "alpha beta gamma delta epsilon zeta eta UNRELATED TAIL HERE")
    ).toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma delta epsilon zeta eta theta").toDF("q")
    val out = DecontamOps.minhashOverlap(docs, "doc_id", "text", bench, "q",
      estMilliThreshold = 500).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("max_est_milli") == 1000L)
    assert(out(0).getAs[Boolean]("is_fuzzy_contaminated"))
    assert(out(1).getAs[Long]("max_est_milli") == 0L)
    assert(!out(1).getAs[Boolean]("is_fuzzy_contaminated"))
    // shared 6-token prefix: bands collide, estimate strictly between
    val e3 = out(2).getAs[Long]("max_est_milli")
    assert(e3 > 0L && e3 < 1000L, s"partial overlap estimate was $e3")
  }

  test("plan shapes: detect is exchange-free; decontam broadcasts the bench side") {
    val detect = SparkEntry.queries("text_pii_detect")(spark, sf("sf0.001"))
    val pd = detect.queryExecution.executedPlan.toString
    // the only allowed exchange is the final global ORDER BY's range
    // repartition — no aggregation/join shuffle below it
    assert(!pd.contains("hashpartitioning"),
      s"PII detection must not shuffle: $pd")
    assert(!pd.contains("CartesianProduct"))

    Seq("text_decontaminate", "text_decontaminate_fuzzy").foreach { q =>
      val dec = SparkEntry.queries(q)(spark, sf("sf0.001"))
      val pdec = dec.queryExecution.executedPlan.toString
      assert(pdec.contains("BroadcastHashJoin"),
        s"$q: benchmark probe must be a broadcast join")
      assert(!pdec.contains("CartesianProduct") &&
        !pdec.contains("BroadcastNestedLoopJoin"), q)
    }
  }
}
