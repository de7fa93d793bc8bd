package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.ops.EmbeddingOps

/** Parity and semantics for the native vector expressions
  * (vec_dot / cosine_sim / vec_norm_l2 / vec_dot_int).
  *
  * The contract (VectorExprs.scala scaladoc): bit-identical results to the
  * `zip_with`+`aggregate` HOF formulation (same sequential left fold in
  * doubles), null on null array / null element / length mismatch, and the
  * same answers on the interpreted (`eval`) and codegen (`doGenCode`)
  * paths.
  */
class VectorExprsSpec extends SparkSuite {
  import spark.implicits._

  private val rng = new scala.util.Random(42)
  private def vecF(n: Int): Array[Float]  = Array.fill(n)(rng.nextFloat() * 4f - 2f)
  private def vecD(n: Int): Array[Double] = Array.fill(n)(rng.nextDouble() * 4 - 2)

  /** Run `body` under each codegen factory mode so both the compiled and
    * interpreted evaluation paths of the expressions are exercised.
    */
  private def inBothCodegenModes(body: => Unit): Unit =
    Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach { mode =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try body
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }

  test("vec_dot / vec_norm_l2 / cosine_sim are bit-identical to the HOF fold (float arrays)") {
    val df = (1 to 200).map(i => (i.toLong, vecF(64), vecF(64))).toDF("id", "a", "b")
    df.cache().count()
    inBothCodegenModes {
      val both = df.select(
        EmbeddingOps.dot(col("a"), col("b")).as("dn"),
        EmbeddingOps.dotHof(col("a"), col("b")).as("dh"),
        EmbeddingOps.l2Norm(col("a")).as("nn"),
        EmbeddingOps.l2NormHof(col("a")).as("nh"),
        EmbeddingOps.cosine(col("a"), col("b")).as("cn"),
        EmbeddingOps.cosineHof(col("a"), col("b")).as("ch")
      ).collect()
      both.foreach { r =>
        // == on Double: bit-identical up to +0.0/-0.0, which the sequential
        // fold cannot produce from nonzero inputs; NaN would fail, as it should
        assert(r.getDouble(0) == r.getDouble(1), "dot parity")
        assert(r.getDouble(2) == r.getDouble(3), "norm parity")
        assert(r.getDouble(4) == r.getDouble(5), "cosine parity")
      }
    }
    df.unpersist()
  }

  test("parity holds on double arrays too") {
    val df = (1 to 100).map(i => (i.toLong, vecD(48), vecD(48))).toDF("id", "a", "b")
    inBothCodegenModes {
      val rows = df.select(
        EmbeddingOps.dot(col("a"), col("b")).as("dn"),
        EmbeddingOps.dotHof(col("a"), col("b")).as("dh"),
        EmbeddingOps.cosine(col("a"), col("b")).as("cn"),
        EmbeddingOps.cosineHof(col("a"), col("b")).as("ch")
      ).collect()
      rows.foreach { r =>
        assert(r.getDouble(0) == r.getDouble(1))
        assert(r.getDouble(2) == r.getDouble(3))
      }
    }
  }

  test("null array, null element, and length mismatch all yield null") {
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = true), nullable = true),
      StructField("b", ArrayType(FloatType, containsNull = true), nullable = true)))
    val rows = Seq(
      Row(null, Seq(1f, 2f)),                  // null left array
      Row(Seq(1f, 2f), null),                  // null right array
      Row(Seq(1f, null), Seq(1f, 2f)),         // null element
      Row(Seq(1f, 2f, 3f), Seq(1f, 2f))        // length mismatch
    )
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(
        Option(r.get(0)).map(_.asInstanceOf[Seq[Any]]).orNull,
        Option(r.get(1)).map(_.asInstanceOf[Seq[Any]]).orNull)), 1), schema)
    inBothCodegenModes {
      val out = df.select(
        EmbeddingOps.dot(col("a"), col("b")).as("d"),
        EmbeddingOps.cosine(col("a"), col("b")).as("c"),
        EmbeddingOps.l2Norm(col("a")).as("n")).collect()
      out.foreach { r =>
        assert(r.isNullAt(0), s"dot should be null: $r")
        assert(r.isNullAt(1), s"cosine should be null: $r")
      }
      assert(out(0).isNullAt(2))      // null array → null norm
      assert(out(2).isNullAt(2))      // null element → null norm
      assert(!out(3).isNullAt(2))     // norm is unary: length mismatch N/A
    }
  }

  test("vec_dot_int is exact on long/int arrays (no FP rounding)") {
    // values large enough that a double-typed dot would round (2^53 limit)
    val a = Array(1000000007L, 998244353L, 3L)
    val b = Array(1000000009L, 2L, 1L)
    val expected = a.zip(b).map { case (x, y) => x * y }.sum
    val df = Seq((a, b)).toDF("a", "b")
    inBothCodegenModes {
      val got = df.selectExpr("vec_dot_int(a, b) AS d").collect().head.getLong(0)
      assert(got == expected)
    }
  }

  test("SQL registration: vec_dot/cosine_sim/vec_norm_l2 resolve and match the typed API") {
    val df = (1 to 20).map(i => (i.toLong, vecF(16), vecF(16))).toDF("id", "a", "b")
    df.createOrReplaceTempView("vex")
    val viaSql = spark.sql(
      "SELECT vec_dot(a,b) AS d, cosine_sim(a,b) AS c, vec_norm_l2(a) AS n FROM vex ORDER BY d")
      .collect()
    val viaApi = df.select(
      EmbeddingOps.dot(col("a"), col("b")).as("d"),
      EmbeddingOps.cosine(col("a"), col("b")).as("c"),
      EmbeddingOps.l2Norm(col("a")).as("n")).orderBy("d").collect()
    assert(viaSql.toSeq == viaApi.toSeq)
  }

  test("scoring stage stays inside WholeStageCodegen") {
    // RDD-backed source: a local Seq would constant-fold to LocalTableScan
    // (ConvertToLocalRelation) and leave nothing for codegen to show
    val df = spark.sparkContext
      .parallelize((1 to 50).map(i => (i.toLong, vecF(16), vecF(16))), 2)
      .toDF("id", "a", "b")
    val plan = df.select(EmbeddingOps.cosine(col("a"), col("b")).as("s"))
      .filter(col("s") > 0.0)
    val formatted = plan.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // formatted mode marks codegen membership as "[codegen id : N]"
    assert(formatted.contains("codegen id"), formatted)
    // the HOF forms would show aggregate(zip_with(...)) lambda nodes here
    assert(!formatted.contains("zip_with"), "native path should not use HOF lambdas")
  }
}
