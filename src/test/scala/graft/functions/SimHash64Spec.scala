package graft.functions

import org.apache.spark.sql.functions._
import graft.{SparkSuite, Tables}
import graft.ops.TextOps

/** The native SimHash64 expression vs the pure-SQL aggregate formulation —
  * must be bit-identical on real documents (the DuckDB oracle pins the same
  * semantics a third way).
  */
class SimHash64Spec extends SparkSuite {

  test("native expression == aggregate formulation on sf0.001 documents") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val native = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .selectExpr("doc_id", "simhash64(__toks) AS simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAggs = TextOps.simhash(docs, "doc_id", "text", 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.size == viaAggs.size && native.nonEmpty)
    native.foreach { case (id, fp) =>
      assert(viaAggs(id) == fp, s"doc $id: native=$fp aggs=${viaAggs(id)}")
    }
  }

  test("duplicate tokens don't change the fingerprint (distinct semantics)") {
    import spark.implicits._
    val df = Seq((1L, "a b c a b c a"), (2L, "a b c")).toDF("id", "text")
      .select(col("id"), TextOps.tokens(col("text")).as("__toks"))
      .selectExpr("id", "simhash64(__toks) AS fp")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(df(1L) == df(2L))
  }
}
