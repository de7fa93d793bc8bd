package graft.vesc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Per-channel normalization statistics (reference A1/M1:
  * model/normalize.py:37-75, model/model_training.py:39-41).
  *
  * `fit` reproduces the reference's accumulation formula exactly —
  * sum / sumsq / count over finite values, `var = clamp(E[x²]−E[x]², 1e-12)`,
  * `std = sqrt(var + 1e-8)` — as one distributed aggregation (partial + final
  * hash agg; the reference's batch loop is the same partial aggregation done
  * by hand). The resulting stats table is tiny and broadcast to the scorer.
  */
object Normalizer {

  /** One row per channel: (channel, mean, std, n). */
  def fit(df: DataFrame, featureCols: Seq[String] = VescSchema.FeatureCols): DataFrame = {
    val feats = featureCols.filter(df.columns.contains)
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = feats.flatMap { c =>
      val v = when(col(c).isNotNull && !isnan(col(c)), col(c))
      Seq(sum(v).as(s"__s_$c"), sum(v * v).as(s"__q_$c"),
        count(v).cast(DoubleType).as(s"__n_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val stats = feats.zipWithIndex.map { case (c, i) =>
      val s = Option(row.get(i * 3)).fold(0.0)(_.asInstanceOf[Double])
      val q = Option(row.get(i * 3 + 1)).fold(0.0)(_.asInstanceOf[Double])
      val n = math.max(row.getDouble(i * 3 + 2), 1.0)
      val mean = s / n
      val variance = math.max(q / n - mean * mean, 1e-12)
      (c, mean, math.sqrt(variance + 1e-8), n.toLong)
    }
    stats.toDF("channel", "mean", "std", "n")
  }

  /** Persist / load the stats table (reference S8 `.npz` sink). */
  def save(stats: DataFrame, path: String): Unit =
    stats.coalesce(1).write.mode("overwrite").parquet(path)

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(StatsSchema).parquet(path)

  /** The columns [[fit]] produces and [[load]] reads; declared, so a load
    * infers no schema from the file footers. A stats file without `n` (the
    * bundled one) reads it as null.
    */
  val StatsSchema: StructType = StructType(Seq(StructField("channel", StringType),
    StructField("mean", DoubleType), StructField("std", DoubleType),
    StructField("n", LongType)))

  /** Collect stats into channel order for the scorer. */
  def collectStats(stats: DataFrame, featureCols: Seq[String]):
      (Array[Double], Array[Double]) = {
    val m = stats.select("channel", "mean", "std").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val mean = featureCols.map(c => m(c)._1).toArray
    val std = featureCols.map(c => m(c)._2).toArray
    (mean, std)
  }

  /** Column-wise z-score transform of a flat table (M1). */
  def transform(df: DataFrame, stats: DataFrame,
                featureCols: Seq[String] = VescSchema.FeatureCols): DataFrame = {
    val (mean, std) = collectStats(stats, featureCols.filter(df.columns.contains))
    featureCols.filter(df.columns.contains).zipWithIndex.foldLeft(df) {
      case (acc, (c, i)) =>
        acc.withColumn(c, (col(c) - lit(mean(i))) / lit(std(i)))
    }
  }
}
