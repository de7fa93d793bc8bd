package graft.functions

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import scala.jdk.CollectionConverters._

/** Z-order clustering: the interleave against a naive bit-by-bit
  * reference, the loud range contract, and — the point of the whole
  * operator — a MACHINE-ASSERTED parquet data-skipping win: the same
  * rows written z-ordered vs single-column-sorted, the same two-sided
  * box predicate, and the candidate row groups counted from the real
  * parquet footer min/max statistics (exactly the pruning input Spark
  * and every lakehouse engine use). The z layout must shrink the
  * candidate set by at least 2× on a box that the single-column sort
  * can only prune on one side.
  */
class ZOrderSpec extends SparkSuite {
  import spark.implicits._

  private def naive(a: Long, b: Long): Long = {
    var z = 0L
    for (i <- 0 until 31) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
    }
    z
  }

  test("magic-mask interleave == naive bit loop; order embeds boxes") {
    val vals = Seq(0L, 1L, 2L, 3L, 65535L, 65536L, 123456789L,
      0x7fffffffL, 0x55555555L, 0x2aaaaaaaL)
    for (a <- vals; b <- vals)
      assert(ZOrderExprs.z2(a, b) == naive(a, b), s"($a, $b)")
    // non-negative result for full-range inputs (bit 62 is the top)
    assert(ZOrderExprs.z2(0x7fffffffL, 0x7fffffffL) == (1L << 62) - 1)
  }

  test("out-of-range input fails loudly, null propagates") {
    intercept[IllegalArgumentException](ZOrderExprs.z2(-1L, 0L))
    intercept[IllegalArgumentException](ZOrderExprs.z2(0L, 1L << 31))
    val r = Seq((1L, 2L)).toDF("a", "b")
      .selectExpr("zorder2(a, b) AS z", "zorder2(a, CAST(NULL AS BIGINT)) AS zn")
      .collect()(0)
    assert(r.getLong(0) == naive(1L, 2L) && r.isNullAt(1))
  }

  /** Candidate row groups for p ∈ [pLo,pHi] ∧ s ∈ [sLo,sHi] from footer
    * stats — a row group survives if BOTH column ranges intersect.
    */
  private def candidates(dir: String, pLo: Long, pHi: Long, sLo: Long,
      sHi: Long): (Int, Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(dir).getFileSystem(conf)
    val it = fs.listFiles(new Path(dir), true)
    val files = scala.collection.mutable.ArrayBuffer[Path]()
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) files += f
    }
    var total = 0
    var cand = 0
    for (f <- files) {
      val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        for (blk <- rdr.getFooter.getBlocks.asScala) {
          total += 1
          def range(col: String): (Long, Long) = {
            val c = blk.getColumns.asScala
              .find(_.getPath.toDotString == col).get
            val st = c.getStatistics
            (st.genericGetMin.asInstanceOf[Number].longValue(),
              st.genericGetMax.asInstanceOf[Number].longValue())
          }
          val (pmn, pmx) = range("l_partkey")
          val (smn, smx) = range("l_suppkey")
          if (pmx >= pLo && pmn <= pHi && smx >= sLo && smn <= sHi) cand += 1
        }
      } finally rdr.close()
    }
    (total, cand)
  }

  test("z-ordered layout prunes a 2-D box >= 2x better than 1-D sort") {
    val li = Tables.lineitem(spark, sf("sf0.01"))
      .select(col("l_partkey"), col("l_suppkey"))
    val stats = li.agg(
      min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
      min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))
    val Array(pmin, pmax, smin, smax) =
      stats.collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val keyed = li.crossJoin(broadcast(stats))
      .withColumn("pb", expr("((l_partkey - pmin) * 65536) div (pmax - pmin + 1)"))
      .withColumn("sb", expr("((l_suppkey - smin) * 65536) div (smax - smin + 1)"))
      .withColumn("z", expr("zorder2(pb, sb)"))
      .select(col("l_partkey"), col("l_suppkey"), col("pb"), col("z"))

    withTempDir("graft_zorder_") { tmp =>
      val base = tmp.toString
      // 128 DETERMINISTIC buckets per layout (top 7 bits of the z-value /
      // of the partkey rank), written as one directory each via
      // partitionBy — every file carries exactly one bucket, so the
      // footer stats measure the layout itself, not range-sampler noise
      def write(df: DataFrame, bucket: org.apache.spark.sql.Column,
          out: String): Unit =
        df.withColumn("bucket", bucket)
          .select(col("bucket"), col("l_partkey"), col("l_suppkey"))
          .repartition(1)
          .write.mode("overwrite").partitionBy("bucket").parquet(out)
      write(keyed, shiftright(col("z"), 25), s"$base/zorder")
      write(keyed, shiftright(col("pb"), 9), s"$base/bykey")

      // a box covering ~1/8 of each dimension at an unaligned offset
      // (1/16 in) — z-order's realistic case; a box straddling the
      // dataset midpoint would cross the curve's top-level quadrant
      // split, its documented worst case
      def box(lo: Long, hi: Long): (Long, Long) = {
        val w = hi - lo + 1
        (lo + w / 16, lo + w / 16 + w / 8)
      }
      val (pLo, pHi) = box(pmin, pmax)
      val (sLo, sHi) = box(smin, smax)
      val (tz, cz) = candidates(s"$base/zorder", pLo, pHi, sLo, sHi)
      val (tk, ck) = candidates(s"$base/bykey", pLo, pHi, sLo, sHi)
      info(s"z-order: $cz/$tz candidate row groups; 1-D sort: $ck/$tk")
      assert(tz >= 64 && tk >= 64, "expected ~128 row groups per layout")
      assert(cz * 2 <= ck,
        s"z-order candidates $cz should be >= 2x fewer than 1-D sort's $ck")
      // correctness unchanged by layout: the box returns identical counts
      val q = (d: String) => spark.read.parquet(d)
        .filter(col("l_partkey").between(pLo, pHi) &&
          col("l_suppkey").between(sLo, sHi)).count()
      assert(q(s"$base/zorder") == q(s"$base/bykey"))
    }
  }
}
