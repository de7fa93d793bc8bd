package graft.functions

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import scala.jdk.CollectionConverters._

/** Parquet BLOOM-FILTER point-lookup pruning, machine-asserted from the
  * real footers (the [[ZOrderSpec]] posture for the skipping dimension
  * min/max stats can't serve): a layout clustered on partkey makes
  * every row group span the full ORDERKEY range — min/max stats prune
  * NOTHING for an orderkey point lookup — while the written bloom
  * filters prune to the handful of row groups that might contain the
  * key, with zero false negatives. This is exactly the index a 100 TB
  * id-lookup (dedup victim check, provenance fetch) rides on.
  */
class ParquetBloomSpec extends SparkSuite {

  test("bloom prunes an orderkey point lookup that min/max cannot") {
    val li = Tables.lineitem(spark, sf("sf0.01"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    withTempDir("graft_bloom_") { tmp =>
      val out = tmp.toString + "/li"
      // clustered by PARTKEY (16 one-row-group files): orderkeys spread
      // uniformly across every file, so orderkey min/max ~ full range
      li.repartitionByRange(16, col("l_partkey"))
        .sortWithinPartitions(col("l_partkey"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_orderkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_orderkey", "20000")
        .parquet(out)

      val probes = li.select(col("l_orderkey")).distinct()
        .orderBy(col("l_orderkey")).limit(2000)
        .collect().map(_.getLong(0)).grouped(400).map(_.head).toSeq
      assert(probes.size >= 5)

      val conf = spark.sessionState.newHadoopConf()
      val fs = new Path(out).getFileSystem(conf)
      val files = fs.listStatus(new Path(out)).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      var totalRg = 0
      var statCand = 0L
      var bloomCand = 0L
      var falseNeg = 0
      for (f <- files) {
        val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try {
          for (blk <- rdr.getFooter.getBlocks.asScala) {
            totalRg += 1
            val cc = blk.getColumns.asScala
              .find(_.getPath.toDotString == "l_orderkey").get
            val st = cc.getStatistics
            val (mn, mx) = (st.genericGetMin.asInstanceOf[Number].longValue(),
              st.genericGetMax.asInstanceOf[Number].longValue())
            val bloom = rdr.getBloomFilterDataReader(blk).readBloomFilter(cc)
            assert(bloom != null, s"no bloom filter written in ${f.getName}")
            // which keys are truly present in this row group?
            val present = spark.read.parquet(f.toString)
              .filter(col("l_orderkey").isin(probes: _*))
              .select(col("l_orderkey")).distinct()
              .collect().map(_.getLong(0)).toSet
            for (k <- probes) {
              if (k >= mn && k <= mx) statCand += 1
              val maybe = bloom.findHash(bloom.hash(k))
              if (maybe) bloomCand += 1
              if (present(k) && !maybe) falseNeg += 1
            }
          }
        } finally rdr.close()
      }
      info(s"row groups: $totalRg; per-probe candidates — " +
        s"min/max: ${statCand / probes.size}, bloom: ${bloomCand / probes.size}")
      assert(falseNeg == 0, "bloom filter produced a false negative")
      // min/max is weak on this layout (most groups stay candidates —
      // orderkeys correlate mildly with partkeys in the generator, so not
      // quite all); bloom must at least halve the candidate set (measured
      // ~4x: 3/16 vs 13/16 per probe)
      assert(statCand * 3 >= totalRg.toLong * probes.size * 2,
        "expected min/max stats to be non-selective on the clustered layout")
      assert(bloomCand * 2 <= statCand,
        s"bloom candidates $bloomCand should be >= 2x fewer than stats' $statCand")
    }
  }
}
