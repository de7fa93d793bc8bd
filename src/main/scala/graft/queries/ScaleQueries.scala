package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{SkewOps, TimeSeriesOps}

/** Scale-pattern operators: gap sessionization (session windows in batch
  * form) and salting for skewed joins — verified against plain-join / plain
  * window oracles so the rewrites are provably equivalence-preserving.
  */
object ScaleQueries extends QueryPack {

  private val GAP_US = 30L * 60 * 1000000 // 30 min

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Session windows (gap > 30 min): per (user, session) count + bounds.
    "w15_sessionize" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
      TimeSeriesOps.sessionize(ev, Seq("user_id"), "us", GAP_US)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n"), min(col("us")).as("start_us"),
          max(col("us")).as("end_us"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // Z-ORDER clustering key (graft.functions.ZOrderExprs — the
    // lakehouse OPTIMIZE ZORDER BY primitive): bucket both dimensions
    // to 16-bit ranks from broadcast min/max, interleave with the
    // native zorder2 expression, and summarize 4096 coarse z-cells —
    // each cell's (min,max) box on BOTH dimensions is what parquet
    // row-group stats prune against. The oracle replays the
    // magic-mask dilation bit for bit, so the codegen'd interleave is
    // certified against an independent arithmetic derivation
    // (ZOrderSpec machine-asserts the row-group pruning win itself).
    "src_zorder_layout" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"))
      val stats = li.agg(
        min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
        min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))
      li.crossJoin(broadcast(stats))
        .withColumn("pb",
          expr("((l_partkey - pmin) * 65536) div (pmax - pmin + 1)"))
        .withColumn("sb",
          expr("((l_suppkey - smin) * 65536) div (smax - smin + 1)"))
        .withColumn("z", expr("zorder2(pb, sb)"))
        .groupBy(shiftright(col("z"), 20).as("cell"))
        .agg(count(lit(1)).as("n"),
          min(col("l_partkey")).as("p_lo"), max(col("l_partkey")).as("p_hi"),
          min(col("l_suppkey")).as("s_lo"), max(col("l_suppkey")).as("s_hi"))
        .orderBy(col("cell"))
    }),

    // Salted join — must produce exactly the plain-join aggregate (the
    // oracle IS the plain join, so the equivalence is machine-checked).
    "j_salted_join" -> ((s, dir) => {
      val probe = Tables.lineitem(s, dir)
        .withColumnRenamed("l_partkey", "p_partkey")
      val build = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      SkewOps.saltedJoin(probe, build, Seq("p_partkey"), saltFactor = 8)
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    }))

  override val oracle: Map[String, String] = Map(
    // replay of the Morton dilation: five magic-mask steps per
    // dimension (masks in decimal: 0x0000FFFF0000FFFF, 0x00FF00FF...,
    // 0x0F0F..., 0x3333..., 0x5555...), then even/odd combination —
    // all BIGINT bit arithmetic, no interleave builtin involved
    "src_zorder_layout" ->
      """WITH zo_st AS (
        |  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
        |         min(l_suppkey) AS smin, max(l_suppkey) AS smax
        |  FROM lineitem),
        |zo_b AS (
        |  SELECT l_partkey, l_suppkey,
        |         ((l_partkey - pmin) * 65536) // (pmax - pmin + 1) AS pb,
        |         ((l_suppkey - smin) * 65536) // (smax - smin + 1) AS sb
        |  FROM lineitem, zo_st),
        |zo_s1 AS (
        |  SELECT l_partkey, l_suppkey,
        |         (pb | (pb << 16)) & 281470681808895 AS p1,
        |         (sb | (sb << 16)) & 281470681808895 AS s1
        |  FROM zo_b),
        |zo_s2 AS (
        |  SELECT l_partkey, l_suppkey,
        |         (p1 | (p1 << 8)) & 71777214294589695 AS p2,
        |         (s1 | (s1 << 8)) & 71777214294589695 AS s2
        |  FROM zo_s1),
        |zo_s3 AS (
        |  SELECT l_partkey, l_suppkey,
        |         (p2 | (p2 << 4)) & 1085102592571150095 AS p3,
        |         (s2 | (s2 << 4)) & 1085102592571150095 AS s3
        |  FROM zo_s2),
        |zo_s4 AS (
        |  SELECT l_partkey, l_suppkey,
        |         (p3 | (p3 << 2)) & 3689348814741910323 AS p4,
        |         (s3 | (s3 << 2)) & 3689348814741910323 AS s4
        |  FROM zo_s3),
        |zo_z AS (
        |  SELECT l_partkey, l_suppkey,
        |         (((p4 | (p4 << 1)) & 6148914691236517205)
        |           | (((s4 | (s4 << 1)) & 6148914691236517205) << 1)) AS z
        |  FROM zo_s4)
        |SELECT z >> 20 AS cell, CAST(count(*) AS BIGINT) AS n,
        |  min(l_partkey) AS p_lo, max(l_partkey) AS p_hi,
        |  min(l_suppkey) AS s_lo, max(l_suppkey) AS s_hi
        |FROM zo_z GROUP BY cell ORDER BY cell""".stripMargin,

    "w15_sessionize" ->
      """WITH t AS (SELECT user_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
        |      AS prev_us
        |  FROM events),
        |f AS (SELECT user_id, us,
        |    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM t),
        |g AS (SELECT user_id, us,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, count(*) AS n, min(us) AS start_us,
        |  max(us) AS end_us
        |FROM g GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,
    "j_salted_join" ->
      """SELECT p_brand, round(sum(l_quantity),4) AS sum_qty, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin
  )
}
