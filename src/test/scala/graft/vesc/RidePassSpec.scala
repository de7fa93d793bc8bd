package graft.vesc

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSuite

/** The per-ride pass against the declarative plans it replaced
  * ([[DeclarativeOracle]]): the analysis, both resample flavours, the
  * window assembler (labeled and unlabeled) and the display timeline give
  * the same schema and the same rows, every double compared on its raw
  * bits. Inputs: seeded [[SyntheticLog]] rides with every FIXTURES.md §1
  * feature and the edge cells, plus small frames for the boundaries (gaps
  * of 250 and 260 ms, a single row, a null ms_today, a ride shorter than a
  * window, one window, a display step above 1, NaN labels, two rides,
  * unsorted input).
  */
class RidePassSpec extends SparkSuite with BeforeAndAfterAll {

  private lazy val dir: Path = Files.createTempDirectory("graft_ride_pass_")
  private lazy val (weights, mean, std) = VescPipeline.bundled(spark)

  override def afterAll(): Unit =
    try FileUtils.deleteDirectory(dir.toFile) finally super.afterAll()

  /** A log in its own `ride log <ride>` folder. */
  private def log(ride: Int, seconds: Int, seed: Long, malformed: Boolean = false,
                  edges: Boolean = true): String =
    SyntheticLog.write(Files.createDirectories(dir.resolve(s"ride log $ride")), seconds, seed,
      malformed, edges).toString

  private lazy val rides = Seq(
    log(1, 60, seed = 11), log(2, 45, seed = 12, malformed = true), log(3, 30, seed = 13))

  /** A value with every double and float replaced by its raw bits. */
  private def bits(v: Any): Any = v match {
    case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
    case f: Float => s"f${java.lang.Float.floatToRawIntBits(f)}"
    case s: scala.collection.Seq[_] => s.map(bits)
    case r: Row => r.toSeq.map(bits)
    case other => other
  }

  /** Same schema, same rows (in any order), bit for bit; the cell count. */
  private def same(got: DataFrame, want: DataFrame): Int = {
    assert(got.schema == want.schema,
      s"\n got ${got.schema.treeString}\nwant ${want.schema.treeString}")
    val g = got.collect().map(r => bits(r).toString).sorted
    val w = want.collect().map(r => bits(r).toString).sorted
    assert(g.length == w.length, s"${g.length} rows, oracle ${w.length}")
    g.zip(w).foreach { case (a, b) => assert(a == b) }
    g.length * got.columns.length
  }

  private def frame(schema: StructType, rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*), schema)

  /** The declarative plans' timeline of each log alone, its ride id the
    * log's path, over all of `paths`.
    */
  private def oracle(paths: Seq[String]): DataFrame = paths.map { p =>
    val ride = RawLogReader.logs(spark, Seq(p)).select("path").head().getString(0)
    DeclarativeOracle.analyze(spark, Seq(p), weights, mean, std).withColumn("ride_id", lit(ride))
  }.reduce(_ union _)

  test("analyze: every timeline cell equals the declarative plan's") {
    // two logs of one ride folder whose clocks overlap, and the same pair
    // in two ride folders: each log is its own ride either way
    val ride = Files.createDirectories(dir.resolve("ride log 4"))
    val pair = Seq(SyntheticLog.write(ride, 40, 14, edges = true),
      SyntheticLog.write(ride, 40, 15, malformed = true, name = "2025-03-04_10-30-00.csv"))
    val apart = Seq(
      SyntheticLog.write(Files.createDirectories(dir.resolve("ride log 8")), 40, 14, edges = true),
      SyntheticLog.write(Files.createDirectories(dir.resolve("ride log 9")), 40, 15,
        malformed = true, name = "2025-03-04_10-30-00.csv"))
    val cases = rides.map(Seq(_)) :+ pair.map(_.toString) :+ apart.map(_.toString)
    val cells = cases.map { paths =>
      same(VescPipeline.analyze(spark, paths, weights, mean, std), oracle(paths))
    }
    assert(cells.forall(_ > 0) && cells.sum > 1000, cells)
  }

  test("analyze: one row, fewer grid rows than a window, one window") {
    val lines = Files.readAllLines(java.nio.file.Paths.get(log(5, 10, seed = 15, edges = false)))
    def head(n: Int): String = {
      val d = Files.createDirectories(dir.resolve(s"head $n"))
      Files.write(d.resolve("2025-03-04_10-00-00.csv"), lines.subList(0, n + 1)).toString
    }
    // 1 sample; ~2 s (20 grid rows); ~3.3 s (33 grid rows: one window, no spacing)
    for ((samples, timeline) <- Seq((1, 0), (40, 0), (66, 1))) {
      val paths = Seq(head(samples))
      val got = VescPipeline.analyze(spark, paths, weights, mean, std)
      assert(got.count() == timeline, s"$samples samples")
      same(got, oracle(paths))
    }
  }

  test("resample: both flavours over rides with every log edge, two rides in one frame") {
    val training = RawLogReader.readTraining(spark, rides)
    assert(training.select("ride_id").distinct().count() == 3)
    same(Resampler.trainingResample(training), DeclarativeOracle.trainingResample(training))
    val prod = RawLogReader.readProd(spark, rides.take(1))
    same(Resampler.prodResample(prod), DeclarativeOracle.prodResample(prod))
  }

  private val tickSchema = StructType(Seq(
    StructField("ride_id", StringType), StructField("ms_today", DoubleType),
    StructField("sample_idx", LongType), StructField("v", DoubleType),
    StructField("w", DoubleType), StructField("note", StringType)))

  test("resample10Hz: 250/260 ms gaps, single row, null ms_today, NaN and null cells, unsorted") {
    val nan = Double.NaN
    val rows = Seq[Seq[Any]](
      // A: a 250 ms gap (interpolated) then a 260 ms gap (voided), unsorted
      Seq("A", 510.0, 2L, 5.0, 1.0, "c"), Seq("A", 0.0, 0L, 0.0, null, "a"),
      Seq("A", 250.0, 1L, 2.5, nan, "b"), Seq("A", 770.0, 3L, null, 3.0, "d"),
      Seq("A", 770.0, 4L, 99.0, 99.0, "dup"), Seq("A", 900.0, 5L, 9.0, null, "e"),
      // B: a single row
      Seq("B", 500.0, 0L, 7.0, null, "x"),
      // C: a null ms_today whose values precede every other row's
      Seq("C", null, 0L, 4.0, 8.0, "n"), Seq("C", 30.0, 1L, null, null, "p"),
      Seq("C", 130.0, 2L, 1.0, null, "q"), Seq("C", 330.0, 3L, null, 2.0, "r"),
      // D: leading and trailing nulls, off-grid samples
      Seq("D", 1000.0, 0L, null, 1.0, "s"), Seq("D", 1070.0, 1L, 3.0, null, "t"),
      Seq("D", 1190.0, 2L, null, null, "u"), Seq("D", 1301.0, 3L, 6.0, 6.0, "v"))
    val df = frame(tickSchema, new scala.util.Random(5).shuffle(rows))
    same(Resampler.resample10Hz(df, Seq("v", "w"), Nil),
      DeclarativeOracle.resample10Hz(df, Seq("v", "w"), Nil))
    val longTicks = df.withColumn("ms_today", col("ms_today").cast("long"))
    same(Resampler.resample10Hz(longTicks, Seq("w"), Nil),
      DeclarativeOracle.resample10Hz(longTicks, Seq("w"), Nil))
  }

  test("assemble: resampled rides, unlabeled and with NaN and null labels") {
    val grid = Resampler.trainingResample(RawLogReader.readTraining(spark, rides))
    same(WindowAssembler.assemble(grid), DeclarativeOracle.assemble(grid))
    val labeled = VescSchema.ConfidenceCols.zipWithIndex.foldLeft(grid) { case (df, (c, i)) =>
      df.withColumn(c, when(pmod(col("sample_idx") + i, lit(7)) === 0, lit(Double.NaN))
        .when(pmod(col("sample_idx") + i, lit(3)) === 0, lit(null))
        .otherwise(sin(col("sample_idx") * (i + 1))))
    }
    assert(same(WindowAssembler.assemble(labeled), DeclarativeOracle.assemble(labeled)) > 1000)
    val prod = Resampler.prodResample(RawLogReader.readProd(spark, rides.take(1)))
      .withColumn("ride_id", lit("prod"))
    same(WindowAssembler.assemble(prod), DeclarativeOracle.assemble(prod))
  }

  test("assemble: small rides — stride, end of ride, validity boundary, unsorted, null cells") {
    val schema = StructType(Seq(
      StructField("ride_id", StringType), StructField("ms_today", LongType),
      StructField("sample_idx", LongType), StructField("f1", DoubleType),
      StructField("f2", DoubleType), StructField("cf_idle", DoubleType)))
    val rng = new scala.util.Random(9)
    def cell(nulls: Double, nans: Double, v: => Double): Any =
      if (rng.nextDouble() < nulls) null else if (rng.nextDouble() < nans) Double.NaN else v
    val rows = for {
      (ride, n) <- Seq(("a", 47), ("b", 29), ("c", 30), ("d", 63))
      i <- 0 until n
    } yield Seq[Any](ride, i * 100L, i.toLong,
      cell(0.25, 0.1, rng.nextGaussian()),
      if (ride == "d" && i > 35) null else rng.nextGaussian(),
      cell(0.3, 0.2, rng.nextDouble()))
    val df = frame(schema, rng.shuffle(rows))
    val args = (Seq("f1", "f2"), Seq("cf_idle"))
    same(WindowAssembler.assemble(df, args._1, args._2),
      DeclarativeOracle.assemble(df, args._1, args._2))
    same(WindowAssembler.assemble(df, args._1, args._2, minValidRatio = 0.8),
      DeclarativeOracle.assemble(df, args._1, args._2, minValidRatio = 0.8))
  }

  test("displayTimeline: scored windows, ties, a display step above 1, one window, two rides") {
    val grid = Resampler.prodResample(RawLogReader.readProd(spark, rides.take(2)))
    val scored = CnnScorer.score(WindowAssembler.assemble(grid), weights, mean, std)
    same(Postprocess.displayTimeline(scored), DeclarativeOracle.displayTimeline(scored))

    val names = VescSchema.ConfidenceCols.map("score_" + _.stripPrefix("cf_"))
    val schema = StructType(Seq(StructField("ride_id", StringType),
      StructField("window_start", LongType), StructField("t_mid", DoubleType)) ++
      names.map(StructField(_, FloatType)))
    val rng = new scala.util.Random(4)
    val levels = Array(0.0f, 0.25f, 0.5f, 0.75f) // coarse: ties within every group
    val rows = for {
      (ride, n, dt) <- Seq(("p", 57, 100.0), ("q", 1, 500.0), ("r", 23, 250.0), ("s", 40, 170.0))
      i <- 0 until n
      jitter = if (ride == "s") rng.nextInt(60) else 0
    } yield Seq[Any](ride, i.toLong, 36000000.0 + i * dt + jitter) ++
      names.map(_ => levels(rng.nextInt(4)))
    val df = frame(schema, rng.shuffle(rows))
    same(Postprocess.displayTimeline(df), DeclarativeOracle.displayTimeline(df))
    val blocks = Postprocess.displayTimeline(df).filter(col("ride_id") === "p").count()
    assert(blocks == 11, "100 ms windows step by 5")
  }

  test("downsampleForDisplay: rides with null scores") {
    val schema = StructType(Seq(StructField("ride_id", StringType),
      StructField("tsec", DoubleType), StructField("cf_a", DoubleType)))
    val rng = new scala.util.Random(8)
    val rows = for ((ride, n, dt) <- Seq(("a", 33, 0.1), ("b", 2, 0.3)); i <- 0 until n)
      yield Seq[Any](ride, i * dt, if (rng.nextDouble() < 0.3) null else rng.nextDouble())
    val df = frame(schema, rows)
    same(SpecHooks.downsampleForDisplay(df, Seq("cf_a")),
      DeclarativeOracle.downsampleForDisplay(df, Seq("cf_a")))
  }
}
