package graft.vesc

import scala.util.Try

import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** [[CnnScorer.scoreRanges]], the scorer's fan-out over the common pool,
  * against one sequential [[CnnScorer.Trunk]] over the same windows: the
  * raw float bits of every score are equal for any number of ranges (more
  * ranges than windows, no window and one window included), and a failing
  * range fails the whole call with its own exception, without hanging.
  * Inputs are the windows of a seeded [[SyntheticLog]] ride.
  */
class ScoreRangesSpec extends SparkSuite {

  private lazy val (weights, mean, std) = VescPipeline.bundled(spark)

  /** The normalized model inputs of a 60-second ride's windows. */
  private lazy val inputs: IndexedSeq[Array[Array[Float]]] = withTempDir("graft_score_ranges_") {
    dir =>
      val log = SyntheticLog.write(dir, 60, seed = 21, malformed = true, edges = true)
      val windows = WindowAssembler.assemble(
        Resampler.prodResample(RawLogReader.readProd(spark, Seq(log.toString))))
      val (m, s) = (mean.map(_.toFloat), std.map(_.toFloat))
      windows.orderBy(col("window_start")).select("features").collect().toIndexedSeq.map(r =>
        CnnScorer.normalizedWindow(r.getAs[scala.collection.Seq[scala.collection.Seq[Any]]](0),
          m, s))
  }

  private def sequential(xs: IndexedSeq[Array[Array[Float]]]): IndexedSeq[Array[Float]] = {
    val trunk = new CnnScorer.Trunk(weights)
    xs.map(x => CnnScorer.logits(trunk.run(x), weights.head).map(CnnScorer.sigmoid))
  }

  private def bits(scores: Iterable[Array[Float]]): Seq[Seq[Int]] =
    scores.map(_.toSeq.map(java.lang.Float.floatToRawIntBits)).toSeq

  /** `body` on a thread of its own, which must end within a minute. */
  private def within[A](body: => A): Try[A] = {
    @volatile var result: Try[A] = null
    val t = new Thread(() => result = Try(body))
    t.start()
    t.join(60000)
    assert(!t.isAlive, "the call did not return within 60 s")
    result
  }

  test("every range count gives the sequential scores, bit for bit") {
    assert(inputs.length > 20, s"${inputs.length} windows")
    val want = bits(sequential(inputs))
    Seq(1, 2, 3, 7, CnnScorer.coreRanges, inputs.length + 5).foreach { ranges =>
      val got = CnnScorer.scoreRanges(weights, inputs.length, ranges)(inputs)
      assert(bits(got) == want, s"$ranges ranges")
    }
  }

  test("no window and one window") {
    Seq(0, 1).foreach { n =>
      Seq(1, 2, 7).foreach { ranges =>
        val got = CnnScorer.scoreRanges(weights, n, ranges)(inputs)
        assert(bits(got) == bits(sequential(inputs.take(n))), s"$n windows, $ranges ranges")
      }
    }
  }

  test("a model that reads other channels fails the call with the scorer's message") {
    val narrow = weights.copy(conv1 = weights.conv1.copy(w = weights.conv1.w.map(_.take(5))))
    val got = within(CnnScorer.scoreRanges(narrow, inputs.length, 4)(inputs))
    val e = got.failed.get
    assert(e.isInstanceOf[IllegalArgumentException], e)
    assert(e.getMessage ==
      s"requirement failed: window has ${inputs.head(0).length} channels, the model reads 5")
  }

  test("a failure in another range is rethrown on the calling thread") {
    // only the last range's windows are narrowed: that range is forked to
    // the pool, and the calling thread's own range succeeds
    val n = inputs.length
    val got = within(CnnScorer.scoreRanges(weights, n, 4) { i =>
      if (i >= n * 3 / 4) inputs(i).map(_.take(5)) else inputs(i)
    })
    val e = got.failed.get
    assert(e.isInstanceOf[IllegalArgumentException], e)
    assert(e.getMessage ==
      s"requirement failed: window has 5 channels, the model reads ${inputs.head(0).length}")
  }
}
