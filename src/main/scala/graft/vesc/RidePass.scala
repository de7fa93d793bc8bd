package graft.vesc

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** One ride, sorted once: the resample (PAPER step 2), window (step 4) and
  * display (step 6) semantics of the VESC path as plain Scala functions
  * over one ride's rows.
  *
  * '''Sort-order contract.''' [[perRide]] is the only Spark plan: one
  * exchange on `ride_id`, one sort on (`ride_id`, the caller's order) and
  * one `mapPartitions` that hands each ride's rows, in that order, to a
  * function of this object. The callers sort by
  *  - (ms_today, file order) to resample: keep-first dedup is then "the
  *    first row of each run of equal ms_today", the grid is one forward
  *    pass and interpolation one forward and one backward scan;
  *  - sample_idx to assemble windows: a window is 30 consecutive rows;
  *  - t_mid (or tsec) to post-process for display.
  * `VescPipeline.analyze` needs no Spark sort: each log is one ride, read
  * whole inside one task, and [[resampleLog]] orders its lines by an index
  * sort on (ms_today, nulls first under [[compare]]; line), the order the
  * Spark sort on (ms_today, file, row) gives one file.
  *
  * '''Bit-identity.''' Every value equals, bit for bit, what the
  * declarative Spark plans these functions replaced computed (RidePassSpec
  * keeps those plans as oracles). Three Spark semantics matter for that and
  * are reproduced here: `percentile`'s interpolation between the two middle
  * values ([[percentile]]), `round`'s HALF_UP on the value's shortest
  * decimal form ([[roundHalfUp]]) and `avg`/`sum` adding in row order from
  * 0.0 ([[avg]], [[labelMean]]); comparisons use Spark's double ordering
  * ([[compare]]: NaN above every number and equal to itself).
  */
object RidePass {

  /** A nullable double column: `v(i)` holds where `!isNull(i)`. */
  final class Col(val v: Array[Double], val isNull: Array[Boolean]) {
    def length: Int = v.length
    def get(i: Int): Any = if (isNull(i)) null else v(i)
    def set(i: Int, x: Double): Unit = { v(i) = x; isNull(i) = false }
  }

  object Col {
    def apply(n: Int): Col = new Col(new Array[Double](n), new Array[Boolean](n))

    /** Field `f` of `rows`, any numeric type, as doubles. */
    def of(rows: IndexedSeq[Row], f: Int): Col = {
      val out = Col(rows.length)
      var i = 0
      while (i < rows.length) {
        rows(i).get(f) match {
          case null => out.isNull(i) = true
          case x: Number => out.v(i) = x.doubleValue
        }
        i += 1
      }
      out
    }
  }

  /** `df`, whose first column is `ride_id`, after one exchange on
    * `ride_id` and one sort on (`ride_id` +: `order`) within it: `pass`
    * maps each ride's rows, in that order, to rows of schema `out`. One
    * `mapPartitions` serves every ride of a partition.
    */
  def perRide(df: DataFrame, order: Seq[Column], out: StructType)(
      pass: IndexedSeq[Row] => Iterator[Row]): DataFrame = {
    require(df.columns.head == "ride_id", s"first column ${df.columns.head} is not ride_id")
    df.repartition(col("ride_id"))
      .sortWithinPartitions(col("ride_id") +: order: _*)
      .mapPartitions { rows =>
        val in = rows.buffered
        Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
          val ride = in.head.get(0)
          val buf = ArrayBuffer.empty[Row]
          while (in.hasNext && in.head.get(0) == ride) buf += in.next()
          pass(ArraySeq.unsafeWrapArray(buf.toArray))
        }
      }(Encoders.row(out))
  }

  // ---- resample: keep-first dedup, grid, interpolation, gap voiding ----

  /** Indices of the first row of each run of equal keys; the keys are
    * sorted, so equal keys are adjacent. Equal as a Spark grouping key:
    * nulls are one key, NaN equals NaN, −0.0 equals 0.0.
    */
  def keepFirst(keys: IndexedSeq[Any]): Array[Int] = {
    val out = ArrayBuilder.make[Int]
    var i = 0
    while (i < keys.length) {
      if (i == 0 || !sameKey(keys(i - 1), keys(i))) out += i
      i += 1
    }
    out.result()
  }

  private def sameKey(a: Any, b: Any): Boolean = a == b || ((a, b) match {
    case (x: Double, y: Double) => x.isNaN && y.isNaN
    case (x: Float, y: Float) => x.isNaN && y.isNaN
    case _ => false
  })

  /** Resample one ride's rows, sorted by (ms_today, file order) with
    * ms_today (any numeric type, integral) at field 1: [[resampleLog]]
    * over the fields `channels`, whose sort keeps the rows' order. Returns
    * the kept rows, which [[Grid.src]] indexes, and the grid.
    */
  def resample(rows: IndexedSeq[Row], channels: Seq[Int], stepMs: Long,
               maxGapMs: Long): (IndexedSeq[Row], Grid) = {
    val (kept, g) = resampleLog(Col.of(rows, 1), channels.map(Col.of(rows, _)).toIndexedSeq,
      stepMs, maxGapMs)
    (ArraySeq.unsafeWrapArray(kept).map(rows), g)
  }

  /** Resample one log's samples, given in line order: `ms` is ms_today
    * and `channels` the columns to interpolate. The samples are ordered by
    * an index sort on (ms_today, nulls first under [[compare]]; line),
    * which is the Spark sort on (ms_today, file, row) for one file; then
    * keep-first dedup and [[grid]]. Returns the kept samples, which
    * [[Grid.src]] indexes, and the grid; both empty when there are no
    * samples.
    */
  def resampleLog(ms: Col, channels: IndexedSeq[Col], stepMs: Long,
                  maxGapMs: Long): (Array[Int], Grid) = {
    val byTick: Ordering[Int] = (a, b) =>
      if (ms.isNull(a) || ms.isNull(b)) {
        if (ms.isNull(a) != ms.isNull(b)) (if (ms.isNull(a)) -1 else 1)
        else Integer.compare(a, b)
      } else {
        val c = compare(ms.v(a), ms.v(b))
        if (c != 0) c else Integer.compare(a, b)
      }
    val sorted = Array.range(0, ms.length).sorted(byTick)
    val kept = keepFirst(ArraySeq.unsafeWrapArray(sorted).map(ms.get)).map(sorted)
    val tick = kept.map(i => if (ms.isNull(i)) 0L else ms.v(i).toLong)
    def gather(c: Col) = new Col(kept.map(c.v), kept.map(c.isNull))
    (kept, grid(tick, kept.nonEmpty && ms.isNull(kept(0)), channels.map(gather), stepMs,
      maxGapMs))
  }

  /** A ride's 10 Hz grid: `tick` (ms_today) ascending, `src` the input
    * sample a real row came from (−1 for a synthetic row) and the
    * interpolated, gap-voided channels.
    */
  final class Grid(val tick: Array[Long], val src: Array[Int], val channels: IndexedSeq[Col]) {
    def length: Int = tick.length
  }

  /** Resample steps 2–5 (reference training_preprocessing.py:134-236) over
    * one ride's deduplicated samples: `tick` ascending, except that with
    * `nullFirst` sample 0 has no tick (a null `ms_today` sorts first).
    *
    *  - Align: every sample, plus the grid instants (t0 + k·step) strictly
    *    between each sample and the one before it. The tickless sample
    *    aligns first and off the grid, and starts no gap.
    *  - Interpolate each channel over the aligned rows, pandas
    *    `limit_direction="both"`: a missing value between two present ones
    *    is linear in the tick; before the first or after the last it takes
    *    the nearest. The tickless sample's value, when present, is the
    *    previous value of the rows after it, and with no tick to weigh it
    *    their linear value is null.
    *  - Void: a synthetic row inside a gap of more than `maxGapMs`
    *    (strict `>`) is null in every channel.
    *  - Keep the on-grid rows.
    */
  def grid(tick: Array[Long], nullFirst: Boolean, channels: IndexedSeq[Col],
           stepMs: Long, maxGapMs: Long): Grid = {
    val n = tick.length
    val aTick = ArrayBuilder.make[Long]; val aSrc = ArrayBuilder.make[Int]
    val aGrid = ArrayBuilder.make[Boolean]; val aVoid = ArrayBuilder.make[Boolean]
    def add(t: Long, s: Int, onGrid: Boolean, void: Boolean): Unit = {
      aTick += t; aSrc += s; aGrid += onGrid; aVoid += void
    }
    val first = if (nullFirst) 1 else 0
    if (nullFirst && n > 0) add(0L, 0, onGrid = false, void = false)
    if (first < n) {
      val t0 = tick(first)
      var i = first
      while (i < n) {
        val t = tick(i)
        if (i > first) {
          val prev = tick(i - 1)
          val wide = t - prev > maxGapMs
          var g = prev - Math.floorMod(prev - t0, stepMs) + stepMs
          val hi = t - 1 - Math.floorMod(t - 1 - t0, stepMs)
          while (g <= hi) { add(g, -1, onGrid = true, void = wide); g += stepMs }
        }
        add(t, i, Math.floorMod(t - t0, stepMs) == 0, void = false)
        i += 1
      }
    }
    val (at, as, ag, av) = (aTick.result(), aSrc.result(), aGrid.result(), aVoid.result())
    val rows = ag.indices.filter(ag(_)).toArray
    val m = rows.length
    def tickless(a: Int) = nullFirst && a == 0

    val interpolated = channels.map { x =>
      def present(a: Int) = as(a) >= 0 && !x.isNull(as(a))
      // per grid row, the aligned row of the last present value at or
      // before it, and of the first at or after it (−1: none)
      val prev = new Array[Int](m); val next = new Array[Int](m)
      var last = -1; var k = 0; var a = 0
      while (a < at.length) {
        if (present(a)) last = a
        if (ag(a)) { prev(k) = last; k += 1 }
        a += 1
      }
      last = -1; k = m - 1; a = at.length - 1
      while (a >= 0) {
        if (present(a)) last = a
        if (ag(a)) { next(k) = last; k -= 1 }
        a -= 1
      }
      val out = Col(m)
      k = 0
      while (k < m) {
        val a = rows(k)
        val (p, q) = (prev(k), next(k))
        if (av(a)) out.isNull(k) = true
        else if (present(a)) out.v(k) = x.v(as(a))
        else if (p >= 0 && q >= 0) {
          val (vp, vq) = (x.v(as(p)), x.v(as(q)))
          if (tickless(p)) out.isNull(k) = true
          else if (at(q) == at(p)) out.v(k) = vp
          else out.v(k) = vp + (vq - vp) * ((at(a) - at(p)).toDouble / (at(q) - at(p)).toDouble)
        }
        else if (p >= 0) out.v(k) = x.v(as(p))
        else if (q >= 0) out.v(k) = x.v(as(q))
        else out.isNull(k) = true
        k += 1
      }
      out
    }
    new Grid(rows.map(at), rows.map(as), interpolated)
  }

  // ---- windows ----

  /** A ride's kept windows: the row each starts at, its median `ms_today`
    * and its share of finite feature cells.
    */
  final class Windows(val start: Array[Int], val tMid: Array[Double],
                      val validRatio: Array[Double]) {
    def length: Int = start.length
  }

  /** Sliding windows over one ride's rows in sample_idx order (reference
    * model/vesc_dataset.py:103-160): a window is the `steps` rows from a
    * row whose sample_idx is a multiple of `stride` with `steps` rows of
    * the ride from it; rows before `from` have no sample_idx. It is kept
    * when its finite cells (`finite` per row, of `features`) are at least
    * `minValidRatio` of its cells. `t_mid` is the median of the window's
    * non-null `ms` (mean of the two middle values for an even count).
    */
  def windows(sampleIdx: Array[Long], from: Int, ms: Col, finite: Array[Int], features: Int,
              steps: Int, stride: Int, minValidRatio: Double): Windows = {
    val n = sampleIdx.length
    val cells = (steps * features).toDouble
    val start = ArrayBuilder.make[Int]; val tMid = ArrayBuilder.make[Double]
    val ratio = ArrayBuilder.make[Double]
    val sorted = new Array[Double](steps)
    var k = from
    while (k + steps <= n) {
      val s = sampleIdx(k)
      if (Math.floorMod(s, stride.toLong) == 0 && s + steps <= n) {
        var valid = 0L
        var j = k
        while (j < k + steps) { valid += finite(j); j += 1 }
        val r = valid.toDouble / cells
        if (r >= minValidRatio) {
          var c = 0
          j = k
          while (j < k + steps) { if (!ms.isNull(j)) { sorted(c) = ms.v(j); c += 1 }; j += 1 }
          java.util.Arrays.sort(sorted, 0, c)
          def at(i: Int) = { require(i < c, s"window at row $k has $c ms_today values"); sorted(i) }
          start += k; ratio += r
          tMid += (if (steps % 2 == 0) (at(steps / 2 - 1) + at(steps / 2)) / 2.0 else at(steps / 2))
        }
      }
      k += 1
    }
    new Windows(start.result(), tMid.result(), ratio.result())
  }

  /** Finite (non-null, non-NaN) cells per row over `cols`. */
  def finiteCells(cols: Seq[Col], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    cols.foreach { c =>
      var i = 0
      while (i < n) { if (!c.isNull(i) && !c.v(i).isNaN) out(i) += 1; i += 1 }
    }
    out
  }

  /** Mean of the finite values of `y` over rows [k, k + steps), summed in
    * row order; 0.0 when there are none.
    */
  def labelMean(y: Col, k: Int, steps: Int): Double = {
    var s = 0.0
    var c = 0L
    var j = k
    while (j < k + steps) {
      if (!y.isNull(j) && !y.v(j).isNaN) { s += y.v(j); c += 1 }
      j += 1
    }
    s / math.max(c, 1L).toDouble
  }

  // ---- display post-processing ----

  /** Spark's double ordering: NaN above every number and equal to itself,
    * −0.0 equal to 0.0.
    */
  def compare(x: Double, y: Double): Int = if (x == y) 0 else java.lang.Double.compare(x, y)

  /** Display conflict suppression (reference application/app.py:170-219),
    * in place, row by row: the groups (indices into `cf`) apply in order;
    * within a group the first-index argmax keeps its score and every other
    * member becomes 0.0. A group with a null member has no winner.
    */
  def suppress(cf: IndexedSeq[Col], groups: Seq[Array[Int]]): Unit = {
    val n = if (cf.isEmpty) 0 else cf.head.length
    val live = groups.filter(_.length > 1)
    var i = 0
    while (i < n) {
      live.foreach { g =>
        val wins = g.indices.map { a =>
          val c = cf(g(a))
          !c.isNull(i) && g.indices.forall { b =>
            val e = cf(g(b))
            a == b || (!e.isNull(i) && {
              val cmp = compare(c.v(i), e.v(i))
              if (b < a) cmp > 0 else cmp >= 0
            })
          }
        }
        g.indices.foreach(a => if (!wins(a)) cf(g(a)).set(i, 0.0))
      }
      i += 1
    }
  }

  /** Seconds from the ride's first (least) mid time. */
  def rebase(tMid: Col): Col = {
    var min = Double.NaN
    var seen = false
    var i = 0
    while (i < tMid.length) {
      if (!tMid.isNull(i) && (!seen || compare(tMid.v(i), min) < 0)) {
        min = tMid.v(i)
        seen = true
      }
      i += 1
    }
    val out = Col(tMid.length)
    i = 0
    while (i < tMid.length) {
      if (tMid.isNull(i)) out.isNull(i) = true else out.v(i) = (tMid.v(i) - min) / 1000.0
      i += 1
    }
    out
  }

  /** Spark's exact `percentile(x, p)` of non-empty `values`: the value at
    * position (n − 1)·p of the sorted values, interpolated linearly
    * between its two neighbours when the position is fractional.
    */
  def percentile(values: Array[Double], p: Double): Double = {
    val sorted = values.clone()
    java.util.Arrays.sort(sorted)
    val position = (sorted.length - 1L) * p
    val lower = math.floor(position).toLong
    val higher = math.ceil(position).toLong
    val lo = sorted(lower.toInt)
    if (higher == lower) lo
    else {
      val hi = sorted(higher.toInt)
      if (hi == lo) lo else (higher - position) * lo + (position - lower) * hi
    }
  }

  /** Spark's `round(x)`: HALF_UP on the shortest decimal form of `x`. */
  def roundHalfUp(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue

  /** Windows per display block: round(`displayDt` / the median spacing of
    * `tsec`), at least 1 (reference app.py:221-243). A ride with fewer than
    * two timed rows has no spacing and steps by 1.
    */
  def displayStep(tsec: Col, displayDt: Double): Int = {
    val diffs = ArrayBuilder.make[Double]
    var i = 1
    while (i < tsec.length) {
      if (!tsec.isNull(i) && !tsec.isNull(i - 1)) diffs += tsec.v(i) - tsec.v(i - 1)
      i += 1
    }
    val d = diffs.result()
    if (d.isEmpty) 1
    else {
      val step = roundHalfUp(displayDt / percentile(d, 0.5))
      require(!step.isNaN && step >= Int.MinValue && step <= Int.MaxValue,
        s"display step $step out of range")
      math.max(1, step.toInt)
    }
  }

  /** Spark's `avg` of `c` over rows [from, until): the non-null values
    * summed in row order from 0.0, over their count; null when none.
    */
  def avg(c: Col, from: Int, until: Int): Any = {
    var s = 0.0
    var k = 0L
    var i = from
    while (i < until) { if (!c.isNull(i)) { s += c.v(i); k += 1 }; i += 1 }
    if (k == 0) null else s / k.toDouble
  }

  /** One ride's display rows (ride, tsec, scores…): consecutive blocks of
    * [[displayStep]] rows averaged, the remainder dropped. Rows are in
    * `tsec` order.
    */
  def displayBlocks(ride: Any, tsec: Col, cf: IndexedSeq[Col], displayDt: Double): Iterator[Row] = {
    val step = displayStep(tsec, displayDt)
    val blocks = tsec.length / step
    Iterator.range(0, blocks).map { b =>
      val (from, until) = (b * step, (b + 1) * step)
      Row.fromSeq(ride +: avg(tsec, from, until) +: cf.map(avg(_, from, until)))
    }
  }

  /** The display timeline of one ride's scored windows in `tMid` order:
    * suppress conflicts (in place), rebase, then [[displayBlocks]].
    */
  def timeline(ride: Any, tMid: Col, cf: IndexedSeq[Col], groups: Seq[Array[Int]],
               displayDt: Double): Iterator[Row] = {
    suppress(cf, groups)
    displayBlocks(ride, rebase(tMid), cf, displayDt)
  }

  /** [[VescSchema.DisplayConflictGroups]] as indices into `cfCols`; each
    * group keeps only its members present there, in group order.
    */
  def conflictGroups(cfCols: Seq[String]): Seq[Array[Int]] =
    VescSchema.DisplayConflictGroups.map(_.filter(cfCols.contains).map(cfCols.indexOf).toArray)
}
