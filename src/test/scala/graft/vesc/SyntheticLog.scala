package graft.vesc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Deterministic raw VESC logs for specs that must not depend on a
  * reference checkout: the production channels under a semicolon header
  * (trailing `;`, as VESC Tool writes), samples about every 50 ms with
  * ±10 ms jitter from 10:00:00, one duplicate `ms_today`, one pair of rows
  * out of order and one gap of about 2 s. With `malformed`, one
  * `current_motor` cell reads `1.2.3`. With `edges`, the log also has a
  * gap of exactly 250 ms and one of 260 ms, an empty and a `NaN` feature
  * cell, an empty `erpm` on its first row and one row without `ms_today`.
  * Every log's clock starts at 10:00:00, whatever its file `name`. With
  * `columns` (a reordering or a subset of the production channels), the
  * header and each line hold those channels in that order, every kept
  * cell as in the default layout.
  */
object SyntheticLog {

  val MalformedChannel = "current_motor"

  def write(dir: Path, seconds: Int, seed: Long = 1,
            malformed: Boolean = false, edges: Boolean = false,
            name: String = "2025-03-04_10-00-00.csv",
            columns: Seq[String] = VescSchema.ProdChannels): Path = {
    val rng = new scala.util.Random(seed)
    val channels = VescSchema.ProdChannels
    val n = seconds * 20
    val start = 10L * 3600 * 1000
    val ms = Array.tabulate(n)(i => start + 50L * i + (if (i == 0) 0 else rng.nextInt(21) - 10))
    val dup = n / 4
    ms(dup) = ms(dup - 1)
    val dropped = scala.collection.mutable.Set.empty[Int] ++ ((n * 3 / 5) until (n * 3 / 5 + 39))
    if (edges) for ((at, width) <- Seq((n / 5, 250L), (n / 5 + 20, 260L))) {
      dropped ++= (at + 1) to (at + 4)
      ms(at + 5) = ms(at) + width
    }
    val bad = if (malformed) n / 2 else -1
    // per channel: base, amplitude, period (s), phase
    val shape = channels.map(_ => (rng.nextDouble() * 100 - 50, rng.nextDouble() * 20 + 0.5,
      rng.nextDouble() * 580 + 20, rng.nextDouble() * 2 * math.Pi))
    val swap = n / 3
    val order = (0 until n).map(i => if (i == swap) i + 1 else if (i == swap + 1) swap else i)
    val picked = columns.map(channels.indexOf)
    require(picked.forall(_ >= 0), s"not production channels: $columns")
    val lines = order.filterNot(dropped.contains).map { i =>
      val el = (ms(i) - start) / 1000.0
      picked.map(c => (channels(c), shape(c))).map {
        case ("ms_today", _) if edges && i == n / 7 => ""
        case ("ms_today", _) => ms(i).toString
        case ("fault_code", _) => "0"
        case (c, _) if i == bad && c == MalformedChannel => "1.2.3"
        case ("erpm", _) if edges && (i == 0 || i == n / 6) => ""
        case ("roll", _) if edges && i == n / 6 + 3 => "NaN"
        case (_, (base, amp, period, phase)) =>
          String.format(java.util.Locale.ROOT, "%.4f",
            Double.box(base + amp * math.sin(2 * math.Pi * el / period + phase)))
      }.mkString("", ";", ";")
    }
    val path = dir.resolve(name)
    Files.write(path, (columns.mkString("", ";", ";") +: lines).mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    path
  }
}
