package graft.vesc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Deterministic raw VESC logs for specs that must not depend on a
  * reference checkout: the production channels under a semicolon header
  * (trailing `;`, as VESC Tool writes), samples about every 50 ms with
  * ±10 ms jitter from 10:00:00, one duplicate `ms_today` and one gap of
  * about 2 s. With `malformed`, one `current_motor` cell reads `1.2.3`.
  */
object SyntheticLog {

  val MalformedChannel = "current_motor"

  def write(dir: Path, seconds: Int, seed: Long = 1,
            malformed: Boolean = false): Path = {
    val rng = new scala.util.Random(seed)
    val channels = VescSchema.ProdChannels
    val n = seconds * 20
    val start = 10L * 3600 * 1000
    val ms = Array.tabulate(n)(i => start + 50L * i + (if (i == 0) 0 else rng.nextInt(21) - 10))
    val dup = n / 4
    ms(dup) = ms(dup - 1)
    val gap = (n * 3 / 5) until (n * 3 / 5 + 39)
    val bad = if (malformed) n / 2 else -1
    // per channel: base, amplitude, period (s), phase
    val shape = channels.map(_ => (rng.nextDouble() * 100 - 50, rng.nextDouble() * 20 + 0.5,
      rng.nextDouble() * 580 + 20, rng.nextDouble() * 2 * math.Pi))
    val lines = (0 until n).filterNot(gap.contains).map { i =>
      val el = (ms(i) - start) / 1000.0
      channels.zip(shape).map {
        case ("ms_today", _) => ms(i).toString
        case ("fault_code", _) => "0"
        case (c, _) if i == bad && c == MalformedChannel => "1.2.3"
        case (_, (base, amp, period, phase)) =>
          String.format(java.util.Locale.ROOT, "%.4f",
            Double.box(base + amp * math.sin(2 * math.Pi * el / period + phase)))
      }.mkString("", ";", ";")
    }
    val path = dir.resolve("2025-03-04_10-00-00.csv")
    Files.write(path, (channels.mkString("", ";", ";") +: lines).mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    path
  }
}
