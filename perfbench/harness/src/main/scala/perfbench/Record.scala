package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Output checks of one operation; any failure marks the operation failed. */
final class Checks {
  val failures = mutable.ArrayBuffer.empty[String]
  def apply(ok: Boolean, what: => String): Unit = if (!ok) failures += what
}

/** What one harness run measured: raw samples (`perfbench/run.py` takes
  * medians), per-layer values, and operations attempted and failed.
  */
final class Recorder {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  val notes = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  def error(where: String, t: Throwable): Unit =
    errors += s"$where: ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(400)}"

  /** Runs one operation with its output checks. A throw or a failed check
    * counts the operation as failed; the result is returned either way
    * when the body completed.
    */
  def op[T](name: String)(body: Checks => T): Option[T] = {
    attempted += 1
    val checks = new Checks
    val out =
      try Some(body(checks))
      catch { case t: Throwable => error(name, t); None }
    if (out.isEmpty || checks.failures.nonEmpty) failed += 1
    checks.failures.foreach(f => errors += s"$name: check failed: $f")
    out
  }

  def write(path: Path): Unit = {
    def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    def strs(xs: Iterable[String]): JValue = JArray(xs.map(JString(_)).toList)
    val json = JObject(
      "attempted" -> JInt(attempted),
      "failed" -> JInt(failed),
      "errors" -> strs(errors),
      "notes" -> strs(notes),
      "samples" -> JObject(samples.map { case (k, v) => k -> JArray(v.map(num).toList) }.toList),
      "layers" -> JObject(layers.map { case (k, (v, u)) =>
        k -> JObject("value" -> num(v), "unit" -> JString(u)) }.toList))
    Files.write(path, (JsonMethods.compact(json) + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
