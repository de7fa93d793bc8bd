package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `src/main` declares no public name that nothing in the program uses.
  *
  * One pass counts every identifier token in `src/main/scala` and in the
  * perfbench harness (`perfbench/harness/src/main/scala`, which compiles
  * against `src/main`), with comments stripped and string literals kept (a
  * catalog row names its method as `"Object.method"`). Every public `def`,
  * `val`, `object`, `class` or `trait` declared in `src/main` must then
  * occur at least twice — its declaration plus one use — or be on
  * [[Allowed]], whose every entry names the entry point or the paper step
  * that needs it. A name used only inside declarations that fail this is
  * unreached too: the count repeats with their lines blanked until nothing
  * new turns up. `private`, `protected` and `override` members and `main`
  * are not checked. The tests do not count as a use: a name only a spec
  * calls belongs in the test tree (an oracle or a helper) or nowhere.
  *
  * Known limit, the crude posture of [[SessionDisciplineSpec]]'s scans:
  * names are counted, not resolved, so a name that collides with another
  * name in use (or with a word in a string) passes.
  */
class ReachabilitySpec extends AnyFunSuite {

  /** Public names no main-tree code uses, and why each stays. */
  private val Allowed: Map[String, String] = Map(
    "Bench" -> "entry point: `runMain graft.Bench` (the bench suite and the stream rows)",
    "Verify" -> "entry point: `runMain graft.Verify` (the oracle outputs)",
    "Explain" -> "entry point: `runMain graft.Explain` (physical plans of the queries)",
    "applyAnnotations" ->
      "paper step 3: Label Studio ranges onto the 10 Hz grid, the training-only step",
    "loadCheckpoint" ->
      "paper step 5: score with the reference's own `.pt` model, read in the JVM")

  private val Roots = Seq("src/main/scala", "perfbench/harness/src/main/scala")

  private val Declaration =
    ("""(?m)^[ \t]*((?:(?:private|protected)(?:\[\w+\])?\s+|""" +
      """(?:override|final|sealed|abstract|implicit|lazy|case)\s+)*)""" +
      """(def|val|object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)""").r
  private val Identifier = "[A-Za-z_][A-Za-z0-9_]*".r

  /** `src` with every comment (line, block, nested block) blanked and each
    * newline kept, so offsets still map to lines; string and character
    * literals are kept.
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while (i < src.length && (depth > 0 || at("/*"))) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '"') {
        val start = i
        i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n')
          i += (if (src(i) == '\\') 2 else 1)
        i = math.min(i + 1, src.length)
        out ++= src.substring(start, i)
      } else if (src(i) == '\'' && i + 2 < src.length &&
                 (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        // a character literal ('"', '/', '\n'), not a symbol or a type tick
        val end = src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2)
        val stop = if (end < 0) src.length else end + 1
        out ++= src.substring(i, stop); i = stop
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  private lazy val sources: Seq[(Path, String)] = Roots.map(Paths.get(_)).flatMap { root =>
    assert(Files.isDirectory(root), s"$root not found (run from the repo root)")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }.map(p => p -> stripComments(new String(Files.readAllBytes(p), "UTF-8")))

  private def countTokens(texts: Iterable[String]): Map[String, Int] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Int].withDefaultValue(0)
    texts.foreach(t => Identifier.findAllIn(t).foreach(tok => counts(tok) += 1))
    counts.toMap.withDefaultValue(0)
  }

  private lazy val tokens: Map[String, Int] = countTokens(sources.map(_._2))

  /** Every checked public declaration in `src/main`: (name, file, offset). */
  private lazy val declared: Seq[(String, Path, Int)] =
    for {
      (p, src) <- sources if p.startsWith(Paths.get(Roots.head))
      m <- Declaration.findAllMatchIn(src).toSeq
      if !Seq("private", "protected", "override").exists(m.group(1).contains) &&
        m.group(3) != "main"
    } yield (m.group(3), p, m.start(3))

  /** The declaration at `at`, from its line start to the end of its last
    * line: the lines after it that are indented deeper, or as deep and
    * closing it (`}`, `)`).
    */
  private def extent(src: String, at: Int): (Int, Int) = {
    def indent(from: Int) = src.indexWhere(c => c != ' ' && c != '\t', from) - from
    val start = src.lastIndexOf('\n', at) + 1
    val depth = indent(start)
    def lineEnd(from: Int) = { val e = src.indexOf('\n', from); if (e < 0) src.length else e }
    var end = lineEnd(at)
    var next = end + 1
    var more = true
    while (more && next < src.length) {
      val stop = lineEnd(next)
      val line = src.substring(next, stop)
      if (line.trim.nonEmpty) {
        val d = indent(next)
        if (d > depth || (d == depth && (line.trim.startsWith("}") || line.trim.startsWith(")"))))
          end = stop
        else more = false
      }
      next = stop + 1
    }
    (start, end)
  }

  /** The declarations nothing reaches, to a fixpoint: a name whose only
    * uses lie inside unreached declarations is unreached too.
    */
  private lazy val unreached: Seq[(String, Path, Int)] = {
    val removed = scala.collection.mutable.HashMap.empty[Path, List[(Int, Int)]]
      .withDefaultValue(Nil)
    def inside(p: Path, at: Int) = removed(p).exists { case (a, b) => at >= a && at < b }
    var out = Vector.empty[(String, Path, Int)]
    var grew = true
    while (grew) {
      val counts = countTokens(sources.map { case (p, src) =>
        val text = new StringBuilder(src)
        removed(p).foreach { case (a, b) => (a until b).foreach(i => text.setCharAt(i, ' ')) }
        text.toString
      })
      val fresh = declared.filter { case (name, p, at) =>
        !Allowed.contains(name) && counts(name) < 2 && !inside(p, at)
      }
      val src = sources.toMap
      fresh.foreach { case (_, p, at) => removed(p) = extent(src(p), at) :: removed(p) }
      out ++= fresh
      grew = fresh.nonEmpty
    }
    out
  }

  test("every public name in src/main is reached by the program or allowlisted") {
    val src = sources.toMap
    assert(unreached.isEmpty,
      s"${unreached.size} public names that nothing in src/main or the perfbench harness " +
        "reaches (delete them, move a spec's oracle or helper to the test tree, or allowlist " +
        "an entry point): " + unreached.map { case (n, p, at) =>
          s"$n ($p:${src(p).substring(0, at).count(_ == '\n') + 1})"
        }.mkString(", "))
  }

  test("the allowlist is short, gives reasons and names only unused declarations") {
    assert(Allowed.size <= 10, s"${Allowed.size} allowlisted names")
    Allowed.foreach { case (name, why) =>
      assert(why.trim.nonEmpty, s"$name has no reason")
      assert(declared.exists(_._1 == name), s"$name is no longer declared in src/main")
      assert(tokens(name) < 2, s"$name is now used by the program; drop it from the allowlist")
    }
  }
}
