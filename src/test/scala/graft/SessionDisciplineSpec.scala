package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The engine has one session factory ([[GraftSession]]) and one function
  * catalog ([[GraftExtensions]]). These checks scan the Scala sources so a
  * second path cannot grow back:
  *  - only `GraftSession.scala` builds a session;
  *  - only the five registrations whose builder closes over query data
  *    create temporary functions;
  *  - nothing registers a function on whichever session happens to be
  *    active.
  */
class SessionDisciplineSpec extends AnyFunSuite {

  // assembled so that this file does not match its own needles
  private val Builder = "SparkSession" + ".builder()"
  private val TempFunction = "createOrReplace" + "TempFunction"
  private val ActiveSession = "getActive" + "Session"

  private val DataBound = Set("AvroOcf.scala", "BpeApply.scala",
    "EmbedSimHash.scala", "UnigramApply.scala", "WordPieceApply.scala")
    .map(f => Paths.get("src/main/scala/graft/functions", f))

  private lazy val sources: Seq[(Path, IndexedSeq[String])] =
    Seq("src/main/scala", "src/test/scala").map(Paths.get(_)).flatMap { root =>
      assert(Files.isDirectory(root), s"$root not found (run from the repo root)")
      Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }.map(p => p -> Files.readAllLines(p).asScala.toIndexedSeq)

  /** `file:line` of every line containing `needle`, outside `allowed`. */
  private def hits(needle: String, allowed: Path => Boolean): Seq[String] =
    for {
      (p, lines) <- sources if !allowed(p)
      (l, i) <- lines.zipWithIndex if l.contains(needle)
    } yield s"$p:${i + 1}"

  test("only GraftSession builds a SparkSession") {
    val offenders = hits(Builder, _.getFileName.toString == "GraftSession.scala")
    assert(offenders.isEmpty, s"$Builder outside GraftSession: ${offenders.mkString(", ")}")
  }

  test("only the data-bound registrations create temporary functions") {
    val offenders = hits(TempFunction, DataBound.contains)
    assert(offenders.isEmpty,
      s"$TempFunction outside the data-bound registrations (add the function " +
        s"to GraftExtensions.catalog instead): ${offenders.mkString(", ")}")
  }

  test("no function is registered on the active session") {
    // the statement around each active-session lookup: the line before
    // (an argument list opened there) through the two after (a chained call)
    val offenders = for {
      (p, lines) <- sources
      (l, i) <- lines.zipWithIndex if l.contains(ActiveSession)
      around = lines.slice((i - 1).max(0), i + 3)
      if around.exists(s => s.contains("register") || s.contains(TempFunction))
    } yield s"$p:${i + 1}"
    assert(offenders.isEmpty,
      s"function registration on the active session: ${offenders.mkString(", ")}")
  }
}
