package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The engine has one session factory ([[GraftSession]]), one function
  * catalog ([[GraftExtensions]]), one byte reader for its decoders
  * (`functions/Bytes`) and one training loop for its model trainers. These checks scan the Scala sources so a second
  * path cannot grow back:
  *  - only `GraftSession.scala` builds a session;
  *  - only the five registrations whose builder closes over query data
  *    create temporary functions;
  *  - nothing registers a function on whichever session happens to be
  *    active;
  *  - under `functions/`, only `Bytes.scala` defines a multi-byte integer
  *    reader or a stackless refusal exception;
  *  - under `functions/`, a function that calls one static method is a
  *    catalog row (`StaticFn`), not a hand-written expression class;
  *  - under `vesc/`, the trainers share one sum `Aggregator`
  *    (`HeadTrainer.SumAgg`), one masked-BCE kernel (`TrunkGrad.bceDz`)
  *    and one Adam loop (`HeadTrainer.fit`);
  *  - under `vesc/`, scoring and training share one CNN forward
  *    (`CnnScorer.Trunk`): each trunk conv layer is applied once;
  *  - the ride path (`Resampler`, `WindowAssembler`, `Postprocess`,
  *    `VescPipeline`, `RidePass`) plans no window function;
  *  - the vesc read path (`RawLogReader`, `VescPipeline`, `CnnScorer`,
  *    `Normalizer`) declares every schema it reads;
  *  - under `vesc/`, raw logs have one reader: only `RawLogReader`
  *    tokenizes CSV, and only `Annotations` reads a CSV through Spark;
  *  - `TextQualityOps` builds one Kneser–Ney ladder (`knLogProb`, every
  *    order and grouping) and one tercile bucketizer (`bucketize`);
  *  - under `src/main`, only `CnnScorer.scoreRanges` fans work out to
  *    threads (the common pool), besides `Bench`'s shutdown hook;
  *  - under `vesc/`, no type or expression is written as SQL text, so the
  *    first analysis in a JVM does not start Spark's SQL parser.
  */
class SessionDisciplineSpec extends AnyFunSuite {

  // assembled so that this file does not match its own needles
  private val Builder = "SparkSession" + ".builder()"
  private val TempFunction = "createOrReplace" + "TempFunction"
  private val ActiveSession = "getActive" + "Session"

  private val ReaderDef = ("""\bdef\s+(u16|u32|u64|i16|i32|i64|le16|le32|le64|""" +
    """be16|be32|be64|le16u|le16s|leAt|uLE|le|readLe64|leSigned|rd)\b""").r
  private val Stackless = Seq("fillIn" + "StackTrace",
    "RuntimeException(null, null, " + "false, false)")

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

  test("decoders read integers and refuse input only through functions/Bytes") {
    val functions = Paths.get("src/main/scala/graft/functions")
    val offenders = for {
      (p, lines) <- sources
      if p.startsWith(functions) && p.getFileName.toString != "Bytes.scala"
      (l, i) <- lines.zipWithIndex
      if ReaderDef.findFirstIn(l).isDefined || Stackless.exists(l.contains)
    } yield s"$p:${i + 1}"
    assert(offenders.isEmpty,
      s"byte reader or refusal signal outside functions/Bytes (call Bytes " +
        s"instead): ${offenders.mkString(", ")}")
  }

  test("static functions are catalog rows") {
    // only the shell and the expressions that are more than one static
    // call (data-bound, plan-time sizes, vector-kind dispatch, a
    // non-propagating argument) write their own Catalyst expression
    val functions = Paths.get("src/main/scala/graft/functions")
    val allowed = (DataBound.map(_.getFileName.toString) ++ Set("StaticCall.scala",
      "MinHashSig.scala", "VectorExprs.scala", "CharsetDecode.scala")).map(functions.resolve)
    val expression = """extends\s+[\w.]*(Unary|Binary|Ternary)Expression\b|\bdoGenCode\b""".r
    val offenders = for {
      (p, lines) <- sources if p.startsWith(functions) && !allowed.contains(p)
      (l, i) <- lines.zipWithIndex if expression.findFirstIn(l).isDefined
    } yield s"$p:${i + 1}"
    assert(allowed.forall(f => sources.exists(_._1 == f)), s"missing one of $allowed")
    assert(offenders.isEmpty,
      s"expression class outside the shell (add a StaticFn row to GraftExtensions.statics " +
        s"instead): ${offenders.mkString(", ")}")
  }

  test("the vesc trainers keep one sum aggregator, one masked BCE and one Adam loop") {
    val vesc = Paths.get("src/main/scala/graft/vesc")
    Seq(
      "extends Aggregator" -> "sum aggregator (HeadTrainer.SumAgg)",
      "log1p(math.exp(-math.abs(" -> "stable-BCE term (TrunkGrad.bceDz)",
      "cfg.beta2 *" -> "Adam second-moment update (HeadTrainer.fit)"
    ).foreach { case (needle, what) =>
      val at = hits(needle, p => !p.startsWith(vesc))
      assert(at.size == 1,
        s"expected one $what under $vesc, found ${at.size}: ${at.mkString(", ")}")
    }
  }

  test("the vesc ride path plans no window functions") {
    // resample, windows and display run in one per-ride pass (RidePass);
    // a window function here would bring back a WindowExec per step
    val vesc = Paths.get("src/main/scala/graft/vesc")
    val files = Seq("Resampler", "WindowAssembler", "Postprocess", "VescPipeline", "RidePass")
      .map(f => vesc.resolve(f + ".scala"))
    val offenders = for {
      (p, lines) <- sources if files.contains(p)
      (l, i) <- lines.zipWithIndex
      if l.contains("expressions.Window") || l.contains("Window.partitionBy")
    } yield s"$p:${i + 1}"
    assert(files.forall(f => sources.exists(_._1 == f)), s"missing one of $files")
    assert(offenders.isEmpty, s"window function on the ride path: ${offenders.mkString(", ")}")
  }

  test("the vesc read path infers no schema") {
    // an inferred schema costs a Spark job before the read (CSV header,
    // parquet footers): each reader names its schema with .schema( right
    // after .read
    val vesc = Paths.get("src/main/scala/graft/vesc")
    val files = Seq("RawLogReader", "VescPipeline", "CnnScorer", "Normalizer")
      .map(f => vesc.resolve(f + ".scala"))
    val read = """\.read\b(?!Stream|\s*\(|\.schema\()""".r
    val offenders = for {
      (p, lines) <- sources if files.contains(p)
      (l, i) <- lines.zipWithIndex if read.findFirstIn(l).isDefined
    } yield s"$p:${i + 1}"
    assert(files.forall(f => sources.exists(_._1 == f)), s"missing one of $files")
    assert(offenders.isEmpty, s"a read without .schema(: ${offenders.mkString(", ")}")
  }

  test("the vesc raw logs have one reader") {
    // a second tokenizer or a Spark CSV read of a log would read its
    // channels by some other header rule than RawLogReader.parse's
    val vesc = Paths.get("src/main/scala/graft/vesc")
    def under(p: Path, names: String*) = p.startsWith(vesc) && !names.map(n =>
      vesc.resolve(n + ".scala")).contains(p)
    val tokenizer = for {
      (p, lines) <- sources if under(p, "RawLogReader")
      (l, i) <- lines.zipWithIndex if Seq("Csv" + "Parser", "Univocity" + "Parser").exists(l.contains)
    } yield s"$p:${i + 1}"
    // a CSV call is a write when its statement says .write within two lines
    val csvRead = for {
      (p, lines) <- sources if under(p, "Annotations")
      (l, i) <- lines.zipWithIndex
      if l.contains(".csv" + "(") || l.contains("format(\"" + "csv\")")
      if !lines.slice((i - 2).max(0), i + 1).exists(_.contains(".write"))
    } yield s"$p:${i + 1}"
    assert(tokenizer.isEmpty, s"CSV tokenizer outside RawLogReader: ${tokenizer.mkString(", ")}")
    assert(csvRead.isEmpty, s"CSV read outside Annotations: ${csvRead.mkString(", ")}")
  }

  test("TextQualityOps keeps one Kneser-Ney ladder and one tercile bucketizer") {
    // a per-order or per-language copy of the ladder brings its own
    // count-of-counts aggregate, a copy of the terciles its own threshold
    val tq = Paths.get("src/main/scala/graft/ops/TextQualityOps.scala")
    assert(sources.exists(_._1 == tq), s"$tq not found")
    Seq(
      "_n" + "4\"" -> "count-of-counts aggregate (TextQualityOps.knLogProb)",
      "(2 * __n + 2) " + "div 3" -> "tercile threshold (TextQualityOps.bucketize)"
    ).foreach { case (needle, what) =>
      val at = hits(needle, _ != tq)
      assert(at.size == 1, s"expected one $what in $tq, found ${at.size}: ${at.mkString(", ")}")
    }
  }

  test("the vesc CNN forward keeps one layer sequence") {
    // a second forward (a scorer copy, a training copy) applies every
    // trunk conv layer a second time
    val vesc = Paths.get("src/main/scala/graft/vesc")
    Seq("conv1", "resConv1", "resConv2", "conv2", "conv3", "conv4").foreach { layer =>
      val applied = ("""\bconv1d\(.*\.""" + layer + """\b""").r
      val at = for {
        (p, lines) <- sources if p.startsWith(vesc)
        (l, i) <- lines.zipWithIndex if applied.findFirstIn(l).isDefined
      } yield s"$p:${i + 1}"
      assert(at.size == 1,
        s"expected $layer applied once under $vesc (CnnScorer.Trunk), found ${at.size}: " +
          at.mkString(", "))
    }
  }

  test("one fan-out: only the scorer helper starts threads") {
    // a second thread pool beside the common pool would oversubscribe the
    // cores that every analyze call shares
    val main = Paths.get("src/main/scala")
    val allowed = Set("vesc/CnnScorer.scala", "Bench.scala").map(f => main.resolve("graft/" + f))
    val fanOut = Seq("new " + "Thread", "Executors" + ".", "ForkJoin" + "Pool",
      ".parallel" + "()", "Completable" + "Future", "scala" + ".concurrent")
    val offenders = for {
      (p, lines) <- sources if p.startsWith(main) && !allowed.contains(p)
      (l, i) <- lines.zipWithIndex if fanOut.exists(l.contains)
    } yield s"$p:${i + 1}"
    assert(allowed.forall(f => sources.exists(_._1 == f)), s"missing one of $allowed")
    val bench = sources.find(_._1 == main.resolve("graft/Bench.scala")).get._2
    assert(bench.filter(l => fanOut.exists(l.contains)).forall(_.contains("addShutdownHook")),
      "Bench starts a thread other than its shutdown hook")
    assert(offenders.isEmpty,
      s"threads outside CnnScorer.scoreRanges: ${offenders.mkString(", ")}")
  }

  test("the vesc path parses no SQL text") {
    // a type string or SQL expression starts Spark's ANTLR parser, about
    // 0.3 s on the first analysis of a cold JVM; name types as DataType
    // objects and build expressions with Column functions
    val vesc = Paths.get("src/main/scala/graft/vesc")
    val sqlText = ("""\b(try_)?cast\("|\bschema\("|\bexpr\(|\bselect""" + """Expr\(""").r
    val offenders = for {
      (p, lines) <- sources if p.startsWith(vesc)
      (l, i) <- lines.zipWithIndex if sqlText.findFirstIn(l).isDefined
    } yield s"$p:${i + 1}"
    assert(offenders.isEmpty, s"SQL text under $vesc: ${offenders.mkString(", ")}")
  }
}
