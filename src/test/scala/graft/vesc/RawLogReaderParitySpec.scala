package graft.vesc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.DoubleType

import graft.SparkSuite

/** [[RawLogReader.parse]], through [[RawLogReader.scan]], against Spark's
  * own CSV reader on the same single file: `spark.read` with `sep ";"` and
  * a header, each wanted channel then `try_cast` to double (a channel
  * Spark's schema has no column for reads as null). Every cell is
  * compared on its raw bits, over odd cells, odd lines, odd headers and
  * degenerate files. The one departure (a tab-only line before the
  * header) has its own test.
  */
class RawLogReaderParitySpec extends SparkSuite {

  private def write(dir: Path, name: String, text: String): String =
    Files.write(dir.resolve(name), text.getBytes(StandardCharsets.UTF_8)).toString

  private def bits(v: Any): Any = v match {
    case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
    case other => other
  }

  /** The scan's rows of `file`, in line order, the wanted channels only. */
  private def ours(file: String, wanted: Seq[String]): Seq[Seq[Any]] =
    RawLogReader.scan(spark, Seq(file), wanted).orderBy("__row").collect().toSeq
      .map(r => wanted.indices.map(i => bits(r.get(i))))

  /** Spark's CSV read of `file` with each wanted channel `try_cast`. */
  private def sparks(file: String, wanted: Seq[String]): Seq[Seq[Any]] = {
    val csv = spark.read.option("sep", ";").option("header", "true").csv(file)
    val resolved = wanted.map(w => csv.columns.filter(_.equalsIgnoreCase(w)) match {
      case Array(c) => col(s"`$c`").try_cast(DoubleType)
      case _ => lit(null).cast(DoubleType)
    })
    csv.select(resolved: _*).collect().toSeq.map(r => wanted.indices.map(i => bits(r.get(i))))
  }

  private def assertParity(file: String, wanted: Seq[String]): Unit = {
    val (got, want) = (ours(file, wanted), sparks(file, wanted))
    assert(got == want, s"$file\n got $got\nwant $want")
  }

  test("cells: try_cast's string to double rule") {
    withTempDir("graft_parity_cells_") { dir =>
      val cells = Seq("1e3", " 1.0 ", "\t2\t", "NaN", "nan", "Infinity", "-inf", "+inf",
        "1d", "0x1p3", "1,5", "", "abc", "-0.0", "1.", ".5", " ", "INF", "-Infinity ")
      val text = ("ms_today;v;" +: cells.zipWithIndex.map { case (c, i) => s"$i;$c;" })
        .mkString("\n")
      val file = write(dir, "cells.csv", text)
      assertParity(file, Seq("ms_today", "v"))
      assert(ours(file, Seq("v")).size == cells.size)
    }
  }

  test("lines: line ends, blank lines, short, long and quoted rows") {
    withTempDir("graft_parity_lines_") { dir =>
      val files = Seq(
        "crlf" -> "a;b\r\n1;2\r\n3;4\r\n",
        "cr" -> "a;b\r1;2\r3;4",
        "mixed" -> "a;b\n1;2\r3;4\r\n5;6\n\r7;8",
        "blank" -> "\n\n  \na;b\n\n1;2\n \n\t\n3;4\n\n\n",
        "space_first" -> " \na;b\n1;2",
        "short_long" -> "a;b;c\n1\n1;2\n1;2;3;4;5\n;;\n;7",
        "trailing" -> "a;b;\n1;2;\n3;4;9",
        "quoted" -> "a;b\n\"1;5\";2\n\"3\";\"4\"\n1;\"2",
        "spanning" -> "a;b\n1;\"2\n3\";4\n5;6",
        "no_final_newline" -> "a;b\n1;2",
        "crlf_final" -> "a;b\r\n1;2\r\n\r\n")
      files.foreach { case (name, text) =>
        assertParity(write(dir, name + ".csv", text), Seq("a", "b", "c"))
      }
    }
  }

  test("headers: case, duplicates, empty names, a byte-order mark") {
    withTempDir("graft_parity_headers_") { dir =>
      val bom = new String(Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte),
        StandardCharsets.UTF_8)
      val files = Seq(
        "case" -> "Ms_Today;ERPM;roll\n1;2;3\n4;5;6",
        "case_dup" -> "a;A;b\n1;2;3",
        "dup" -> "x;x;y;\n1;2;3;4",
        "empty_name" -> "a;;b\n1;2;3",
        "bom" -> (bom + "a;b\n1;2\n3;4"),
        "quoted_header" -> "\"a;b\";c\n1;2\n3;4",
        // the wanted channels in another order than the header's
        "reordered" -> "y;c;z;b;a\n1;2;3;4;5\n6;;8;9")
      files.foreach { case (name, text) =>
        assertParity(write(dir, name + ".csv", text),
          Seq("ms_today", "erpm", "ROLL", "a", "b", "x", "y", "c", "a;b", "missing"))
      }
    }
  }

  test("files: empty and header-only") {
    withTempDir("graft_parity_files_") { dir =>
      Seq("empty" -> "", "header_only" -> "a;b", "header_only_nl" -> "a;b\n",
        "blank_only" -> "\n \n").foreach { case (name, text) =>
        val file = write(dir, name + ".csv", text)
        assertParity(file, Seq("a", "b"))
        assert(ours(file, Seq("a")).isEmpty)
      }
    }
  }

  test("departure: a tab-only line before the header is blank, as in Spark's data path") {
    withTempDir("graft_parity_tab_") { dir =>
      val file = write(dir, "tab_first.csv", "\t\na;b\n1;2\n3;4")
      // Spark names its one column after the tab-only line, which its data
      // path skips as blank, drops the real header as the header and reads
      // each line's first cell under the tab's name
      val csv = spark.read.option("sep", ";").option("header", "true").csv(file)
      assert(csv.columns.toSeq == Seq("\t"))
      assert(csv.collect().map(_.getString(0)).toSeq == Seq("1", "3"))
      // here the header is the real one
      assert(ours(file, Seq("a", "b")) == Seq(Seq(bits(1.0), bits(2.0)), Seq(bits(3.0), bits(4.0))))
    }
  }
}
