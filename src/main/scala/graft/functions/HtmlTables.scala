package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HTML `<table>` → structured rows as one scan-side expression — the
  * tabular-data channel of a crawl (specs, stats, price lists live in
  * markup tables; flattened through `html_to_text` they collapse into
  * word soup, losing the row/column structure a training corpus can
  * keep as serialized records).
  *
  * `html_tables(string)` → `array<struct<tbl int, row int,
  * cells array<string>>>`, one element per table row in document
  * order:
  *  - `tbl` numbers `<table>` elements from 0, `row` numbers `<tr>`
  *    within the table from 0;
  *  - a cell starts at `<td>` or `<th>` and ends at the next cell/row/
  *    table boundary (closing tags optional — the HTML5 tolerance real
  *    pages need); its content runs through [[HtmlToText.extract]], so
  *    entities decode, inline markup drops, whitespace collapses;
  *  - `<td>` outside any `<tr>`, or a NESTED `<table>`, refuses the
  *    whole document (null) — never a silently wrong flattening;
  *  - attributes (colspan/rowspan included) are ignored: the subset is
  *    the grid as written, documented and deterministic.
  *
  * Scale: one case-insensitive linear scan per page, scan-side
  * expression, embarrassingly parallel; structure is extracted before
  * anything shuffles.
  */
object HtmlTables {

  val rowSchema: StructType = StructType(Seq(
    StructField("tbl", IntegerType, nullable = false),
    StructField("row", IntegerType, nullable = false),
    StructField("cells", ArrayType(StringType, containsNull = false),
      nullable = false)))
  val rowsType: DataType = ArrayType(rowSchema, containsNull = false)

  import Bytes.{Corrupt, fail}

  /** Is `needle` a tag opening at position `i` (name boundary: the next
    * char is whitespace, '>', or '/')?
    */
  private def tagAt(s: String, i: Int, needle: String): Boolean = {
    if (!HtmlToText.regionMatchesIgnoreCase(s, i, needle)) return false
    val after = i + needle.length
    after >= s.length || {
      val c = s.charAt(after)
      Character.isWhitespace(c) || c == '>' || c == '/'
    }
  }

  /** Next position ≥ from of any of the boundary tags, or -1. */
  private def nextTag(s: String, from: Int, tags: Array[String]): Int = {
    var i = s.indexOf('<', from)
    while (i >= 0) {
      var t = 0
      while (t < tags.length) {
        if (tagAt(s, i, tags(t))) return i
        t += 1
      }
      i = s.indexOf('<', i + 1)
    }
    -1
  }

  private val AllBounds = Array("<table", "</table", "<tr", "</tr",
    "<td", "<th", "</td", "</th")

  /** `html_tables(string)` → per-row structs, or null (refused). */
  def tables(in: UTF8String): GenericArrayData =
    try {
      val s = in.toString
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var tbl = -1
      var row = -1
      var inTable = false
      var inRow = false
      var cells: scala.collection.mutable.ArrayBuffer[UTF8String] = null
      def flushRow(): Unit = {
        if (inRow) {
          out += new GenericInternalRow(Array[Any](tbl, row,
            new GenericArrayData(cells.toArray[Any])))
          inRow = false
        }
      }
      // Each iteration either consumes the tag at `i` (advances past its
      // '>') or — in the cell branch — advances `i` to the boundary tag
      // that ended the cell, which the next iteration consumes: progress
      // is strictly monotone, no re-scan.
      var i = nextTag(s, 0, AllBounds)
      while (i >= 0) {
        val gt = s.indexOf('>', i)
        if (gt < 0) fail()
        if (tagAt(s, i, "<table")) {
          if (inTable) fail() // nested table: refuse, never mis-flatten
          inTable = true; tbl += 1; row = -1
          i = nextTag(s, gt + 1, AllBounds)
        } else if (tagAt(s, i, "</table")) {
          if (!inTable) fail()
          flushRow(); inTable = false
          i = nextTag(s, gt + 1, AllBounds)
        } else if (inTable && tagAt(s, i, "<tr")) {
          flushRow()
          inRow = true; row += 1
          cells = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
          i = nextTag(s, gt + 1, AllBounds)
        } else if (inTable && (tagAt(s, i, "<td") || tagAt(s, i, "<th"))) {
          if (!inRow) fail() // cell outside a row
          val end = nextTag(s, gt + 1, AllBounds)
          if (end < 0) fail()
          cells += HtmlToText.extract(
            UTF8String.fromString(s.substring(gt + 1, end)))
          i = end // re-dispatch the boundary tag itself
        } else { // </tr>, </td>, </th>, or stray cell/row tags outside a table
          if (inTable && tagAt(s, i, "</tr")) flushRow()
          i = nextTag(s, gt + 1, AllBounds)
        }
      }
      if (inTable) fail() // unterminated table
      new GenericArrayData(out.toArray)
    } catch { case Corrupt => null }
}
