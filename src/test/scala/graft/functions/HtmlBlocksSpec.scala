package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Block segmentation semantics for the jusText primitive: block-tag
  * boundaries split, inline tags don't, anchor chars are accounted
  * per-block (including collapse-emitted spaces inside links), raw-text
  * containers drop whole, counts are codepoints.
  */
class HtmlBlocksSpec extends SparkSuite {

  private def blocks(html: String): Seq[(String, Int, Int)] = {
    import spark.implicits._
    Seq(html).toDF("h")
      .select(explode(call_function("html_blocks", col("h"))).as("b"))
      .select("b.block_text", "b.n_chars", "b.link_chars")
      .collect()
      .map { case Row(t: String, n: Int, l: Int) => (t, n, l) }
      .toSeq
  }

  test("block tags segment; inline tags do not") {
    assert(blocks("<div>one two</div><p>three</p>")
      === Seq(("one two", 7, 0), ("three", 5, 0)))
    assert(blocks("<p>a <b>bold</b> <span>s</span> z</p>")
      === Seq(("a bold s z", 10, 0)))
  }

  test("link chars: anchor spans counted per block, nav block is all-link") {
    // the collapsed space pending at <a> resolves INSIDE the anchor and
    // counts toward it — boundary attribution is pinned, not incidental
    val Seq((t, n, l)) = blocks("<p>a <a href=\"/x\">link text</a> z</p>")
    assert(t === "a link text z" && n === 13 && l === 10)
    val Seq((t2, n2, l2)) = blocks("<div><a href=\"/x\">home about</a></div>")
    assert(t2 === "home about" && n2 === 10 && l2 === n2)
  }

  test("space emitted between two adjacent links counts as link char") {
    val Seq((t, n, l)) = blocks("<p><a>x</a> <a>y z</a></p>")
    assert(t === "x y z" && n === 5 && l === 5)
  }

  test("raw-text containers and comments drop; entities decode") {
    assert(blocks("<p>a&amp;b<script>var x='<p>no</p>';</script></p>")
      === Seq(("a&b", 3, 0)))
    assert(blocks("<p>a<!-- <a>ghost</a> -->b</p>") === Seq(("a b", 3, 0)))
  }

  test("empty blocks drop; whitespace collapses; codepoint counts") {
    assert(blocks("<div></div><p> \n </p><p>x</p>") === Seq(("x", 1, 0)))
    assert(blocks("<p>a\n\n   b</p>") === Seq(("a b", 3, 0)))
    assert(blocks("<p>x 😀</p>") === Seq(("x 😀", 3, 0)))
  }

  test("broken markup is deterministic: unclosed anchor flushes at EOF") {
    assert(blocks("<p>a <a>b") === Seq(("a b", 3, 2)))
    // a close without an open never underflows
    assert(blocks("<p>a</a>b</p>") === Seq(("a b", 3, 0)))
  }
}
