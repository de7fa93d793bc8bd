package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** DCT pHash invariants: exact brightness invariance (only DC moves
  * under a uniform shift), the median construction's balanced popcount,
  * sensitivity to structural edits, and the refusal path.
  */
class PHashSpec extends SparkSuite {

  /** Minimal 24-bit bottom-up BMP, W=H=32, r=g=b=v(x,y). */
  private def bmp(v: (Int, Int) => Int): Array[Byte] = {
    val w = 32; val h = 32
    val data = ByteBuffer.allocate(54 + w * h * 3).order(ByteOrder.LITTLE_ENDIAN)
    data.put('B'.toByte).put('M'.toByte).putInt(54 + w * h * 3)
      .putInt(0).putInt(54)
      .putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(w * h * 3).putInt(0).putInt(0).putInt(0).putInt(0)
    var k = 0
    while (k < h) {
      val y = h - 1 - k
      var x = 0
      while (x < w) {
        val g = v(x, y) & 0xFF
        data.put(g.toByte).put(g.toByte).put(g.toByte)
        x += 1
      }
      k += 1
    }
    data.array()
  }

  private def phashOf(b: Array[Byte]): Option[Long] = {
    import spark.implicits._
    val r = Seq(b).toDF("b")
      .selectExpr("image_phash(b) AS h").head
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  private val base = (x: Int, y: Int) => (x * 7 + y * 13 + (x / 8) * (y / 8) * 5) % 200

  test("uniform brightness shift leaves the hash EXACTLY unchanged") {
    val h1 = phashOf(bmp(base)).get
    val h2 = phashOf(bmp((x, y) => base(x, y) + 40)).get
    assert(h1 === h2)
  }

  test("median threshold sets exactly 31 bits when ACs are distinct") {
    val h = phashOf(bmp(base)).get
    assert(java.lang.Long.bitCount(h) === 31)
    // DC bit (bit 0) is never set by construction
    assert((h & 1L) === 0L)
  }

  test("a structural edit flips a bounded, nonzero number of bits") {
    val h1 = phashOf(bmp(base)).get
    val h2 = phashOf(bmp((x, y) =>
      if (x >= 16) 255 - base(x, y) else base(x, y))).get
    val d = java.lang.Long.bitCount(h1 ^ h2)
    assert(d > 0 && d <= 40)
  }

  test("non-image bytes refuse to null") {
    assert(phashOf("not an image at all".getBytes).isEmpty)
    assert(phashOf(Array[Byte](0x42, 0x4D, 1, 2, 3)).isEmpty)
  }
}
