package graft.functions

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** bzip2 decode vs the independent python/libbz2 compressor's exact
  * payload sidecars, multi-block and multi-stream layouts, and the
  * refusal matrix.
  */
class Bzip2Spec extends SparkSuite {

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(
      getClass.getResource(s"/bz2_fixtures/$name").toURI))

  private val Names = Seq("text_small", "empty", "runs_rle1", "rand64k",
    "multiblock_l1", "concat2")

  test("every fixture decodes bit-exactly to the compressor's input") {
    for (name <- Names) {
      val got = Bzip2.decompressAll(fixture(name + ".bz2"))
      assert(got != null, s"$name refused")
      assert(java.util.Arrays.equals(got, fixture(name + ".raw")),
        s"$name payload differs")
    }
  }

  test("SQL surface composes with codec dispatch") {
    import spark.implicits._
    val rows = Names.map(n => (n, fixture(n + ".bz2")))
      .toDF("name", "blob")
      .selectExpr("name", "bzip2_decompress(blob) AS raw")
      .selectExpr("name", "octet_length(raw) AS n", "md5(raw) AS m")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getString(2)))
      .toMap
    for (name <- Names) {
      val raw = fixture(name + ".raw")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(raw).map("%02x".format(_)).mkString
      assert(rows(name) == (raw.length, md), name)
    }
  }

  test("refusal matrix: null, never partial output or garbage") {
    val good = fixture("text_small.bz2")
    def patched(at: Int, x: Int): Array[Byte] = {
      val b = good.clone(); b(at) = (b(at) ^ x).toByte; b
    }
    // block CRC lives right after the 4-byte header + 6-byte magic
    assert(Bzip2.decompressAll(patched(11, 0x01)) == null, "block CRC")
    // payload corruption lands in either a Huffman walk or the CRC
    assert(Bzip2.decompressAll(patched(good.length / 2, 0x10)) == null)
    assert(Bzip2.decompressAll(good.take(good.length - 2)) == null,
      "truncation")
    assert(Bzip2.decompressAll(good ++ Array[Byte](0)) == null,
      "trailing garbage")
    assert(Bzip2.decompressAll("BZh0".getBytes) == null, "level 0")
    assert(Bzip2.decompressAll(Array[Byte](1, 2, 3)) == null)
    assert(Bzip2.decompressAll(Array.empty[Byte]) == null)
    // a second stream that is garbage must poison the WHOLE result
    assert(Bzip2.decompressAll(good ++ "BZx9".getBytes) == null)
  }
}
