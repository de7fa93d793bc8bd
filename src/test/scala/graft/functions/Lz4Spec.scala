package graft.functions

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** LZ4 frame decode vs the independent system `lz4` CLI's exact
  * payload sidecars across levels, block sizes, checksum flags, and
  * multi-frame layouts, plus the XXH32 self-check and refusal matrix.
  */
class Lz4Spec extends SparkSuite {

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(
      getClass.getResource(s"/lz4_fixtures/$name").toURI))

  private val Names = Seq("text_l1", "text_l9_bx", "text_l9_sz", "rand8k",
    "rep90k_b4", "empty", "concat2")

  test("every fixture decodes bit-exactly to the CLI's input") {
    for (name <- Names) {
      val got = Lz4.decompressAll(fixture(name + ".lz4"))
      assert(got != null, s"$name refused")
      assert(java.util.Arrays.equals(got, fixture(name + ".raw")),
        s"$name payload differs")
    }
  }

  test("skippable frames are skipped whole") {
    val good = fixture("text_l1.lz4")
    val skip = Array[Byte](0x50, 0x2A, 0x4D, 0x18, 3, 0, 0, 0, 9, 9, 9)
    val got = Lz4.decompressAll(skip ++ good)
    assert(got != null &&
      java.util.Arrays.equals(got, fixture("text_l1.raw")))
  }

  test("SQL surface: lz4_decompress") {
    import spark.implicits._
    val rows = Names.map(n => (n, fixture(n + ".lz4")))
      .toDF("name", "blob")
      .selectExpr("name", "octet_length(lz4_decompress(blob)) AS n")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    for (name <- Names)
      assert(rows(name) == fixture(name + ".raw").length, name)
  }

  test("refusal matrix: null, never partial output or garbage") {
    val good = fixture("text_l9_bx.lz4")
    def patched(at: Int, x: Int): Array[Byte] = {
      val b = good.clone(); b(at) = (b(at) ^ x).toByte; b
    }
    assert(Lz4.decompressAll(patched(4, 0x01)) == null, "FLG / header checksum")
    assert(Lz4.decompressAll(patched(good.length / 2, 0x10)) == null,
      "payload corruption must break the block checksum")
    assert(Lz4.decompressAll(good.take(good.length - 3)) == null, "truncation")
    assert(Lz4.decompressAll(good ++ Array[Byte](1, 2, 3, 4)) == null,
      "trailing garbage")
    val szGood = fixture("text_l9_sz.lz4")
    val szBad = szGood.clone()
    // content-size field sits after FLG/BD; flipping it must refuse
    // via the header checksum; flipping the HC byte itself too
    szBad(6) = (szBad(6) ^ 0x01).toByte
    assert(Lz4.decompressAll(szBad) == null, "content size under checksum")
    assert(Lz4.decompressAll(Array[Byte](1, 2, 3)) == null)
    assert(Lz4.decompressAll(Array.empty[Byte]) == null)
  }
}
