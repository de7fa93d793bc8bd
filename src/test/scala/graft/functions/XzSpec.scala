package graft.functions

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** XZ/LZMA2 decode vs the independent python/liblzma compressor's
  * exact payload sidecars across every check type, presets 0/6/9e,
  * incompressible (uncompressed-chunk) and highly repetitive (long
  * match) payloads, multi-stream layouts, and the refusal matrix.
  */
class XzSpec extends SparkSuite {

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(
      getClass.getResource(s"/xz_fixtures/$name").toURI))

  private val Names = Seq("text_crc64", "text_crc32", "text_sha256",
    "text_none", "empty", "rand32k_p0", "rep70k_p9e", "mixed_runs",
    "sandwich", "concat2", "concat_padded")

  test("every fixture decodes bit-exactly to the compressor's input") {
    for (name <- Names) {
      val got = Xz.decompressAll(fixture(name + ".xz"))
      assert(got != null, s"$name refused")
      assert(java.util.Arrays.equals(got, fixture(name + ".raw")),
        s"$name payload differs")
    }
  }

  test("SQL surface: xz_decompress") {
    import spark.implicits._
    val rows = Names.map(n => (n, fixture(n + ".xz")))
      .toDF("name", "blob")
      .selectExpr("name", "octet_length(xz_decompress(blob)) AS n")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    for (name <- Names)
      assert(rows(name) == fixture(name + ".raw").length, name)
  }

  test("refusal matrix: null, never partial output or garbage") {
    val good = fixture("text_crc64.xz")
    def patched(at: Int, x: Int): Array[Byte] = {
      val b = good.clone(); b(at) = (b(at) ^ x).toByte; b
    }
    assert(Xz.decompressAll(patched(7, 0x02)) == null, "flags CRC")
    assert(Xz.decompressAll(patched(good.length / 2, 0x10)) == null,
      "payload corruption")
    assert(Xz.decompressAll(patched(good.length - 20, 0x01)) == null,
      "check value corruption")
    assert(Xz.decompressAll(good.take(good.length - 3)) == null,
      "truncation")
    assert(Xz.decompressAll(good ++ Array[Byte](1)) == null,
      "trailing garbage")
    assert(Xz.decompressAll(good ++ Array[Byte](0, 0)) == null,
      "stream padding not a multiple of 4")
    assert(Xz.decompressAll(Array[Byte](1, 2, 3)) == null)
    assert(Xz.decompressAll(Array.empty[Byte]) == null)
  }
}
