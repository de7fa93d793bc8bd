package graft.functions

import graft.SparkSuite

/** Snappy decode pinned against the INDEPENDENT snappy-java (xerial)
  * codec from Spark's own classpath: raw blocks (seeded fuzz + shaped
  * payloads) and the framing format via SnappyFramedOutputStream,
  * plus the refusal matrix.
  */
class SnappySpec extends SparkSuite {

  private def lcg(seed: Long): Iterator[Int] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L +
      1442695040888963407L).drop(1).map(s => ((s >>> 33) & 0xff).toInt)

  private def payloads: Seq[(String, Array[Byte])] = {
    val phrase = ("the quick brown fox jumps over the lazy dog 0123456789 " *
      12).getBytes("UTF-8")
    val rand = lcg(5).take(20000).map(_.toByte).toArray
    val runs = Array.fill(70000)(0.toByte)
    lcg(9).take(200).zipWithIndex.foreach { case (v, i) =>
      runs(i * 350) = v.toByte
    }
    val long = ("abcdefghij" * 12000).getBytes("UTF-8") // 120k: 4-byte offsets
    Seq(("phrase", phrase), ("rand", rand), ("runs", runs),
      ("long", long), ("empty", Array.empty[Byte]),
      ("tiny", "x".getBytes("UTF-8")))
  }

  test("raw blocks: xerial-compressed payloads decode bit-exactly") {
    for ((name, raw) <- payloads) {
      val blob = org.xerial.snappy.Snappy.compress(raw)
      val got = Snappy.decompressAny(blob)
      assert(got != null, s"$name refused")
      assert(java.util.Arrays.equals(got, raw), s"$name differs")
    }
  }

  test("raw blocks: 300 seeded fuzz payloads round-trip") {
    val g = new java.util.Random(42)
    for (i <- 0 until 300) {
      val n = g.nextInt(3000)
      val raw = new Array[Byte](n)
      // mix of random and repetitive sections to exercise all tags
      var p = 0
      while (p < n) {
        val runLen = math.min(1 + g.nextInt(40), n - p)
        if (g.nextBoolean()) {
          val v = g.nextInt(256).toByte
          java.util.Arrays.fill(raw, p, p + runLen, v)
        } else g.nextBytes(java.util.Arrays.copyOfRange(raw, p, p + runLen))
        p += runLen
      }
      g.nextBytes(raw) // full random half the time keeps it honest
      val blob = org.xerial.snappy.Snappy.compress(raw)
      val got = Snappy.decompressAny(blob)
      assert(got != null && java.util.Arrays.equals(got, raw), s"fuzz $i")
    }
  }

  test("framing format: SnappyFramedOutputStream streams decode exactly") {
    for ((name, raw) <- payloads) {
      val bos = new java.io.ByteArrayOutputStream()
      val f = new org.xerial.snappy.SnappyFramedOutputStream(bos)
      f.write(raw)
      f.close()
      val got = Snappy.decompressAny(bos.toByteArray)
      assert(got != null, s"$name framed refused")
      assert(java.util.Arrays.equals(got, raw), s"$name framed differs")
    }
  }

  test("SQL surface + refusal matrix") {
    import spark.implicits._
    val raw = "compose me through sql please".getBytes("UTF-8")
    val blob = org.xerial.snappy.Snappy.compress(raw)
    val n = Seq(Tuple1(blob)).toDF("b")
      .selectExpr("octet_length(snappy_decompress(b)) AS n")
      .collect()(0).getInt(0)
    assert(n == raw.length)

    def framed(r: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val f = new org.xerial.snappy.SnappyFramedOutputStream(bos)
      f.write(r); f.close(); bos.toByteArray
    }
    val fr = framed("checksum me".getBytes("UTF-8"))
    val bad = fr.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 1).toByte
    assert(Snappy.decompressAny(bad) == null, "framed CRC must refuse")
    assert(Snappy.decompressAny(fr.take(fr.length - 2)) == null, "truncation")
    // raw block with lying preamble
    val lying = blob.clone()
    lying(0) = (lying(0) + 1).toByte
    assert(Snappy.decompressAny(lying) == null, "length preamble must bind")
    assert(Snappy.decompressAny(Array[Byte](0x02, 1, 2)) == null)
  }
}
