package graft.functions

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** TFRecord walk vs fixtures whose CRC32C was computed independently
  * from the polynomial (the decoder uses the JDK's CRC32C — the two
  * implementations cross-validate), plus the refusal matrix.
  */
class TfRecordSpec extends SparkSuite {

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(
      getClass.getResource(s"/tfrecord_fixtures/$name").toURI))

  private def meta(name: String): Seq[(Int, Long, String)] =
    new String(fixture(name + ".meta"), "UTF-8").trim.split("\n")
      .filter(_.nonEmpty).toSeq.map { l =>
        val Array(i, n, m) = l.split(" ")
        (i.toInt, n.toLong, m)
      }

  private def entries(blob: Array[Byte]): Option[Seq[(Int, Long, String)]] = {
    val r = TfRecord.entries(blob)
    if (r == null) None
    else Some((0 until r.numElements()).map { i =>
      val row = r.getStruct(i, 3)
      (row.getInt(0), row.getLong(1), row.getUTF8String(2).toString)
    })
  }

  test("fixtures walk to exactly the generator's (idx, size, md5) rows") {
    for (name <- Seq("three_examples", "single_big", "empty_file",
        "many_small")) {
      val got = entries(fixture(name + ".tfrecord"))
      assert(got.isDefined, s"$name refused")
      assert(got.get == meta(name), name)
    }
  }

  test("SQL surface: shard inventory via explode") {
    import spark.implicits._
    val rows = Seq(Tuple1(fixture("many_small.tfrecord"))).toDF("blob")
      .selectExpr("explode(tfrecord_entries(blob)) AS e")
      .selectExpr("e.idx", "e.n_bytes")
      .collect()
    assert(rows.length == 50)
    assert(rows.map(_.getInt(0)).toSeq == (0 until 50))
  }

  test("payloads extract bit-exactly; pack round-trips under the " +
    "independent-CRC fixtures' walk") {
    val good = fixture("three_examples.tfrecord")
    val arr = TfRecord.payloads(good)
    assert(arr != null && arr.numElements() == 3)
    assert(new String(arr.getBinary(0), "UTF-8") ==
      "pretend serialized tf.Example number one")
    assert(arr.getBinary(1).length == 1024 && arr.getBinary(2).isEmpty)
    // the deterministic writer reproduces the generator's bytes
    // EXACTLY (the generator framed the same payloads with its own
    // from-polynomial CRC32C — byte equality cross-validates both)
    val repacked = TfRecord.pack(
      (0 until 3).map(arr.getBinary))
    assert(java.util.Arrays.equals(repacked, good))
    assert(TfRecord.payloads(good.take(good.length - 2)) == null)
  }

  test("refusal matrix: a torn shard quarantines whole, never a prefix") {
    val good = fixture("three_examples.tfrecord")
    def patched(at: Int, x: Int): Array[Byte] = {
      val b = good.clone(); b(at) = (b(at) ^ x).toByte; b
    }
    assert(TfRecord.entries(patched(0, 0x01)) == null, "length CRC")
    assert(TfRecord.entries(patched(20, 0x01)) == null, "payload CRC")
    assert(TfRecord.entries(good.take(good.length - 2)) == null, "truncation")
    assert(TfRecord.entries(good ++ Array[Byte](1, 2)) == null,
      "trailing garbage")
    // corrupting the LAST record must still null the whole walk
    assert(TfRecord.entries(patched(good.length - 1, 0x01)) == null)
  }
}
