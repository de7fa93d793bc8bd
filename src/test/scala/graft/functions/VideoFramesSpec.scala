package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import graft.SparkSuite

/** Frame sampling from AVI movi chunks: exact mean luma on known frames,
  * the every-k stride over ALL frame chunks (including unsampled
  * compressed ones), skipping non-movi LISTs, and the refusal paths
  * (sampled compressed frame, ragged triples, truncation, no movi).
  */
class VideoFramesSpec extends SparkSuite {

  /** Build an AVI: frames as (id, payload) chunks inside LIST movi,
    * preceded by an empty hdrl LIST the walk must skip.
    */
  private def avi(frames: Seq[(String, Array[Byte])]): Array[Byte] = {
    val movi = ByteBuffer.allocate(4096).order(ByteOrder.LITTLE_ENDIAN)
    movi.put("movi".getBytes)
    frames.foreach { case (id, payload) =>
      movi.put(id.getBytes).putInt(payload.length).put(payload)
      if (payload.length % 2 == 1) movi.put(0.toByte)
    }
    val m = movi.position()
    val out = ByteBuffer.allocate(8192).order(ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(0).put("AVI ".getBytes)
    out.put("LIST".getBytes).putInt(4).put("hdrl".getBytes)
    out.put("LIST".getBytes).putInt(m).put(movi.array(), 0, m)
    val n = out.position()
    val res = new Array[Byte](n)
    out.flip(); out.get(res)
    // fix the RIFF size so bounds checks see a consistent container
    ByteBuffer.wrap(res).order(ByteOrder.LITTLE_ENDIAN).putInt(4, n - 8)
    res
  }

  /** npx gray pixels (r=g=b=v) as a BGR24 payload. */
  private def gray(vs: Int*): Array[Byte] =
    vs.flatMap(v => Seq(v.toByte, v.toByte, v.toByte)).toArray

  private def sample(b: Array[Byte], k: Int): Option[Seq[(Int, Int)]] =
    Option(VideoFrames.sample(b, k)).map { ad =>
      (0 until ad.numElements()).map { i =>
        val r = ad.getStruct(i, 2)
        (r.getInt(0), r.getInt(1))
      }
    }

  test("every-k sampling with exact integer mean luma") {
    val b = avi(Seq(
      "00db" -> gray(10, 20),       // frame 0: mean 15
      "00db" -> gray(200, 201),     // frame 1 (unsampled at k=2)
      "01db" -> gray(7, 8),         // frame 2: mean 7 (floor)
      "00db" -> gray(0, 255)))      // frame 3 (unsampled)
    assert(sample(b, 2) == Some(Seq(0 -> 15, 2 -> 7)))
    assert(sample(b, 1).map(_.size) == Some(4))
    assert(sample(b, 4) == Some(Seq(0 -> 15)))
  }

  test("unsampled compressed frames stride the index; sampled ones refuse") {
    val b = avi(Seq(
      "00db" -> gray(100),
      "00dc" -> Array[Byte](1, 2),  // compressed, unsampled at k=2 — fine
      "00db" -> gray(50)))
    assert(sample(b, 2) == Some(Seq(0 -> 100, 2 -> 50)))
    val bad = avi(Seq("00dc" -> Array[Byte](1, 2, 3)))
    assert(sample(bad, 1).isEmpty, "sampled compressed frame must refuse")
  }

  test("null, never garbage: ragged triples, truncation, no movi, bad k") {
    val ragged = avi(Seq("00db" -> Array[Byte](1, 2, 3, 4)))
    assert(sample(ragged, 1).isEmpty, "non-triple payload must refuse")
    val ok = avi(Seq("00db" -> gray(9)))
    assert(sample(ok.dropRight(2), 1).isEmpty, "truncated container must refuse")
    // byte 32 is the movi LIST's type fourcc (12 RIFF hdr + 12 hdrl + 8)
    val noMovi = avi(Seq.empty).patch(32, "xxxx".getBytes.toSeq, 4).toArray
    assert(sample(noMovi, 1).isEmpty, "no movi LIST must refuse")
    assert(sample(ok, 0).isEmpty, "k < 1 must refuse")
    assert(sample("RIFF0000AVI ".getBytes, 1).isEmpty)
  }

  /** Build an MP4: ftyp + moov(trak/mdia/minf/stbl{stsd,stsz,stsc,stco})
    * + mdat holding the frame payloads. `chunks` groups frames into mdat
    * chunks (stsc runs are emitted run-length-compressed); `perSample`
    * forces the stsz per-sample-table layout even for equal sizes.
    */
  private def mp4(codec: String, chunks: Seq[Seq[Array[Byte]]],
                  perSample: Boolean = false): Array[Byte] = {
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(typ.getBytes).put(payload)
      bb.array()
    }
    val frames = chunks.flatten
    val sizes = frames.map(_.length)
    val fixed = sizes.distinct.size == 1 && !perSample
    val stsd = box("stsd", {
      val bb = ByteBuffer.allocate(24)
      bb.putInt(0).putInt(1).putInt(16).put(codec.getBytes).putLong(0L)
      bb.array()
    })
    val stsz = box("stsz", {
      val bb = ByteBuffer.allocate(12 + (if (fixed) 0 else 4 * sizes.size))
      bb.putInt(0).putInt(if (fixed) sizes.head else 0).putInt(sizes.size)
      if (!fixed) sizes.foreach(bb.putInt)
      bb.array()
    })
    // stsc: run-length encode samples-per-chunk
    val runs = chunks.map(_.size).zipWithIndex
      .filter { case (n, i) => i == 0 || chunks(i - 1).size != n }
      .map { case (n, i) => (i + 1, n) }
    val stsc = box("stsc", {
      val bb = ByteBuffer.allocate(8 + 12 * runs.size)
      bb.putInt(0).putInt(runs.size)
      runs.foreach { case (fc, n) => bb.putInt(fc).putInt(n).putInt(1) }
      bb.array()
    })
    val stblInner = Array(stsd, stsz, stsc).flatten // stco appended below
    // mdat starts after ftyp(16) + moov; moov = nested boxes around stbl
    val stcoLen = 8 + 8 + 4 * chunks.size
    val moovLen = 8 + 8 + 8 + 8 + 8 + stblInner.length + stcoLen
    var off = 16 + moovLen + 8 // first mdat payload byte
    val offsets = chunks.map { c => val o = off; off += c.map(_.length).sum; o }
    val stco = box("stco", {
      val bb = ByteBuffer.allocate(8 + 4 * chunks.size)
      bb.putInt(0).putInt(chunks.size)
      offsets.foreach(bb.putInt)
      bb.array()
    })
    val stbl = box("stbl", stblInner ++ stco)
    val moov = box("moov", box("trak", box("mdia", box("minf", stbl))))
    val ftyp = {
      val bb = ByteBuffer.allocate(16)
      bb.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
      bb.array()
    }
    val mdat = box("mdat", frames.flatten.toArray)
    ftyp ++ moov ++ mdat
  }

  /** npx pixels as RGB24 triples. */
  private def rgb(px: (Int, Int, Int)*): Array[Byte] =
    px.flatMap { case (r, g, b) => Seq(r.toByte, g.toByte, b.toByte) }.toArray

  test("mp4: sample-table walk with exact mean luma, RGB order") {
    val b = mp4("raw ", Seq(Seq(
      gray(10, 20),                  // frame 0: mean 15
      gray(200, 201),                // frame 1 (unsampled at k=2)
      rgb((100, 0, 0), (100, 0, 0)), // frame 2: RGB ⇒ 299·100/1000 = 29
      gray(0, 255))))
    assert(sample(b, 2) == Some(Seq(0 -> 15, 2 -> 29)),
      "BGR order would read frame 2 as 11 (114·100/1000)")
    assert(sample(b, 1).map(_.size) == Some(4))
  }

  test("mp4: per-sample stsz table and multi-chunk stsc both place samples") {
    val b = mp4("raw ",
      Seq(Seq(gray(50), gray(60, 62)), Seq(gray(70)), Seq(gray(80))),
      perSample = true)
    assert(sample(b, 2) == Some(Seq(0 -> 50, 2 -> 70)))
    assert(sample(b, 1) == Some(Seq(0 -> 50, 1 -> 61, 2 -> 70, 3 -> 80)))
  }

  test("mp4: refusals — compressed codec, truncation, unplaceable samples") {
    val frames = Seq(Seq(gray(10), gray(20)))
    assert(sample(mp4("avc1", frames), 1).isEmpty,
      "compressed codec must refuse up front")
    val ok = mp4("raw ", frames)
    assert(sample(ok.dropRight(2), 1).isEmpty,
      "sample range past the buffer must refuse")
    // stsz count beyond what chunks hold: claim 3 samples, provide 2
    val inflated = mp4("raw ", frames)
    // stsz count field: find 'stsz' then +12 bytes (hdr 8 + ver 4) +4 size
    val szAt = inflated.indexOfSlice("stsz".getBytes) + 4 + 8
    val patched = inflated.clone()
    ByteBuffer.wrap(patched).putInt(szAt, 3)
    assert(sample(patched, 1).isEmpty, "unplaceable stsz samples must refuse")
    // non-triple payload
    val ragged = mp4("raw ", Seq(Seq(Array[Byte](1, 2, 3, 4))))
    assert(sample(ragged, 1).isEmpty)
  }

  test("codegen path agrees through the SQL surface") {
    import spark.implicits._
    val rows = Seq((1L, avi(Seq("00db" -> gray(10, 20), "00db" -> gray(30, 40)))))
      .toDF("id", "blob")
      .selectExpr("id", "explode(video_frame_sample(blob, 2)) AS fr")
      .selectExpr("id", "fr.frame_idx", "fr.mean_luma")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(rows == Set((1L, 0, 15)))
  }

  private def hashes(b: Array[Byte], k: Int): Option[Seq[(Int, Long)]] =
    Option(VideoFrames.sampleHash(b, k)).map { ad =>
      (0 until ad.numElements()).map { i =>
        val r = ad.getStruct(i, 2)
        (r.getInt(0), r.getLong(1))
      }
    }

  test("frame ahash: per-pixel sign bits for small frames, both containers") {
    // frame of 4 px: lumas 10, 20, 30, 200 → mean 65 → only bit 3 set
    val b = avi(Seq("00db" -> gray(10, 20, 30, 200)))
    assert(hashes(b, 1) == Some(Seq(0 -> 8L)))
    // all-equal frame: every block mean == frame mean → all npx bits set
    val flat = avi(Seq("00db" -> gray(50, 50, 50)))
    assert(hashes(flat, 1) == Some(Seq(0 -> 7L)))
    // MP4 path hashes RGB payloads with the same rule
    val m = mp4("raw ", Seq(Seq(gray(10, 20, 30, 200))))
    assert(hashes(m, 1) == Some(Seq(0 -> 8L)))
    // brightness invariance: +40 on every pixel flips no sign bit
    val shifted = avi(Seq("00db" -> gray(50, 60, 70, 240)))
    assert(hashes(shifted, 1) == hashes(b, 1))
  }

  test("frame ahash: >64-px frames reduce via 64 contiguous pixel blocks") {
    // 128 px: first 64 dark (10), last 64 bright (200) → blocks of 2 px,
    // mean 105 → low 32 blocks 0, high 32 blocks 1
    val px = Seq.fill(64)(10) ++ Seq.fill(64)(200)
    val b = avi(Seq("00db" -> gray(px: _*)))
    assert(hashes(b, 1) == Some(Seq(0 -> (-1L << 32))))
    // refusal contract identical to the sampler
    assert(hashes(avi(Seq("00dc" -> gray(1, 2))), 1).isEmpty)
    assert(hashes(Array[Byte](1, 2, 3), 1).isEmpty)
  }

  test("frame ahash codegen path through the SQL surface") {
    import spark.implicits._
    val rows = Seq((1L, avi(Seq("00db" -> gray(10, 20, 30, 200),
        "00db" -> gray(1, 2, 3)))))
      .toDF("id", "blob")
      .selectExpr("id", "explode(video_frame_ahash(blob, 1)) AS fr")
      .selectExpr("id", "fr.frame_idx", "fr.fhash")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // frame 1: lumas 1,2,3 mean 2 → bits 1,2 → 6
    assert(rows == Set((1L, 0, 8L), (1L, 1, 6L)))
  }
}
