package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: FRAME SAMPLING from a binary video column —
  * `video_frame_sample(bin, k)` → `array<struct<frame_idx, mean_luma>>`
  * for every k-th frame of an AVI or MP4 whose frames are uncompressed,
  * or null for anything else. The video analog of [[ImageHash]]'s pixel
  * decode and [[AudioPcmStats]]'s waveform decode — the third leg of the
  * multimodal seam, and the operation a curation pipeline runs before any
  * model sees a video (sample sparse frames, featurize, route/filter on
  * the features).
  *
  * AVI: RIFF/`AVI ` top-level chunks, `LIST` containers skipped unless
  * their type is `movi`, then the frame chunks inside — word-aligned
  * sizes throughout, every bound checked against the buffer. Frame
  * chunks are ids matching `..db` (uncompressed DIB, BGR24) or `..dc`
  * (compressed); ALL frame chunks advance the frame index, only every
  * k-th is decoded. A SAMPLED compressed frame is a null for the whole
  * row (this expression does not pretend to decode codecs), as is a
  * sampled frame whose payload is not a whole number of triples — null,
  * never garbage.
  *
  * MP4/ISO-BMFF: a real sample-table walk — `moov`→`trak`→`mdia`→`minf`
  * →`stbl`, the codec gate from `stsd` (only the uncompressed `raw `
  * RGB24 sample-entry is decodable; any compressed codec refuses up
  * front since it covers every frame of the track), per-sample sizes
  * from `stsz` (both the fixed-size and per-sample-table layouts),
  * chunk layout from `stsc` run-length entries, chunk file offsets from
  * `stco` — so only the sampled frames' byte ranges inside `mdat` are
  * ever touched, exactly the access pattern that lets a columnar reader
  * skip bytes at scale. Inconsistent tables (samples than cannot be
  * placed in chunks, ranges past the buffer) refuse with null.
  *
  * `mean_luma` is exact integer arithmetic — per pixel
  * `(299·r + 587·g + 114·b) / 1000` (the [[ImageHash]] grayscale), frame
  * mean = Σluma / pixel-count (floor) — so an oracle replays it from the
  * fixture formula without touching bytes. AVI `..db` payloads are BGR
  * (DIB convention); MP4 `raw ` payloads are RGB (QuickTime convention).
  *
  * Scale shape: scan-side, codegen'd static call; each blob reduces to
  * (frames/k) pairs of ints before anything shuffles, and only sampled
  * frames' bytes are ever read.
  */
object VideoFrames {

  val schema: DataType = ArrayType(StructType(Seq(
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("mean_luma", IntegerType, nullable = false))),
    containsNull = false)

  val hashSchema: DataType = ArrayType(StructType(Seq(
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("fhash", LongType, nullable = false))),
    containsNull = false)

  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'

  /** Exact integer luma of pixel triple at `i` ([[ImageHash]] weights;
    * AVI payloads are BGR, MP4 `raw ` payloads RGB). */
  @inline private def luma(b: Array[Byte], i: Int, bgr: Boolean): Long = {
    val v0 = b(i) & 0xff; val v1 = b(i + 1) & 0xff; val v2 = b(i + 2) & 0xff
    if (bgr) (299 * v2 + 587 * v1 + 114 * v0) / 1000
    else (299 * v0 + 587 * v1 + 114 * v2) / 1000
  }

  /** Per-frame reduce: mean luma (hash=false) or the aHash-rule frame
    * fingerprint (hash=true) — bit j set iff block j's mean luma ≥ the
    * frame mean, blocks being min(npx, 64) equal contiguous pixel runs
    * in payload order (for ≤64-px frames that is one bit per pixel).
    * All floor-integer arithmetic, so an oracle replays it from the
    * fixture pixel formula.
    */
  private def frameValue(b: Array[Byte], from: Int, npx: Int,
                         bgr: Boolean, hash: Boolean): Long = {
    var sum = 0L
    var i = from
    var c = 0
    while (c < npx) { sum += luma(b, i, bgr); i += 3; c += 1 }
    if (!hash) return sum / npx
    val mean = sum / npx
    val nb = math.min(npx, 64)
    var h = 0L
    var j = 0
    while (j < nb) {
      val lo = (j.toLong * npx / nb).toInt
      val hi = ((j + 1).toLong * npx / nb).toInt
      var bs = 0L
      var p2 = from + 3 * lo
      var cc = lo
      while (cc < hi) { bs += luma(b, p2, bgr); p2 += 3; cc += 1 }
      if (bs / (hi - lo) >= mean) h |= 1L << j
      j += 1
    }
    h
  }

  @inline private def frameRow(frameIdx: Int, v: Long,
                               hash: Boolean): GenericInternalRow =
    if (hash) new GenericInternalRow(Array[Any](frameIdx, v))
    else new GenericInternalRow(Array[Any](frameIdx, v.toInt))

  /** Invoked from both interpreted eval and generated code; null unless
    * the bytes are a bounded-complete AVI and every SAMPLED frame is an
    * uncompressed whole-triple payload.
    */
  def sample(b: Array[Byte], k: Int): ArrayData = scan(b, k, hash = false)

  /** `video_frame_ahash(bin, k)` → `array<struct<frame_idx, fhash>>` —
    * [[sample]]'s fingerprint twin: every k-th frame of an
    * AVI/MP4 reduced to a 64-bit aHash-rule hash (bit j = contiguous
    * pixel-block j's mean luma ≥ the frame mean). The per-video hash
    * signature is what video perceptual dedup bands on — identical
    * refusal contract as the sampler (null on compressed codecs,
    * inconsistent tables, or out-of-range byte spans, never garbage).
    *
    * [[sample]]'s fingerprint twin: every k-th frame reduced to its
    * 64-bit aHash-rule hash — the signature video near-dup bands on. */
  def sampleHash(b: Array[Byte], k: Int): ArrayData = scan(b, k, hash = true)

  private def scan(b: Array[Byte], k: Int, hash: Boolean): ArrayData = {
    if (b == null || k < 1 || b.length < 12) return null
    if (b.length >= 16 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' &&
        b(7) == 'p') return sampleMp4(b, k, hash)
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' ')) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    var moviSeen = false
    var frameIdx = 0
    var p = 12
    while (p + 8 <= b.length) {
      val size = Bytes.le32(b, p + 4) // Long: cannot wrap p negative
      if (size < 0 || p + 8L + size > b.length) return null
      if (b(p) == 'L' && b(p + 1) == 'I' && b(p + 2) == 'S' && b(p + 3) == 'T') {
        if (size < 4) return null
        if (b(p + 8) == 'm' && b(p + 9) == 'o' && b(p + 10) == 'v' &&
            b(p + 11) == 'i') {
          moviSeen = true
          val end = (p + 8 + size).toInt
          var q = p + 12
          while (q + 8 <= end) {
            val s2 = Bytes.le32(b, q + 4)
            if (s2 < 0 || q + 8L + s2 > end) return null
            val frame = isDigit(b(q)) && isDigit(b(q + 1)) && b(q + 2) == 'd' &&
              (b(q + 3) == 'b' || b(q + 3) == 'c')
            if (frame) {
              if (frameIdx % k == 0) {
                // sampled: must be decodable — uncompressed, whole triples
                if (b(q + 3) == 'c' || s2 == 0 || s2 % 3 != 0) return null
                out += frameRow(frameIdx,
                  frameValue(b, q + 8, (s2 / 3).toInt, bgr = true, hash), hash)
              }
              frameIdx += 1
            }
            q += (8 + s2 + (s2 & 1)).toInt
          }
        }
      }
      p += (8 + size + (size & 1)).toInt
    }
    if (!moviSeen) return null
    new GenericArrayData(out.toArray)
  }

  /** MP4 path: locate samples through stsd/stsz/stsc/stco, decode only
    * the every-k-th ones as RGB24. Null on compressed codecs, missing or
    * inconsistent tables, or any byte range outside the buffer.
    */
  private def sampleMp4(b: Array[Byte], k: Int, hash: Boolean): ArrayData = {
    import VideoHeader.findBox
    val len = b.length.toLong
    val moov = findBox(b, 0, len, "moov")
    if (moov == null) return null
    val trak = findBox(b, moov(0), moov(1), "trak")
    if (trak == null) return null
    val mdia = findBox(b, trak(0), trak(1), "mdia")
    if (mdia == null) return null
    val minf = findBox(b, mdia(0), mdia(1), "minf")
    if (minf == null) return null
    val stbl = findBox(b, minf(0), minf(1), "stbl")
    if (stbl == null) return null

    // stsd: the codec gate — one sample description covers every frame
    // of the track, so a compressed codec refuses the whole row up front
    val stsd = findBox(b, stbl(0), stbl(1), "stsd")
    if (stsd == null || stsd(0) + 16 > stsd(1)) return null
    val sdP = stsd(0).toInt
    if (Bytes.be32(b, sdP + 4) < 1) return null // entry_count
    // first entry: size(4) fourcc(4)
    if (!(b(sdP + 12) == 'r' && b(sdP + 13) == 'a' && b(sdP + 14) == 'w' &&
          b(sdP + 15) == ' ')) return null

    // stsz: version/flags(4) sample_size(4) count(4) [+ per-sample table]
    val stsz = findBox(b, stbl(0), stbl(1), "stsz")
    if (stsz == null || stsz(0) + 12 > stsz(1)) return null
    val szP = stsz(0).toInt
    val fixedSize = Bytes.be32(b, szP + 4)
    val nSamples = Bytes.be32(b, szP + 8)
    if (nSamples < 0 || nSamples > Int.MaxValue) return null
    if (fixedSize == 0 && stsz(0) + 12 + 4L * nSamples > stsz(1)) return null
    def sampleSize(i: Int): Long =
      if (fixedSize != 0) fixedSize else Bytes.be32(b, szP + 12 + 4 * i)

    // stsc: version/flags(4) count(4), runs of (first_chunk,
    // samples_per_chunk, sample_description_index)
    val stsc = findBox(b, stbl(0), stbl(1), "stsc")
    if (stsc == null || stsc(0) + 8 > stsc(1)) return null
    val scP = stsc(0).toInt
    val nRuns = Bytes.be32(b, scP + 4)
    if (nRuns < 1 || stsc(0) + 8 + 12L * nRuns > stsc(1)) return null
    def runFirstChunk(r: Int): Long = Bytes.be32(b, scP + 8 + 12 * r)
    def runSpc(r: Int): Long = Bytes.be32(b, scP + 8 + 12 * r + 4)

    // stco: version/flags(4) count(4), 32-bit chunk offsets (co64 is a
    // >4 GiB-file affordance a single in-memory blob cannot need)
    val stco = findBox(b, stbl(0), stbl(1), "stco")
    if (stco == null || stco(0) + 8 > stco(1)) return null
    val coP = stco(0).toInt
    val nChunks = Bytes.be32(b, coP + 4)
    if (nChunks < 1 || stco(0) + 8 + 4L * nChunks > stco(1)) return null
    def chunkOffset(c: Int): Long = Bytes.be32(b, coP + 8 + 4 * c)

    val out = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    var sampleIdx = 0
    var run = 0
    var chunk = 0 // 0-based; stsc first_chunk is 1-based
    while (chunk < nChunks && sampleIdx < nSamples) {
      // advance to the stsc run covering this chunk
      while (run + 1 < nRuns && runFirstChunk(run + 1) <= chunk + 1) run += 1
      if (runFirstChunk(run) > chunk + 1) return null // chunk before run 0
      val spc = runSpc(run)
      if (spc < 0 || spc > Int.MaxValue) return null
      var off = chunkOffset(chunk)
      var s = 0
      while (s < spc && sampleIdx < nSamples) {
        val size = sampleSize(sampleIdx)
        if (size < 0 || off < 0 || off + size > len) return null
        if (sampleIdx % k == 0) {
          if (size == 0 || size % 3 != 0) return null
          out += frameRow(sampleIdx,
            frameValue(b, off.toInt, (size / 3).toInt, bgr = false, hash),
            hash)
        }
        off += size
        sampleIdx += 1
        s += 1
      }
      chunk += 1
    }
    // every stsz sample must have been placed in some chunk
    if (sampleIdx < nSamples) return null
    new GenericArrayData(out.toArray)
  }
}
