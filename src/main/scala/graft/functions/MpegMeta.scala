package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MPEG audio (MP3-family) FRAME-HEADER metadata — the lossy-audio
  * counterpart of the WAV/FLAC header walk and the `mm_video_meta`
  * posture: most web audio is MP3/AAC, and the curation signals that
  * gate it (duration and bitrate floors, sample-rate sanity, frame
  * integrity) need only the 4-byte frame headers (ISO/IEC 11172-3 /
  * 13818-3 framing), never a PCM decode.
  *
  * `audio_mpeg_meta(binary)` walks the whole file: an optional ID3v2
  * container up front (syncsafe size, optional footer), then every
  * MPEG audio frame — 11-bit sync, version (1 / 2 / 2.5), layer
  * (I/II/III), bitrate and sample-rate table lookups, padding — sized
  * exactly and stepped over, then an optional trailing ID3v1 "TAG"
  * block. Whole-or-refuse (the engine's container posture): null on
  * broken sync, reserved version/layer/sample-rate codes, FREE-FORMAT
  * bitrate (frame size is then undefined without scanning for the next
  * sync — refuse loudly rather than guess), truncated final frames,
  * cross-frame version/layer/rate changes, or trailing junk. VBR
  * streams (bitrate varying per frame) are legal and common —
  * `bitrate_kbps` reports the FIRST frame, `duration_ms` sums actual
  * per-frame samples.
  *
  * Output struct: (version, layer, sample_rate, bitrate_kbps,
  * channels, n_frames, duration_ms).
  */
object MpegMeta {

  val schema: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("layer", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("bitrate_kbps", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("duration_ms", LongType)))

  // bitrate tables in kbps, index 1-14 (0 = free format, 15 = invalid)
  private val BrV1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
  private val BrV1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
  private val BrV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val BrV2L1 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
  private val BrV2L23 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private val SrV1 = Array(44100, 48000, 32000)
  private val SrV2 = Array(22050, 24000, 16000)
  private val SrV25 = Array(11025, 12000, 8000)

  /** `audio_mpeg_meta(binary)` → frame-walk metadata struct or null. */
  def parse(b: Array[Byte]): InternalRow = {
    @inline def u8(i: Int): Int = b(i) & 0xff
    var pos = 0
    // ID3v2 container: "ID3", version 2 bytes, flags, 4 syncsafe size bytes
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      if ((u8(6) | u8(7) | u8(8) | u8(9)) >= 0x80) return null // non-syncsafe
      val sz = (u8(6) << 21) | (u8(7) << 14) | (u8(8) << 7) | u8(9)
      pos = 10 + sz + (if ((u8(5) & 0x10) != 0) 10 else 0) // footer flag
      if (pos > b.length) return null
    }
    var version = -1 // 0 = MPEG1, 1 = MPEG2, 2 = MPEG2.5
    var layer = -1
    var sr = -1
    var channels = -1
    var firstKbps = -1
    var frames = 0
    var samples = 0L
    while (pos < b.length) {
      // trailing ID3v1 tag: exactly 128 bytes of "TAG..."
      if (b.length - pos == 128 && b(pos) == 'T' && b(pos + 1) == 'A' &&
        b(pos + 2) == 'G') { pos = b.length }
      else {
        if (pos + 4 > b.length) return null
        val h = Bytes.be32(b, pos).toInt
        if ((h >>> 21) != 0x7ff) return null // broken sync
        val verBits = (h >>> 19) & 3
        val ver = verBits match {
          case 3 => 0; case 2 => 1; case 0 => 2; case _ => return null // reserved
        }
        val layerBits = (h >>> 17) & 3
        if (layerBits == 0) return null // reserved layer
        val lay = 4 - layerBits
        val brIdx = (h >>> 12) & 15
        if (brIdx == 0 || brIdx == 15) return null // free format / invalid
        val srIdx = (h >>> 10) & 3
        if (srIdx == 3) return null // reserved
        val pad = (h >>> 9) & 1
        val mode = (h >>> 6) & 3
        val kbps = (ver, lay) match {
          case (0, 1) => BrV1L1(brIdx)
          case (0, 2) => BrV1L2(brIdx)
          case (0, 3) => BrV1L3(brIdx)
          case (_, 1) => BrV2L1(brIdx)
          case _ => BrV2L23(brIdx)
        }
        val rate = ver match {
          case 0 => SrV1(srIdx); case 1 => SrV2(srIdx); case _ => SrV25(srIdx)
        }
        if (frames == 0) {
          version = ver; layer = lay; sr = rate; firstKbps = kbps
          channels = if (mode == 3) 1 else 2
        } else if (ver != version || lay != layer || rate != sr) return null
        val bps = kbps * 1000
        val frameSize = lay match {
          case 1 => (12 * bps / rate + pad) * 4
          case 2 => 144 * bps / rate + pad
          case _ => if (ver == 0) 144 * bps / rate + pad else 72 * bps / rate + pad
        }
        val frameSamples = lay match {
          case 1 => 384
          case 2 => 1152
          case _ => if (ver == 0) 1152 else 576
        }
        if (pos + frameSize > b.length) return null // truncated frame
        pos += frameSize
        frames += 1
        samples += frameSamples
      }
    }
    if (frames == 0) return null
    val verStr = version match { case 0 => "1"; case 1 => "2"; case _ => "2.5" }
    InternalRow(UTF8String.fromString(verStr), layer, sr, firstKbps, channels,
      frames, samples * 1000L / sr)
  }

  // --------------------------------------------- ID3v2 text frames

  /** `id3_tags` output: the tag's declared version plus every TEXT
    * frame (T*** / v2.2 T**, except the user-defined TXXX/TXX) in
    * frame order, the MP3 sibling of [[OggMeta.tagsSchema]].
    */
  val id3Schema: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("tags", ArrayType(StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("value", StringType, nullable = false))),
      containsNull = false))))

  /** `id3_tags(binary)` → ID3v2 version + text-frame (key, value) rows
    * in frame order, or null on any refusal — the MP3 curation-metadata
    * sibling of `audio_ogg_tags`.
    *
    * ID3v2.2/2.3/2.4 text-frame walk per the published informal specs:
    * 10-byte header (syncsafe tag size), optional extended header
    * (v2.3 non-syncsafe-excluding-itself vs v2.4
    * syncsafe-including-itself — the classic trap), then frames —
    * v2.2: 3-byte id + 3-byte size; v2.3: 4-byte id + 4-byte size +
    * 2 flag bytes; v2.4: 4-byte id + SYNCSAFE size + 2 flag bytes.
    * Text frames decode per their leading encoding byte: 0
    * ISO-8859-1, 1 UTF-16 with mandatory BOM, 2 UTF-16BE (v2.4), 3
    * UTF-8 (v2.4); the value is the first NUL-terminated string.
    * Non-text frames skip silently (the spec's ignore-unknown rule).
    *
    * Whole-or-refuse: null on unsynchronisation or unknown tag flags,
    * a frame running past the tag end (truncated), non-syncsafe size
    * bytes where syncsafe is required, compressed/encrypted frame
    * flags, a missing UTF-16 BOM, or a reserved encoding byte — never
    * a partial tag list.
    */
  def id3Tags(b: Array[Byte]): InternalRow =
    // belt-and-braces (ArrowIpc posture): residual index arithmetic a
    // crafted tag slips past the explicit bounds checks nulls the row
    // instead of crashing the query
    try id3TagsImpl(b) catch {
      case _: IndexOutOfBoundsException  => null
      case _: NegativeArraySizeException => null
    }

  private def id3TagsImpl(b: Array[Byte]): InternalRow = {
    if (b.length < 10 || b(0) != 'I' || b(1) != 'D' || b(2) != '3')
      return null
    @inline def u8(i: Int): Int = b(i) & 0xff
    val major = u8(3)
    if (major < 2 || major > 4) return null
    val flags = u8(5)
    if ((flags & 0x80) != 0) return null // unsynchronisation: refuse
    if (major == 2 && (flags & 0x40) != 0) return null // v2.2 compression
    if ((flags & 0x0f) != 0) return null // undefined flag bits
    if ((u8(6) | u8(7) | u8(8) | u8(9)) >= 0x80) return null
    val size = (u8(6) << 21) | (u8(7) << 14) | (u8(8) << 7) | u8(9)
    val end = 10 + size
    if (end > b.length) return null
    var pos = 10
    if (major >= 3 && (flags & 0x40) != 0) { // extended header
      if (pos + 4 > end) return null
      if (major == 3) {
        // v2.3: 4-byte BE size NOT including the size field itself
        val es = Bytes.be32(b, pos).toInt
        if (es < 0) return null
        // bounds in Long: es is an untrusted 31-bit value, `pos + 4 + es`
        // can wrap negative in Int and slip past the `pos > end` guard
        if (pos.toLong + 4L + es > end) return null
        pos += 4 + es
      } else {
        // v2.4: syncsafe size INCLUDING the size field
        if ((u8(pos) | u8(pos + 1) | u8(pos + 2) | u8(pos + 3)) >= 0x80)
          return null
        val es = (u8(pos) << 21) | (u8(pos + 1) << 14) |
          (u8(pos + 2) << 7) | u8(pos + 3)
        if (es < 6) return null
        pos += es
      }
      if (pos > end) return null
    }
    val idLen = if (major == 2) 3 else 4
    val headLen = if (major == 2) 6 else 10
    val tags = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var done = false
    while (!done && pos < end) {
      if (b(pos) == 0) done = true // padding starts
      else {
        if (pos + headLen > end) return null
        var k = 0
        while (k < idLen) {
          val c = u8(pos + k)
          if (!((c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')))
            return null
          k += 1
        }
        val id = new String(b, pos, idLen, "ISO-8859-1")
        val fsz =
          if (major == 2) (u8(pos + 3) << 16) | (u8(pos + 4) << 8) | u8(pos + 5)
          else if (major == 3)
            Bytes.be32(b, pos + 4).toInt
          else {
            if ((u8(pos + 4) | u8(pos + 5) | u8(pos + 6) | u8(pos + 7)) >= 0x80)
              return null // v2.4 frame sizes are syncsafe
            (u8(pos + 4) << 21) | (u8(pos + 5) << 14) |
              (u8(pos + 6) << 7) | u8(pos + 7)
          }
        if (fsz < 0 || pos.toLong + headLen + fsz > end) return null // truncated (Long: fsz is untrusted 31-bit)
        if (major >= 3) {
          // format flags: compression/encryption/unsync-per-frame refuse
          val f2 = u8(pos + 9)
          if (major == 3 && (f2 & 0xc0) != 0) return null
          if (major == 4 && (f2 & 0x0e) != 0) return null
        }
        val isText = id.charAt(0) == 'T' && id != "TXXX" && id != "TXX"
        if (isText && fsz >= 1) {
          val enc = u8(pos + headLen)
          val from = pos + headLen + 1
          val len = fsz - 1
          val text: String = enc match {
            case 0 => new String(b, from, len, "ISO-8859-1")
            case 1 =>
              if (len < 2) return null
              if (u8(from) == 0xff && u8(from + 1) == 0xfe)
                new String(b, from + 2, len - 2, "UTF-16LE")
              else if (u8(from) == 0xfe && u8(from + 1) == 0xff)
                new String(b, from + 2, len - 2, "UTF-16BE")
              else return null // BOM is mandatory for encoding 1
            case 2 =>
              if (major < 4) return null
              new String(b, from, len, "UTF-16BE")
            case 3 =>
              if (major < 4) return null
              new String(b, from, len, "UTF-8")
            case _ => return null // reserved encoding byte
          }
          val value = text.takeWhile(_ != '\u0000')
          tags += InternalRow(UTF8String.fromString(id),
            UTF8String.fromString(value))
        }
        pos += headLen + fsz
      }
    }
    InternalRow(UTF8String.fromString("2." + major),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        tags.toArray[Any]))
  }

  /** `id3v1_tags` output: the fixed trailing 128-byte TAG block. */
  val id3v1Schema: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("artist", StringType),
    StructField("album", StringType),
    StructField("year", StringType),
    StructField("comment", StringType),
    StructField("track", IntegerType),
    StructField("genre_id", IntegerType)))

  /** `id3v1_tags(binary)` → the trailing 128-byte ID3v1/v1.1 tag block,
    * or null when the file carries none.
    *
    * ID3v1 / v1.1 trailing tag — the 128-byte fixed block at the END
    * of the file ("TAG" + title[30] + artist[30] + album[30] + year[4]
    * + comment[30] + genre[1]; v1.1 carves the comment's last two
    * bytes into a zero marker + track number). The legacy fallback for
    * MP3s that carry no ID3v2 container. Fields are ISO-8859-1 with
    * trailing NUL/space padding stripped; empty fields surface as
    * empty strings (the block is fixed-size — "absent" cannot be
    * distinguished from "blank", unlike the v2 walk). Track 0 / a v1.0
    * comment (no zero marker) reports track = -1.
    */
  def id3v1Tags(b: Array[Byte]): InternalRow = {
    if (b.length < 128) return null
    val o = b.length - 128
    if (b(o) != 'T' || b(o + 1) != 'A' || b(o + 2) != 'G') return null
    def field(from: Int, len: Int): String = {
      var end = from + len
      while (end > from && (b(end - 1) == 0 || b(end - 1) == ' ')) end -= 1
      new String(b, from, end - from, "ISO-8859-1")
    }
    val hasTrack = b(o + 125) == 0 && b(o + 126) != 0
    InternalRow(
      UTF8String.fromString(field(o + 3, 30)),
      UTF8String.fromString(field(o + 33, 30)),
      UTF8String.fromString(field(o + 63, 30)),
      UTF8String.fromString(field(o + 93, 4)),
      UTF8String.fromString(field(o + 97, if (hasTrack) 28 else 30)),
      if (hasTrack) b(o + 126) & 0xff else -1,
      b(o + 127) & 0xff)
  }

  // --------------------------------------------- Layer III side info

  /** One row per (frame, granule, channel) of an MPEG-1 Layer III
    * stream — every side-information field of ISO 11172-3 §2.4.1.7
    * plus the per-frame bit-reservoir audit.
    */
  val sideSchema: DataType = ArrayType(StructType(Seq(
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("granule", IntegerType, nullable = false),
    StructField("channel", IntegerType, nullable = false),
    StructField("main_data_begin", IntegerType, nullable = false),
    StructField("reservoir_deficit", IntegerType, nullable = false),
    StructField("part2_3_length", IntegerType, nullable = false),
    StructField("big_values", IntegerType, nullable = false),
    StructField("global_gain", IntegerType, nullable = false),
    StructField("scalefac_compress", IntegerType, nullable = false),
    StructField("window_switching", IntegerType, nullable = false),
    StructField("block_type", IntegerType, nullable = false),
    StructField("table_select", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("region0_count", IntegerType, nullable = false),
    StructField("region1_count", IntegerType, nullable = false),
    StructField("preflag", IntegerType, nullable = false),
    StructField("scalefac_scale", IntegerType, nullable = false),
    StructField("count1table_select", IntegerType, nullable = false))))

  /** `mp3_sideinfo(binary)` → per-(frame, granule, channel) side-info rows
    * with the bit-reservoir audit, or null.
    *
    * `mp3_sideinfo(binary)`: MPEG-1 Layer III side-information walk —
    * the step between the frame-header metadata ([[parse]]) and a full
    * sample decode. Parses every frame's side info (both granules,
    * mono and stereo layouts, optional CRC-16 skip) and audits the BIT
    * RESERVOIR: `main_data_begin` points back into previous frames'
    * main-data bytes, so `reservoir_deficit` = how many bytes the
    * pointer overruns what earlier frames actually provided (capped at
    * the format's 511-byte reservoir) — nonzero at frame 0 for any
    * stream cut mid-reservoir, the signal that tells a crawler an MP3
    * segment was truncated upstream even though every header syncs.
    *
    * Whole-or-refuse: null for anything but clean MPEG-1 Layer III
    * frame streams (ID3v2 skipped up front; MPEG-2/2.5 carry the LSF
    * side-info layout — out of scope, refused loudly; free-format,
    * reserved codes, truncation, trailing junk all null). A full PCM
    * decode additionally needs the ISO Huffman code tables and the
    * 512-tap synthesis window (spec constant tables) — parked until
    * those tables can be sourced and verified; the side-info surface
    * already carries the reservoir/truncation curation signals.
    */
  def sideInfo(b: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    try sideInfoOrNull(b)
    catch { case Bytes.Corrupt | _: ArrayIndexOutOfBoundsException => null }
  }

  private def sideInfoOrNull(b: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (b == null || b.length < 4) return null
    @inline def u8(i: Int): Int = b(i) & 0xff
    var pos = 0
    // ID3v2 container (syncsafe size, optional footer)
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val sz = (u8(6) << 21) | (u8(7) << 14) | (u8(8) << 7) | u8(9)
      pos = 10 + sz + (if ((u8(5) & 0x10) != 0) 10 else 0)
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var frames = 0
    var mdAccum = 0L // main-data bytes provided by previous frames
    while (pos < b.length) {
      if (pos + 4 > b.length) return null
      val h = Bytes.be32(b, pos).toInt
      if ((h >>> 21) != 0x7ff) return null // sync
      if (((h >>> 19) & 3) != 3) return null // MPEG-1 only (LSF layout differs)
      if (((h >>> 17) & 3) != 1) return null // Layer III only
      val protAbsent = (h >>> 16) & 1
      val brIdx = (h >>> 12) & 15
      if (brIdx == 0 || brIdx == 15) return null // free format / invalid
      val srIdx = (h >>> 10) & 3
      if (srIdx == 3) return null
      val pad = (h >>> 9) & 1
      val mode = (h >>> 6) & 3
      val nch = if (mode == 3) 1 else 2
      val rate = SrV1(srIdx)
      val frameSize = 144 * BrV1L3(brIdx) * 1000 / rate + pad
      if (pos + frameSize > b.length) return null
      val siStart = pos + 4 + (if (protAbsent == 0) 2 else 0)
      val siBytes = if (nch == 1) 17 else 32
      if (siStart + siBytes > pos + frameSize) return null
      val r = new Bytes.MsbBits(b, siStart, b.length)
      val mdb = r.bits(9)
      r.bits(if (nch == 1) 5 else 3) // private_bits
      r.bits(4 * nch) // scfsi
      val avail = math.min(mdAccum, 511L)
      val deficit = math.max(0L, mdb - avail).toInt
      var gr = 0
      while (gr < 2) {
        var ch = 0
        while (ch < nch) {
          val p23 = r.bits(12)
          val bv = r.bits(9)
          if (bv > 288) return null // > 576/2 spectral pairs: nonconforming
          val gg = r.bits(8)
          val sfc = r.bits(4)
          val wsf = r.bits(1)
          var blockType = 0
          var tables: Array[Int] = null
          var r0 = -1
          var r1 = -1
          if (wsf == 1) {
            blockType = r.bits(2)
            if (blockType == 0) return null // forbidden with switching
            r.bits(1) // mixed_block_flag
            tables = Array(r.bits(5), r.bits(5))
            r.bits(9) // subblock_gain 3x3
          } else {
            tables = Array(r.bits(5), r.bits(5), r.bits(5))
            r0 = r.bits(4)
            r1 = r.bits(3)
          }
          val pre = r.bits(1)
          val sfs = r.bits(1)
          val c1t = r.bits(1)
          out += InternalRow(frames, gr, ch, mdb, deficit, p23, bv, gg, sfc,
            wsf, blockType,
            new org.apache.spark.sql.catalyst.util.GenericArrayData(
              tables.map(t => t: Any)),
            r0, r1, pre, sfs, c1t)
          ch += 1
        }
        gr += 1
      }
      mdAccum += frameSize - 4 - (if (protAbsent == 0) 2 else 0) - siBytes
      pos += frameSize
      frames += 1
    }
    if (frames == 0) return null
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  // ------------------------------------------------------------ Xing/Info

  val xingSchema: StructType = StructType(Seq(
    StructField("tag", StringType, nullable = false), // Xing | Info
    StructField("n_frames", IntegerType), // null when flag absent
    StructField("n_bytes", IntegerType),
    StructField("has_toc", BooleanType, nullable = false),
    StructField("toc_p50", IntegerType), // TOC[50] — the mid-file seek point
    StructField("quality", IntegerType)))

  /** `mp3_xing(binary)` → the first frame's Xing/Info VBR header, or null.
    *
    * `mp3_xing(binary)`: the Xing/Info VBR header every LAME-family
    * encoder writes into the FIRST frame's (otherwise empty) main-data
    * region — frame count, byte count, the 100-point seek TOC, quality.
    * This is how a crawler gets an honest duration for a VBR stream
    * without walking every frame. Located exactly where the spec puts
    * it: after the first frame's header, optional CRC, and side info.
    * Null when absent or the stream isn't MPEG-1 Layer III.
    */
  def xingParse(b: Array[Byte]): InternalRow = {
    try xingOrNull(b)
    catch { case _: ArrayIndexOutOfBoundsException => null }
  }

  private def xingOrNull(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4) return null
    @inline def u8(i: Int): Int = b(i) & 0xff
    var pos = 0
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val sz = (u8(6) << 21) | (u8(7) << 14) | (u8(8) << 7) | u8(9)
      pos = 10 + sz + (if ((u8(5) & 0x10) != 0) 10 else 0)
    }
    if (pos + 4 > b.length) return null
    val h = Bytes.be32(b, pos).toInt
    if ((h >>> 21) != 0x7ff || ((h >>> 19) & 3) != 3 ||
      ((h >>> 17) & 3) != 1) return null
    val protAbsent = (h >>> 16) & 1
    val mode = (h >>> 6) & 3
    var o = pos + 4 + (if (protAbsent == 0) 2 else 0) +
      (if (mode == 3) 17 else 32)
    if (o + 8 > b.length) return null
    val tag = new String(b, o, 4, "US-ASCII")
    if (tag != "Xing" && tag != "Info") return null
    o += 4
    val flags = Bytes.be32(b, o).toInt; o += 4
    var nFrames: Any = null
    var nBytes: Any = null
    var tocP50: Any = null
    var quality: Any = null
    if ((flags & 1) != 0) { nFrames = Bytes.be32(b, o).toInt; o += 4 }
    if ((flags & 2) != 0) { nBytes = Bytes.be32(b, o).toInt; o += 4 }
    val hasToc = (flags & 4) != 0
    if (hasToc) {
      if (o + 100 > b.length) return null
      tocP50 = u8(o + 50)
      o += 100
    }
    if ((flags & 8) != 0) { quality = Bytes.be32(b, o).toInt; o += 4 }
    InternalRow(UTF8String.fromString(tag), nFrames, nBytes, hasToc,
      tocP50, quality)
  }

  // ------------------------------------------------------------ AAC / ADTS

  val adtsSchema: StructType = StructType(Seq(
    StructField("mpeg_version", IntegerType), // 2 or 4
    StructField("profile", IntegerType), // 1=Main 2=LC 3=SSR 4=LTP
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("duration_ms", LongType)))

  private val AdtsRates = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** `audio_adts_meta(binary)` → ADTS frame-walk metadata struct or null.
    *
    * ADTS (AAC transport) frame walk — ISO 13818-7 / 14496-3 framing:
    * 12-bit sync, version, profile, sampling-frequency index, channel
    * configuration, 13-bit frame length, raw-data-block count (each
    * block = 1024 samples), optional CRC. Whole-or-refuse like
    * [[parse]]: null on broken sync, reserved/forbidden frequency
    * indices, PCE-dependent channel config 0, truncated frames,
    * cross-frame parameter changes, or trailing junk.
    */
  def adtsParse(b: Array[Byte]): InternalRow = {
    @inline def u8(i: Int): Int = b(i) & 0xff
    var pos = 0
    var version = -1
    var profile = -1
    var sr = -1
    var channels = -1
    var frames = 0
    var samples = 0L
    while (pos < b.length) {
      if (pos + 7 > b.length) return null
      if (u8(pos) != 0xff || (u8(pos + 1) & 0xf0) != 0xf0) return null // sync
      if ((u8(pos + 1) & 0x06) != 0) return null // layer must be 00
      val ver = if ((u8(pos + 1) & 0x08) != 0) 2 else 4
      val protAbsent = u8(pos + 1) & 1
      val prof = ((u8(pos + 2) >> 6) & 3) + 1
      val srIdx = (u8(pos + 2) >> 2) & 0xf
      if (srIdx >= AdtsRates.length) return null // reserved / forbidden
      val rate = AdtsRates(srIdx)
      val chCfg = ((u8(pos + 2) & 1) << 2) | ((u8(pos + 3) >> 6) & 3)
      if (chCfg == 0) return null // PCE-defined: outside the subset
      val ch = if (chCfg == 7) 8 else chCfg
      val frameLen = ((u8(pos + 3) & 3) << 11) | (u8(pos + 4) << 3) |
        ((u8(pos + 5) >> 5) & 7)
      val blocks = (u8(pos + 6) & 3) + 1
      val minHeader = if (protAbsent == 1) 7 else 9
      if (frameLen < minHeader || pos + frameLen > b.length) return null
      if (frames == 0) {
        version = ver; profile = prof; sr = rate; channels = ch
      } else if (ver != version || prof != profile || rate != sr ||
        ch != channels) return null
      pos += frameLen
      frames += 1
      samples += 1024L * blocks
    }
    if (frames == 0) return null
    InternalRow(version, profile, sr, channels, frames, samples * 1000L / sr)
  }
}
