package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WebM / Matroska (EBML) container metadata walk — the dominant OPEN
  * web-video container next to MP4 ([[VideoHeader]] covers MP4/AVI):
  * the routing/gating decisions (duration floors, resolution sanity,
  * codec allow-lists, audio presence) need only the EBML element tree
  * down to Info and Tracks — never a Cluster parse, never a codec
  * decode.
  *
  * `video_webm_meta(binary)` is a real EBML walk (RFC 8794): variable-
  * length element IDs (marker bit KEPT) and sizes (marker bit
  * stripped), the EBML header's DocType, then inside Segment — whose
  * size is commonly UNKNOWN (all-VINT_DATA-ones, streamed files) and
  * then runs to end-of-buffer — the Info element (TimecodeScale,
  * default 1 000 000 ns/tick; Duration as a 4- or 8-byte float) and
  * every Tracks→TrackEntry (TrackType, CodecID, Video→PixelWidth/
  * PixelHeight, Audio→SamplingFrequency float/Channels). Unknown
  * elements are skipped by their declared size; Cluster stops the walk
  * (metadata always precedes media in a well-muxed file).
  *
  * Whole-or-refuse: null on a bad EBML magic, a DocType outside
  * webm/matroska, truncated VINTs or elements overrunning their
  * parent, unknown-size on anything but Segment, floats of a width
  * other than 4/8, or zero video dimensions.
  *
  * Output struct: (doc_type, duration_ms, video_codec, width, height,
  * audio_codec, sample_rate, channels) — audio/video fields null when
  * the file carries no such track.
  */
object WebmMeta {

  val schema: StructType = StructType(Seq(
    StructField("doc_type", StringType),
    StructField("duration_ms", LongType),
    StructField("video_codec", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("audio_codec", StringType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType)))

  // element IDs (marker bit kept, as they appear on the wire)
  private val EBML = 0x1A45DFA3
  private val DOCTYPE = 0x4282
  private val SEGMENT = 0x18538067
  private val INFO = 0x1549A966
  private val TIMECODE_SCALE = 0x2AD7B1
  private val DURATION = 0x4489
  private val TRACKS = 0x1654AE6B
  private val TRACK_ENTRY = 0xAE
  private val TRACK_TYPE = 0x83
  private val CODEC_ID = 0x86
  private val VIDEO = 0xE0
  private val PIXEL_W = 0xB0
  private val PIXEL_H = 0xBA
  private val AUDIO = 0xE1
  private val SAMPLING_FREQ = 0xB5
  private val CHANNELS = 0x9F
  private val CLUSTER = 0x1F43B675

  private final class Walk(b: Array[Byte]) {
    var pos = 0
    var failed = false
    def fail(): Long = { failed = true; -1L }

    /** Element ID: 1-4 bytes, marker bit KEPT (RFC 8794 §5). */
    def readId(limit: Int): Long = {
      if (pos >= limit) return fail()
      val first = b(pos) & 0xff
      val len =
        if ((first & 0x80) != 0) 1
        else if ((first & 0x40) != 0) 2
        else if ((first & 0x20) != 0) 3
        else if ((first & 0x10) != 0) 4
        else return fail()
      if (pos + len > limit) return fail()
      var v = 0L
      var i = 0
      while (i < len) { v = (v << 8) | (b(pos + i) & 0xff); i += 1 }
      pos += len
      v
    }

    /** Element size: 1-8 bytes, marker bit STRIPPED; all-data-ones is
      * the UNKNOWN size (-2 sentinel here).
      */
    def readSize(limit: Int): Long = {
      if (pos >= limit) return fail()
      val first = b(pos) & 0xff
      var len = 1
      var mask = 0x80
      while (len <= 8 && (first & mask) == 0) { len += 1; mask >>= 1 }
      if (len > 8 || pos + len > limit) return fail()
      var v = (first & (mask - 1)).toLong
      var i = 1
      while (i < len) { v = (v << 8) | (b(pos + i) & 0xff); i += 1 }
      pos += len
      // all VINT_DATA bits set = unknown size
      val allOnes = (1L << (7 * len)) - 1
      if (v == allOnes) { -2L } else v
    }

    def readUint(n: Int, limit: Int): Long = {
      if (n < 1 || n > 8 || pos + n > limit) return fail()
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 8) | (b(pos + i) & 0xff); i += 1 }
      pos += n
      v
    }

    def readFloat(n: Int, limit: Int): Double = {
      if (pos + n > limit) { fail(); return 0.0 }
      if (n == 4)
        java.lang.Float.intBitsToFloat(readUint(4, limit).toInt).toDouble
      else if (n == 8)
        java.lang.Double.longBitsToDouble(readUint(8, limit))
      else { fail(); 0.0 }
    }

    def readString(n: Int, limit: Int): String = {
      if (pos + n > limit) { fail(); return null }
      val s = new String(b, pos, n, "UTF-8")
      pos += n
      // Matroska strings may be zero-padded
      val z = s.indexOf('\u0000')
      if (z >= 0) s.substring(0, z) else s
    }
  }

  /** `video_webm_meta(binary)` → EBML walk metadata struct or null. */
  def parse(b: Array[Byte]): InternalRow = {
    val w = new Walk(b)
    val limit = b.length
    // EBML header
    if (w.readId(limit) != EBML) return null
    val hdrSize = w.readSize(limit)
    if (w.failed || hdrSize < 0) return null // unknown size illegal here
    val hdrEnd = w.pos + hdrSize.toInt
    if (hdrEnd > limit) return null
    var docType: String = null
    while (w.pos < hdrEnd && !w.failed) {
      val id = w.readId(hdrEnd)
      val sz = w.readSize(hdrEnd)
      if (w.failed || sz < 0 || w.pos + sz > hdrEnd) return null
      if (id == DOCTYPE) docType = w.readString(sz.toInt, hdrEnd)
      else w.pos += sz.toInt
    }
    if (w.failed || docType == null) return null
    if (docType != "webm" && docType != "matroska") return null
    // Segment (unknown size legal: runs to end of buffer)
    if (w.readId(limit) != SEGMENT) return null
    val segSize = w.readSize(limit)
    if (w.failed) return null
    val segEnd =
      if (segSize == -2L) limit
      else if (w.pos + segSize > limit) return null
      else w.pos + segSize.toInt
    var tcScale = 1000000L
    var durTicks = -1.0
    var vCodec: String = null
    var width = -1
    var height = -1
    var aCodec: String = null
    var rate = -1
    var channels = -1
    var stop = false
    while (w.pos < segEnd && !w.failed && !stop) {
      val id = w.readId(segEnd)
      val sz = w.readSize(segEnd)
      if (w.failed || sz < 0 || w.pos + sz > segEnd) return null
      val end = w.pos + sz.toInt
      id match {
        case CLUSTER => stop = true // media follows; metadata is behind us
        case INFO =>
          while (w.pos < end && !w.failed) {
            val iid = w.readId(end)
            val isz = w.readSize(end)
            if (w.failed || isz < 0 || w.pos + isz > end) return null
            if (iid == TIMECODE_SCALE) tcScale = w.readUint(isz.toInt, end)
            else if (iid == DURATION) durTicks = w.readFloat(isz.toInt, end)
            else w.pos += isz.toInt
          }
        case TRACKS =>
          while (w.pos < end && !w.failed) {
            val tid = w.readId(end)
            val tsz = w.readSize(end)
            if (w.failed || tsz < 0 || w.pos + tsz > end) return null
            val tEnd = w.pos + tsz.toInt
            if (tid == TRACK_ENTRY) {
              var tType = -1L
              var codec: String = null
              var tw = -1; var th = -1; var tr = -1; var tch = -1
              while (w.pos < tEnd && !w.failed) {
                val eid = w.readId(tEnd)
                val esz = w.readSize(tEnd)
                if (w.failed || esz < 0 || w.pos + esz > tEnd) return null
                val eEnd = w.pos + esz.toInt
                eid match {
                  case TRACK_TYPE => tType = w.readUint(esz.toInt, tEnd)
                  case CODEC_ID => codec = w.readString(esz.toInt, tEnd)
                  case VIDEO =>
                    while (w.pos < eEnd && !w.failed) {
                      val vid = w.readId(eEnd)
                      val vsz = w.readSize(eEnd)
                      if (w.failed || vsz < 0 || w.pos + vsz > eEnd) return null
                      if (vid == PIXEL_W) tw = w.readUint(vsz.toInt, eEnd).toInt
                      else if (vid == PIXEL_H) th = w.readUint(vsz.toInt, eEnd).toInt
                      else w.pos += vsz.toInt
                    }
                  case AUDIO =>
                    while (w.pos < eEnd && !w.failed) {
                      val aid = w.readId(eEnd)
                      val asz = w.readSize(eEnd)
                      if (w.failed || asz < 0 || w.pos + asz > eEnd) return null
                      if (aid == SAMPLING_FREQ)
                        tr = w.readFloat(asz.toInt, eEnd).toInt
                      else if (aid == CHANNELS)
                        tch = w.readUint(asz.toInt, eEnd).toInt
                      else w.pos += asz.toInt
                    }
                  case _ => w.pos += esz.toInt
                }
              }
              if (w.failed) return null
              if (tType == 1L) { // video
                if (tw <= 0 || th <= 0) return null
                vCodec = codec; width = tw; height = th
              } else if (tType == 2L) { // audio
                aCodec = codec; rate = tr; channels = tch
              }
            } else w.pos += tsz.toInt
          }
        case _ => w.pos += sz.toInt
      }
    }
    if (w.failed) return null
    if (vCodec == null && aCodec == null) return null // no track parsed
    val durMs =
      if (durTicks < 0) null
      else java.lang.Long.valueOf(math.round(durTicks * tcScale / 1e6))
    InternalRow(
      UTF8String.fromString(docType),
      durMs,
      if (vCodec == null) null else UTF8String.fromString(vCodec),
      if (width > 0) Integer.valueOf(width) else null,
      if (height > 0) Integer.valueOf(height) else null,
      if (aCodec == null) null else UTF8String.fromString(aCodec),
      if (rate > 0) Integer.valueOf(rate) else null,
      if (channels > 0) Integer.valueOf(channels) else null)
  }
}
