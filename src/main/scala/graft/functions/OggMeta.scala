package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Ogg container metadata walk — the third dominant lossy-audio
  * transport next to MP3 and ADTS ([[MpegMeta]]): most modern web
  * audio that is not MP3 ships as Ogg Opus or Ogg Vorbis, and the
  * curation gates (duration/bitrate floors, channel/rate sanity,
  * container integrity) need only the page headers (RFC 3533) and the
  * codec's first identification packet — never a DSP decode.
  *
  * `audio_ogg_meta(binary)` walks every page: "OggS" capture pattern,
  * stream-structure version 0, header-type flags (the first page must
  * be BOS, the last EOS), 64-bit granule position, serial, strictly
  * sequential page numbers, and the page CRC (CRC-32, polynomial
  * 0x04c11db7, MSB-first, zero init/xorout, computed with the checksum
  * field zeroed — every page is verified). The first packet must be a
  * Vorbis identification header (0x01"vorbis": version 0, channels,
  * rate, the three bitrate fields, framing bit) or an Opus one
  * ("OpusHead" v1: channels, pre-skip, input rate). Duration comes
  * from the final granule position: PCM samples at the stream rate for
  * Vorbis, 48 kHz output samples minus pre-skip for Opus.
  *
  * Whole-or-refuse (the engine's container posture): null on a broken
  * capture pattern, nonzero structure version, CRC mismatch, a
  * non-BOS first page, page-sequence gaps, a second bitstream serial
  * (multiplexed/chained streams are outside the subset), truncated
  * pages or segment tables, an unknown first packet, a malformed id
  * header, a missing EOS bit, or trailing junk.
  *
  * Output struct: (codec, channels, sample_rate, bitrate_nominal —
  * null for Opus, pre_skip — null for Vorbis, n_pages, duration_ms).
  */
object OggMeta {

  val schema: StructType = StructType(Seq(
    StructField("codec", StringType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("bitrate_nominal", IntegerType),
    StructField("pre_skip", IntegerType),
    StructField("n_pages", IntegerType),
    StructField("duration_ms", LongType)))

  // CRC-32/OGG: poly 0x04c11db7, MSB-first (non-reflected), init 0,
  // no final xor — RFC 3533 §6
  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var j = 0
      while (j < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        j += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  /** Page CRC over `b[off, off+len)` with the 4 checksum bytes at
    * `b[off+22..25]` treated as zero. Exposed for the fixture builders.
    */
  private[graft] def pageCrc(b: Array[Byte], off: Int, len: Int): Int = {
    var crc = 0
    var i = 0
    while (i < len) {
      val v = if (i >= 22 && i < 26) 0 else b(off + i) & 0xff
      crc = (crc << 8) ^ CrcTable(((crc >>> 24) ^ v) & 0xff)
      i += 1
    }
    crc
  }

  /** `audio_ogg_meta(binary)` → Ogg page-walk metadata struct or null. */
  def parse(b: Array[Byte]): InternalRow = {
    @inline def u8(i: Int): Int = b(i) & 0xff
    var pos = 0
    var nPages = 0
    var serial = 0
    var lastSeq = -1
    var lastGranule = -1L
    var sawEos = false
    var firstPayload: Array[Byte] = null
    while (pos < b.length) {
      if (sawEos) return null // pages after EOS: chained stream / junk
      if (pos + 27 > b.length) return null
      if (b(pos) != 'O' || b(pos + 1) != 'g' || b(pos + 2) != 'g' ||
        b(pos + 3) != 'S') return null
      if (u8(pos + 4) != 0) return null // stream-structure version
      val hdrType = u8(pos + 5)
      val granule = Bytes.le64(b, pos + 6)
      val ser = Bytes.le32(b, pos + 14).toInt
      val seq = Bytes.le32(b, pos + 18).toInt
      val crc = Bytes.le32(b, pos + 22).toInt
      val nSegs = u8(pos + 26)
      val segBase = pos + 27
      if (segBase + nSegs > b.length) return null
      var payloadLen = 0
      var s = 0
      while (s < nSegs) { payloadLen += u8(segBase + s); s += 1 }
      val pageLen = 27 + nSegs + payloadLen
      if (pos + pageLen > b.length) return null // truncated page
      if (pageCrc(b, pos, pageLen) != crc) return null
      if (nPages == 0) {
        if ((hdrType & 0x02) == 0 || seq != 0) return null // must be BOS #0
        serial = ser
        firstPayload = java.util.Arrays.copyOfRange(b, segBase + nSegs,
          pos + pageLen)
      } else {
        if (ser != serial) return null // multiplexed: outside the subset
        if (seq != lastSeq + 1) return null // page loss
      }
      if ((hdrType & 0x04) != 0) sawEos = true
      if (granule != -1L) lastGranule = granule
      lastSeq = seq
      nPages += 1
      pos += pageLen
    }
    if (nPages == 0 || !sawEos || firstPayload == null) return null
    val p = firstPayload
    @inline def pu8(i: Int): Int = p(i) & 0xff
    if (p.length >= 30 && pu8(0) == 0x01 && p(1) == 'v' && p(2) == 'o' &&
      p(3) == 'r' && p(4) == 'b' && p(5) == 'i' && p(6) == 's') {
      // Vorbis I identification header
      if (Bytes.le32(p, 7) != 0) return null // vorbis_version
      val ch = pu8(11)
      val rate = Bytes.le32(p, 12).toInt
      val brNom = Bytes.le32(p, 20).toInt
      if (ch == 0 || rate <= 0) return null
      if ((pu8(29) & 0x01) == 0) return null // framing bit
      val durMs =
        if (lastGranule < 0) 0L else lastGranule * 1000L / rate
      InternalRow(UTF8String.fromString("vorbis"), ch, rate,
        if (brNom > 0) brNom else null, null, nPages, durMs)
    } else if (p.length >= 19 && p(0) == 'O' && p(1) == 'p' && p(2) == 'u' &&
      p(3) == 's' && p(4) == 'H' && p(5) == 'e' && p(6) == 'a' &&
      p(7) == 'd') {
      // Opus identification header (RFC 7845 §5.1)
      if (pu8(8) != 1) return null // version
      val ch = pu8(9)
      val preSkip = Bytes.le16(p, 10).toInt
      val rate = Bytes.le32(p, 12).toInt
      if (ch == 0) return null
      val outSamples = if (lastGranule < 0) 0L
        else math.max(0L, lastGranule - preSkip)
      InternalRow(UTF8String.fromString("opus"), ch,
        if (rate > 0) rate else 48000, null, preSkip, nPages,
        outSamples * 1000L / 48000L)
    } else null
  }

  // ----------------------------------------------------------------
  // Comment header (packet 2): Vorbis comment / OpusTags
  // ----------------------------------------------------------------

  val tagsSchema: StructType = StructType(Seq(
    StructField("codec", StringType),
    StructField("vendor", StringType),
    StructField("tags", ArrayType(StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("value", StringType, nullable = false))),
      containsNull = false))))

  /** First two LOGICAL packets via the lacing tables (packets span
    * pages; 255-lacing continues, <255 terminates), with the same
    * page-level validation as [[parse]] minus the EOS requirement —
    * early-stop once packet 2 completes. Null on any malformation.
    */
  private def firstTwoPackets(b: Array[Byte]): (Array[Byte], Array[Byte]) = {
    @inline def u8(i: Int): Int = b(i) & 0xff
    val done = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val cur = new java.io.ByteArrayOutputStream()
    var inPacket = false
    var pos = 0
    var nPages = 0
    var serial = 0
    var lastSeq = -1
    while (pos < b.length && done.length < 2) {
      if (pos + 27 > b.length) return null
      if (b(pos) != 'O' || b(pos + 1) != 'g' || b(pos + 2) != 'g' ||
        b(pos + 3) != 'S') return null
      if (u8(pos + 4) != 0) return null
      val hdrType = u8(pos + 5)
      val ser = Bytes.le32(b, pos + 14).toInt
      val seq = Bytes.le32(b, pos + 18).toInt
      val crc = Bytes.le32(b, pos + 22).toInt
      val nSegs = u8(pos + 26)
      val segBase = pos + 27
      if (segBase + nSegs > b.length) return null
      var payloadLen = 0
      var s = 0
      while (s < nSegs) { payloadLen += u8(segBase + s); s += 1 }
      val pageLen = 27 + nSegs + payloadLen
      if (pos + pageLen > b.length) return null
      if (pageCrc(b, pos, pageLen) != crc) return null
      if (nPages == 0) {
        if ((hdrType & 0x02) == 0 || seq != 0) return null
        serial = ser
      } else {
        if (ser != serial) return null
        if (seq != lastSeq + 1) return null
      }
      // continuation flag must agree with packet state across pages
      if (((hdrType & 0x01) != 0) != inPacket) return null
      var at = segBase + nSegs
      s = 0
      while (s < nSegs && done.length < 2) {
        val lace = u8(segBase + s)
        cur.write(b, at, lace)
        at += lace
        inPacket = true
        if (lace < 255) {
          done += cur.toByteArray
          cur.reset()
          inPacket = false
        }
        s += 1
      }
      lastSeq = seq
      nPages += 1
      pos += pageLen
    }
    if (done.length < 2) null else (done(0), done(1))
  }

  /** `audio_ogg_tags(binary)` → comment-header struct or null.
    *
    * Vorbis comment / OpusTags metadata (packet 2 of the stream):
    * vendor string + ordered `KEY=value` tag list (RFC 7845 §5.2 and
    * the Vorbis I comment-header spec share the layout; Vorbis adds a
    * framing bit, OpusTags forbids one). Whole-or-refuse: bad lengths,
    * a comment without `=`, field-name bytes outside 0x20–0x7D, a
    * packet-2 magic that doesn't match packet 1's codec, or a missing
    * Vorbis framing bit all null the row.
    */
  def parseTags(b: Array[Byte]): InternalRow = {
    val pk = firstTwoPackets(b)
    if (pk == null) return null
    val (id, cm) = pk
    val isVorbis = id.length >= 7 && (id(0) & 0xff) == 0x01 &&
      id(1) == 'v' && id(2) == 'o' && id(3) == 'r' && id(4) == 'b' &&
      id(5) == 'i' && id(6) == 's'
    val isOpus = id.length >= 8 && id(0) == 'O' && id(1) == 'p' &&
      id(2) == 'u' && id(3) == 's' && id(4) == 'H' && id(5) == 'e' &&
      id(6) == 'a' && id(7) == 'd'
    if (!isVorbis && !isOpus) return null
    @inline def u8(i: Int): Int = cm(i) & 0xff
    var p = 0
    if (isVorbis) {
      if (cm.length < 7 || u8(0) != 0x03 || cm(1) != 'v' || cm(2) != 'o' ||
        cm(3) != 'r' || cm(4) != 'b' || cm(5) != 'i' || cm(6) != 's')
        return null
      p = 7
    } else {
      if (cm.length < 8 || cm(0) != 'O' || cm(1) != 'p' || cm(2) != 'u' ||
        cm(3) != 's' || cm(4) != 'T' || cm(5) != 'a' || cm(6) != 'g' ||
        cm(7) != 's') return null
      p = 8
    }
    if (p + 4 > cm.length) return null
    val vlen = Bytes.le32(cm, p); p += 4
    if (p + vlen > cm.length) return null
    val vendor = new String(cm, p, vlen.toInt,
      java.nio.charset.StandardCharsets.UTF_8)
    p += vlen.toInt
    if (p + 4 > cm.length) return null
    val n = Bytes.le32(cm, p); p += 4
    if (n > 4096) return null // tag-count bomb
    val tags = new Array[Any](n.toInt)
    var i = 0
    while (i < n) {
      if (p + 4 > cm.length) return null
      val len = Bytes.le32(cm, p); p += 4
      if (p + len > cm.length) return null
      val s = new String(cm, p, len.toInt,
        java.nio.charset.StandardCharsets.UTF_8)
      p += len.toInt
      val eq = s.indexOf('=')
      if (eq <= 0) return null
      val key = s.substring(0, eq)
      if (!key.forall(c => c >= 0x20 && c <= 0x7d && c != '=')) return null
      tags(i) = InternalRow(UTF8String.fromString(key),
        UTF8String.fromString(s.substring(eq + 1)))
      i += 1
    }
    if (isVorbis) {
      // framing bit terminates the header
      if (p >= cm.length || (u8(p) & 0x01) == 0) return null
      p += 1
    }
    if (p != cm.length) return null
    InternalRow(
      UTF8String.fromString(if (isVorbis) "vorbis" else "opus"),
      UTF8String.fromString(vendor),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(tags))
  }
}
