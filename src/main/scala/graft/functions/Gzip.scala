package graft.functions

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater, Inflater}

/** Gzip member codec as scan-side expressions — the compression layer of
  * real web-crawl inputs. Common Crawl WARC/WET/WAT files are a
  * CONCATENATION of independent gzip members, one per record (the
  * WARC-1.1 recommended record-at-time compression, ISO 28500 annex D),
  * so "read a crawl file" is: inflate each member in sequence, then
  * parse the records ([[WarcParse]]). RFC 1952 framing throughout.
  *
  * Scale shape: both directions are codegen'd static calls working on
  * one blob at a time — compression never shuffles, and a file's
  * members decompress independently (the property that makes
  * record-at-time gzip the standard: any byte range of a crawl file is
  * decodable without the preceding gigabytes).
  */
object Gzip {

  /** Decompression-bomb ceiling: refuse blobs that inflate past this
    * (matches the pixel ceiling posture in [[ImageHash]] — a corrupt or
    * adversarial member must not OOM an executor).
    */
  val MaxInflatedBytes: Int = 64 << 20

  /** `gzip_member(binary)` → one deterministic RFC 1952 member.
    *
    * One deterministic gzip member (RFC 1952): fixed header — MTIME=0,
    * XFL=0, OS=255 (unknown) — so equal payloads produce equal bytes on
    * any JVM; DEFLATE at the default level; CRC32 + ISIZE trailer.
    */
  def compress(raw: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(raw.length / 2 + 32)
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte))
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    val crc = new CRC32; crc.update(raw)
    var v = crc.getValue
    (0 until 4).foreach { _ => out.write((v & 0xff).toInt); v >>= 8 }
    var n = raw.length.toLong
    (0 until 4).foreach { _ => out.write((n & 0xff).toInt); n >>= 8 }
    out.toByteArray
  }

  /** `codec_probe(binary)` → `'gzip' | 'zstd' | 'bz2' | 'empty' | 'unknown'` by
    * container magic: gzip `1F 8B`, zstd frame `28 B5 2F FD`
    * (0xFD2FB528 LE) and zstd skippable frames `5? 2A 4D 18`
    * (0x184D2A50-5F LE). Both codecs DECODE on the crawl read path since
    * round 10 (gzip via the JDK, zstd via the from-spec [[Zstd]]
    * decoder); the probe routes [[graft.ops.WebOps.segmentAudit]]'s
    * per-codec accounting, and unknown-magic segments still quarantine
    * loudly (the WARC whole-or-refuse posture), never parse as garbage
    * or silently drop as "malformed gzip".
    */
  def probe(b: Array[Byte]): org.apache.spark.unsafe.types.UTF8String = {
    val name =
      if (b.length == 0) "empty"
      else if (b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b)
        "gzip"
      else if (b.length >= 4 && (b(0) & 0xff) == 0x28 && (b(1) & 0xff) == 0xb5 &&
          (b(2) & 0xff) == 0x2f && (b(3) & 0xff) == 0xfd) "zstd"
      else if (b.length >= 4 && (b(0) & 0xf0) == 0x50 && (b(1) & 0xff) == 0x2a &&
          (b(2) & 0xff) == 0x4d && (b(3) & 0xff) == 0x18) "zstd"
      else if (b.length >= 4 && b(0) == 'B' && b(1) == 'Z' && b(2) == 'h' &&
          b(3) >= '1' && b(3) <= '9') "bz2"
      else if (b.length >= 6 && (b(0) & 0xff) == 0xfd && b(1) == '7' &&
          b(2) == 'z' && b(3) == 'X' && b(4) == 'Z' && b(5) == 0) "xz"
      else if (b.length >= 4 && (b(0) & 0xff) == 0x04 && (b(1) & 0xff) == 0x22 &&
          (b(2) & 0xff) == 0x4d && (b(3) & 0xff) == 0x18) "lz4"
      else if (b.length >= 10 && (b(0) & 0xff) == 0xff && b(1) == 6 &&
          b(2) == 0 && b(3) == 0 && b(4) == 's' && b(5) == 'N' &&
          b(6) == 'a' && b(7) == 'P' && b(8) == 'p' && b(9) == 'Y') "snappy"
      else "unknown"
    org.apache.spark.unsafe.types.UTF8String.fromString(name)
  }

  /** `gunzip_all(binary)` → concatenated payloads of every gzip member, or
    * null on any malformation (strict: a crawl file either parses whole or
    * is quarantined — no silent partials).
    *
    * Inflate EVERY member of a concatenated-gzip stream and return the
    * concatenated payloads — the crawl-file read path. Null (never a
    * partial buffer, never garbage) on: bad magic, unsupported
    * compression method, header flags pointing past the buffer, CRC or
    * ISIZE mismatch, truncated members, trailing junk, or inflated size
    * past [[MaxInflatedBytes]].
    */
  def inflateAll(blob: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(math.min(blob.length * 4, 1 << 20))
    var pos = 0
    while (pos < blob.length) {
      pos = inflateMember(blob, pos, out)
      if (pos < 0 || out.size() > MaxInflatedBytes) return null
    }
    out.toByteArray
  }

  /** Inflate the single member starting at `pos`; returns the offset
    * just past its trailer, or -1 on any malformation.
    */
  private def inflateMember(b: Array[Byte], pos: Int, out: ByteArrayOutputStream): Int = {
    var p = pos
    def u8(i: Int): Int = b(i) & 0xff
    if (p + 10 > b.length || u8(p) != 0x1f || u8(p + 1) != 0x8b || u8(p + 2) != 8) return -1
    val flg = u8(p + 3)
    p += 10
    if ((flg & 4) != 0) { // FEXTRA
      if (p + 2 > b.length) return -1
      p += 2 + Bytes.le16(b, p).toInt
    }
    if ((flg & 8) != 0) { while (p < b.length && b(p) != 0) p += 1; p += 1 } // FNAME
    if ((flg & 16) != 0) { while (p < b.length && b(p) != 0) p += 1; p += 1 } // FCOMMENT
    if ((flg & 2) != 0) p += 2 // FHCRC
    if (p > b.length) return -1
    val inf = new Inflater(true)
    inf.setInput(b, p, b.length - p)
    val crc = new CRC32
    val buf = new Array[Byte](8192)
    var total = 0L
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        // 0 without finishing = truncated stream or preset-dictionary
        // demand (FDICT is illegal in gzip) — refuse, never spin
        if (n == 0 && !inf.finished()) return -1
        crc.update(buf, 0, n); out.write(buf, 0, n)
        total += n
        if (total > MaxInflatedBytes) return -1
      }
      val end = p + (b.length - p - inf.getRemaining)
      if (end + 8 > b.length) return -1
      if (Bytes.le32(b, end) != crc.getValue ||
        Bytes.le32(b, end + 4) != (total & 0xffffffffL)) return -1
      end + 8
    } catch {
      case _: java.util.zip.DataFormatException => -1
    } finally inf.end()
  }
}
