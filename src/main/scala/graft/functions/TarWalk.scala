package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** TAR (POSIX ustar) archive walk + deterministic writer — the other
  * big data-drop container next to [[ZipDocx]]: corpus deliveries,
  * dataset mirrors, and crawl bundles commonly ship `.tar` /
  * `.tar.gz`, and at 100 TB the first mile must WALK them scan-side,
  * not shell out.
  *
  * `tar_entries(binary)` — 512-byte header walk per the POSIX.1-1988
  * ustar layout: NUL-terminated name (+ ustar `prefix` joining), octal
  * size and checksum fields, typeflag, data rounded up to whole
  * blocks, end-of-archive at two zero blocks (trailing record padding
  * optional — the two-zero-block marker is the contract). The header
  * CHECKSUM (byte sum with the checksum field read as spaces) guards
  * the FRAMING itself — a corrupt header makes every later offset
  * untrustworthy — so unlike zip's per-member data CRC it is
  * whole-or-refuse: any bad checksum, short read, non-octal numeric
  * field, or GNU/PAX extension header (typeflag L/K/x/g — long names
  * and extended attributes are out of the subset) refuses the whole
  * archive with null. Returns per-member (name, typeflag, size).
  *
  * `tar_entry(binary, name)` — one member's data bytes, or null.
  *
  * `tar_pack(binary)` — the deterministic single-member writer
  * (`doc.txt`, mode 0644, epoch mtime, ustar magic, correct checksum,
  * two-zero-block end): the engine half of the corpus-wide round-trip
  * gate `tar_entry(tar_pack(x), 'doc.txt') == x`, and the seam that
  * composes with [[Gzip]] for `.tar.gz` certification.
  */
object TarWalk {

  val MaxMemberBytes: Long = 64L << 20

  val entrySchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("typeflag", StringType, nullable = false),
    StructField("size", LongType, nullable = false)))
  val entriesType: DataType = ArrayType(entrySchema, containsNull = false)

  import Bytes.{Corrupt, fail}

  private def cstr(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    val stop = off + len
    while (end < stop && b(end) != 0) end += 1
    new String(b, off, end - off, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Octal numeric field: leading spaces/NULs tolerated, digits, then
    * space/NUL terminator; anything else refuses.
    */
  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var i = off
    val stop = off + len
    while (i < stop && (b(i) == ' ' || b(i) == 0)) i += 1
    var v = 0L
    var any = false
    while (i < stop && b(i) >= '0' && b(i) <= '7') {
      v = v * 8 + (b(i) - '0'); any = true; i += 1
      if (v > (1L << 40)) fail()
    }
    while (i < stop) {
      if (b(i) != ' ' && b(i) != 0) fail()
      i += 1
    }
    if (!any) fail()
    v
  }

  final case class Member(name: String, typeflag: String, size: Long,
                          dataAt: Int)

  private def parse(buf: Array[Byte]): Array[Member] = {
    if (buf.length < 1024 || buf.length % 512 != 0) fail()
    val out = scala.collection.mutable.ArrayBuffer.empty[Member]
    var p = 0
    var ended = false
    while (!ended) {
      if (p + 512 > buf.length) fail() // ran off without the end marker
      var allZero = true
      var z = p
      while (allZero && z < p + 512) { allZero = buf(z) == 0; z += 1 }
      if (allZero) {
        // end-of-archive: a second zero block must follow
        if (p + 1024 > buf.length) fail()
        z = p + 512
        while (z < p + 1024) { if (buf(z) != 0) fail(); z += 1 }
        ended = true
      } else {
        // header checksum: byte sum with the checksum field as spaces
        val stored = octal(buf, p + 148, 8)
        var sum = 0L
        var i = p
        while (i < p + 512) {
          sum += (if (i >= p + 148 && i < p + 156) ' '.toInt
                  else buf(i) & 0xff)
          i += 1
        }
        if (sum != stored) fail()
        val magic = new String(buf, p + 257, 5, "US-ASCII")
        if (magic != "ustar") fail()
        val tf = buf(p + 156) match {
          case 0 | '0' => "0"
          case '5' => "5"
          case '1' => "1" // hard link (no data)
          case '2' => "2" // symlink (no data)
          case _ => fail() // GNU L/K, PAX x/g, contiguous, devices
        }
        val size = if (tf == "0") octal(buf, p + 124, 12) else 0L
        if (size > MaxMemberBytes) fail()
        val prefix = cstr(buf, p + 345, 155)
        val base = cstr(buf, p, 100)
        if (base.isEmpty) fail()
        val name = if (prefix.isEmpty) base else prefix + "/" + base
        val dataAt = p + 512
        val blocks = ((size + 511) / 512).toInt
        if (dataAt + blocks * 512 > buf.length) fail()
        out += Member(name, tf, size, dataAt)
        p = dataAt + blocks * 512
      }
    }
    out.toArray
  }

  /** `tar_entries(binary)` → per-member rows or null (refused). */
  def entries(buf: Array[Byte]): GenericArrayData =
    try {
      val ms = parse(buf)
      new GenericArrayData(ms.map(m => new GenericInternalRow(Array[Any](
        UTF8String.fromString(m.name), UTF8String.fromString(m.typeflag),
        m.size)): Any))
    } catch { case Corrupt => null }

  /** `tar_entry(binary, name)` → member bytes or null. */
  def entry(buf: Array[Byte], name: UTF8String): Array[Byte] = entry(buf, name.toString)

  def entry(buf: Array[Byte], name: String): Array[Byte] =
    try {
      val ms = parse(buf)
      var i = 0
      while (i < ms.length) {
        if (ms(i).name == name && ms(i).typeflag == "0")
          return java.util.Arrays.copyOfRange(buf, ms(i).dataAt,
            ms(i).dataAt + ms(i).size.toInt)
        i += 1
      }
      null
    } catch { case Corrupt => null }

  /** `tar_pack(binary)` → one deterministic single-member tar.
    *
    * Deterministic single-member tar around the bytes (name `doc.txt`,
    * mode 0644, uid/gid 0, mtime 0, ustar 00).
    */
  def pack(data: Array[Byte]): Array[Byte] =
    packAll(Seq("doc.txt" -> data))

  /** Deterministic multi-member ustar archive (mode 0644, uid/gid 0,
    * mtime 0) — member order preserved; names ≤ 100 bytes.
    */
  def packAll(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val total = members.map { case (_, d) =>
      512 + ((d.length + 511) / 512) * 512 }.sum
    val out = new Array[Byte](total + 1024)
    var at = 0
    for ((name, data) <- members) {
      require(name.getBytes("UTF-8").length <= 100, s"name too long: $name")
      def put(off: Int, s: String): Unit = {
        val b = s.getBytes("US-ASCII")
        System.arraycopy(b, 0, out, at + off, b.length)
      }
      put(0, name)
      put(100, "0000644")
      put(108, "0000000")
      put(116, "0000000")
      put(124, f"${data.length.toLong}%011o")
      put(136, "00000000000")
      out(at + 156) = '0'
      put(257, "ustar")
      out(at + 262) = 0
      put(263, "00")
      // checksum over the header with the checksum field as spaces
      java.util.Arrays.fill(out, at + 148, at + 156, ' '.toByte)
      var sum = 0L
      var i = 0
      while (i < 512) { sum += out(at + i) & 0xff; i += 1 }
      put(148, f"$sum%06o")
      out(at + 154) = 0
      out(at + 155) = ' '
      System.arraycopy(data, 0, out, at + 512, data.length)
      at += 512 + ((data.length + 511) / 512) * 512
    }
    out
  }
}
