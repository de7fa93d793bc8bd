package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** TFRecord container walk — the TensorFlow training-shard framing
  * (`length u64 LE | masked CRC32C(length) | payload | masked
  * CRC32C(payload)` per record, concatenated). The mask is the
  * published `rot15(crc) + 0xa282ead8` (the same masking snappy's
  * framing uses); CRC32C is the JDK implementation.
  *
  * `tfrecord_entries(binary)` → array of `struct<idx, n_bytes,
  * payload_md5>` — the audit view a 100 TB shard inventory needs
  * (record counts, sizes, content fingerprints) without deserializing
  * protos. Whole-or-refuse: null on either CRC mismatching, a length
  * running past the buffer, trailing bytes, or a record past the
  * [[Gzip.MaxInflatedBytes]]-class ceiling — a torn shard must
  * surface as a quarantine signal, not a silent prefix.
  */
object TfRecord {

  val MaxRecordBytes: Int = 64 << 20

  val entriesType: DataType = ArrayType(StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("payload_md5", StringType, nullable = false))), false)

  private def maskedCrc(d: Array[Byte], from: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32C
    c.update(d, from, len)
    val crc = c.getValue
    (((crc >>> 15) | (crc << 17)) + 0xa282ead8L) & 0xFFFFFFFFL
  }

  /** `tfrecord_payloads(binary)` → array<binary> of record payloads, or
    * null on any framing/CRC violation (whole-or-refuse).
    *
    * The raw record payloads behind the same whole-or-refuse framing
    * walk as [[entries]] — the read seam [[TfExample]] composes on
    * (shard bytes → proto payloads → feature rows, all scan-side).
    */
  def payloads(b: Array[Byte]): GenericArrayData = {
    if (b == null) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var p = 0
    while (p < b.length) {
      if (p + 12 > b.length) return null
      val len = Bytes.le64(b, p)
      if (Bytes.le32(b, p + 8) != maskedCrc(b, p, 8)) return null
      if (len < 0 || len > MaxRecordBytes || p + 12 + len + 4 > b.length)
        return null
      val n = len.toInt
      if (Bytes.le32(b, p + 12 + n) != maskedCrc(b, p + 12, n)) return null
      out += java.util.Arrays.copyOfRange(b, p + 12, p + 12 + n)
      p += 12 + n + 4
    }
    new GenericArrayData(out.toArray)
  }

  /** Deterministic shard writer: each payload framed with the
    * published length/masked-CRC32C layout (the JDK CRC32C — the
    * independent-CRC direction is covered by TfRecordSpec's
    * from-polynomial fixtures). The engine half of shard round trips.
    */
  def pack(payloads: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    payloads.foreach { pl =>
      val hdr = new Array[Byte](12)
      var v = pl.length.toLong
      var i = 0
      while (i < 8) { hdr(i) = (v & 0xff).toByte; v >>= 8; i += 1 }
      val hc = maskedCrc(hdr, 0, 8)
      i = 0
      while (i < 4) { hdr(8 + i) = ((hc >> (8 * i)) & 0xff).toByte; i += 1 }
      out.write(hdr, 0, 12)
      out.write(pl, 0, pl.length)
      val pc = maskedCrc(pl, 0, pl.length)
      i = 0
      while (i < 4) { out.write(((pc >> (8 * i)) & 0xff).toInt); i += 1 }
    }
    out.toByteArray
  }

  /** `tfrecord_entries(binary)` → array<struct<idx, n_bytes,
    * payload_md5>>, or null on any framing/CRC violation.
    */
  def entries(b: Array[Byte]): GenericArrayData = {
    if (b == null) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var p = 0
    var idx = 0
    while (p < b.length) {
      if (p + 12 > b.length) return null
      val len = Bytes.le64(b, p)
      if (Bytes.le32(b, p + 8) != maskedCrc(b, p, 8)) return null
      if (len < 0 || len > MaxRecordBytes || p + 12 + len + 4 > b.length)
        return null
      val n = len.toInt
      if (Bytes.le32(b, p + 12 + n) != maskedCrc(b, p + 12, n)) return null
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(b, p + 12, n)
      val hex = md.digest().map("%02x".format(_)).mkString
      out += org.apache.spark.sql.catalyst.InternalRow(
        idx, len, org.apache.spark.unsafe.types.UTF8String.fromString(hex))
      idx += 1
      p += 12 + n + 4
    }
    new GenericArrayData(out.toArray)
  }
}
