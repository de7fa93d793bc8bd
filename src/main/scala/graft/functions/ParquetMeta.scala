package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Parquet FOOTER audit — per-file shard QA for the dominant
  * lakehouse format without scanning a single data page (the
  * [[TfRecord]] posture for parquet): `parquet_footer(binary)` walks
  * the published layout (leading/trailing `PAR1`, little-endian
  * footer length) and decodes the `FileMetaData` thrift structure
  * FROM THE THRIFT COMPACT PROTOCOL SPEC — short/long field headers
  * with delta field ids, zigzag varints, list headers, nested
  * structs — no thrift or parquet library.
  *
  * Output: file version, total rows, writer string, and one row per
  * (row group, column chunk): dotted column path, physical type,
  * compression codec, sorted encoding set, value count,
  * compressed/uncompressed byte sizes, and the statistics null count
  * (−1 when the writer emitted no statistics). This is the view a
  * 100 TB ingest needs to ALERT on mixed codecs, bloated row groups,
  * or missing stats before any executor touches data pages.
  *
  * Whole-or-refuse: missing magics, footer length past the buffer,
  * torn varints, unknown thrift types, or nesting past the cap null
  * the row — never a partial audit.
  */
object ParquetMeta {

  val columnSchema: StructType = StructType(Seq(
    StructField("rg_idx", IntegerType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("phys_type", StringType, nullable = false),
    StructField("codec", StringType, nullable = false),
    StructField("encodings", StringType, nullable = false),
    StructField("n_values", LongType, nullable = false),
    StructField("bytes_compressed", LongType, nullable = false),
    StructField("bytes_uncompressed", LongType, nullable = false),
    StructField("null_count", LongType, nullable = false)))

  val schema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("num_rows", LongType, nullable = false),
    StructField("created_by", StringType, nullable = true),
    StructField("n_row_groups", IntegerType, nullable = false),
    StructField("columns", ArrayType(columnSchema, containsNull = false),
      nullable = false)))

  import Bytes.{Corrupt, fail}

  private val PhysTypes = Array("boolean", "int32", "int64", "int96",
    "float", "double", "byte_array", "fixed_len_byte_array")
  private val Codecs = Array("uncompressed", "snappy", "gzip", "lzo",
    "brotli", "lz4", "zstd", "lz4_raw")
  private val Encodings = Array("plain", "?", "plain_dictionary", "rle",
    "bit_packed", "delta_binary_packed", "delta_length_byte_array",
    "delta_byte_array", "rle_dictionary", "byte_stream_split")

  // ---- thrift compact protocol reader ----

  private final class Tc(val b: Array[Byte], var p: Int, val end: Int) {
    def u8(): Int = {
      if (p >= end) fail()
      val v = b(p) & 0xff; p += 1; v
    }
    def varint(): Long = {
      var v = 0L
      var shift = 0
      while (shift < 64) {
        val x = u8()
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
      }
      fail()
    }
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1) }
    def binary(): Array[Byte] = {
      val n = varint()
      if (n < 0 || p + n > end) fail()
      val out = java.util.Arrays.copyOfRange(b, p, p + n.toInt)
      p += n.toInt
      out
    }
    def str(): String = new String(binary(),
      java.nio.charset.StandardCharsets.UTF_8)

    /** Skip one value of compact `tpe`. */
    def skip(tpe: Int, depth: Int): Unit = tpe match {
      case 1 | 2 => () // bool encoded in the field header
      case 3 | 4 | 5 | 6 => varint()
      case 7 => if (p + 8 > end) fail() else p += 8
      case 8 => binary()
      case 9 | 10 => // list / set
        val (et, n) = listHeader()
        var i = 0L
        while (i < n) { skip(et, depth + 1); i += 1 }
      case 11 => // map
        val h = u8()
        if (h != 0) {
          val n = 1L // compact maps: varint size already consumed? no:
          // compact map header = varint size, then 1 byte kv types
          fail() // parquet FileMetaData carries no maps; refuse
        }
      case 12 =>
        if (depth > 16) fail()
        var last = 0
        var done = false
        while (!done) {
          val h = u8()
          if (h == 0) done = true
          else {
            val d = (h >> 4) & 0x0f
            val t = h & 0x0f
            last = if (d != 0) last + d else zigzag().toInt
            skip(t, depth + 1)
          }
        }
      case _ => fail()
    }

    /** list header → (element type, size) */
    def listHeader(): (Int, Long) = {
      val h = u8()
      val et = h & 0x0f
      val sz = (h >> 4) & 0x0f
      (et, if (sz == 15) varint() else sz.toLong)
    }

    /** Walk one struct, calling `onField(id, tpe)`; the callback must
      * consume the value (or call skip).
      */
    def struct(depth: Int)(onField: (Int, Int) => Unit): Unit = {
      if (depth > 16) fail()
      var last = 0
      var done = false
      while (!done) {
        val h = u8()
        if (h == 0) done = true
        else {
          val d = (h >> 4) & 0x0f
          val t = h & 0x0f
          last = if (d != 0) last + d else zigzag().toInt
          onField(last, t)
        }
      }
    }
  }

  private final case class Col(path: String, phys: String, codec: String,
      encodings: String, nValues: Long, bytesComp: Long, bytesUnc: Long,
      nullCount: Long, minBin: Array[Byte], maxBin: Array[Byte])

  private def parseColumnMeta(tc: Tc): Col = {
    var phys = -1
    var codec = -1
    var encs = List.empty[Int]
    var path = List.empty[String]
    var nValues = -1L
    var unc = -1L
    var comp = -1L
    var nullCount = -1L
    var minBin: Array[Byte] = null
    var maxBin: Array[Byte] = null
    tc.struct(0) { (id, t) =>
      id match {
        case 1 => phys = tc.zigzag().toInt
        case 2 =>
          val (et, n) = tc.listHeader()
          if (et != 5) fail()
          var i = 0L
          while (i < n) { encs ::= tc.zigzag().toInt; i += 1 }
        case 3 =>
          val (et, n) = tc.listHeader()
          if (et != 8) fail()
          var i = 0L
          while (i < n) { path ::= tc.str(); i += 1 }
        case 4 => codec = tc.zigzag().toInt
        case 5 => nValues = tc.zigzag()
        case 6 => unc = tc.zigzag()
        case 7 => comp = tc.zigzag()
        case 12 => // Statistics
          tc.struct(1) { (sid, st) =>
            if (sid == 3 && st >= 3 && st <= 6) nullCount = tc.zigzag()
            else if (sid == 5 && st == 8) maxBin = tc.binary() // max_value
            else if (sid == 6 && st == 8) minBin = tc.binary() // min_value
            else tc.skip(st, 1)
          }
        case _ => tc.skip(t, 1)
      }
    }
    if (phys < 0 || phys >= PhysTypes.length || codec < 0 ||
      codec >= Codecs.length || nValues < 0) fail()
    val encNames = encs.map(e =>
      if (e >= 0 && e < Encodings.length) Encodings(e) else s"enc$e")
      .distinct.sorted
    Col(path.reverse.mkString("."), PhysTypes(phys), Codecs(codec),
      encNames.mkString(","), nValues, comp, unc, nullCount, minBin, maxBin)
  }

  private def walkFooter(b: Array[Byte])
      : (Int, Long, String, Int, Seq[(Int, Col)]) = {
    if (b.length < 12) fail()
    if (!(b(0) == 'P' && b(1) == 'A' && b(2) == 'R' && b(3) == '1'))
      fail()
    val n = b.length
    if (!(b(n - 4) == 'P' && b(n - 3) == 'A' && b(n - 2) == 'R' &&
      b(n - 1) == '1')) fail()
    val metaLen = Bytes.le32(b, n - 8).toInt
    if (metaLen <= 0 || n - 8 - metaLen < 4) fail()
    val tc = new Tc(b, n - 8 - metaLen, n - 8)
    var version = -1
    var numRows = -1L
    var createdBy: String = null
    val cols = scala.collection.mutable.ArrayBuffer.empty[(Int, Col)]
    var rgIdx = 0
    tc.struct(0) { (id, t) =>
      id match {
        case 1 => version = tc.zigzag().toInt
        case 3 => numRows = tc.zigzag()
        case 4 => // row_groups
          val (et, nRg) = tc.listHeader()
          if (et != 12) fail()
          var g = 0L
          while (g < nRg) {
            tc.struct(1) { (rid, rt) =>
              if (rid == 1) { // columns
                val (cet, nc) = tc.listHeader()
                if (cet != 12) fail()
                var c = 0L
                while (c < nc) {
                  var col: Col = null
                  tc.struct(2) { (cid, ct) =>
                    if (cid == 3) col = parseColumnMeta(tc)
                    else tc.skip(ct, 2)
                  }
                  if (col == null) fail()
                  cols += ((rgIdx, col))
                  c += 1
                }
              } else tc.skip(rt, 1)
            }
            rgIdx += 1
            g += 1
          }
        case 6 => createdBy = tc.str()
        case _ => tc.skip(t, 0)
      }
    }
    if (version < 0 || numRows < 0) fail()
    (version, numRows, createdBy, rgIdx, cols.toSeq)
  }

  /** `parquet_footer(binary)` → footer-audit struct or null. */
  def parse(b: Array[Byte]): InternalRow =
    try {
      val (version, numRows, createdBy, rgIdx, cols) = walkFooter(b)
      val rows = cols.map { case (rg, c) =>
        InternalRow(rg, UTF8String.fromString(c.path),
          UTF8String.fromString(c.phys), UTF8String.fromString(c.codec),
          UTF8String.fromString(c.encodings), c.nValues, c.bytesComp,
          c.bytesUnc, c.nullCount)
      }
      InternalRow(version, numRows,
        if (createdBy == null) null else UTF8String.fromString(createdBy),
        rgIdx, new GenericArrayData(rows.toArray[Any]))
    } catch { case Corrupt => null }

  /** Per-column [min, max] over ALL row groups, decoded from the
    * footer statistics' `min_value`/`max_value` — int32/int64 columns
    * only, and only when every chunk of the column carries both stats
    * at the spec'd width (a single stats-less chunk makes the
    * file-level bound unknowable, so the column is omitted —
    * conservative, never a guessed bound). Returns empty on any footer
    * refusal.
    */
  def longBounds(b: Array[Byte]): Map[String, (Long, Long)] =
    try {
      val (_, _, _, _, cols) = walkFooter(b)
      cols.map(_._2).groupBy(_.path).flatMap { case (p, cs) =>
        val widths = cs.headOption.map(_.phys) match {
          case Some("int64") => 8
          case Some("int32") => 4
          case _ => -1
        }
        val ok = widths > 0 && cs.forall(c => c.phys == cs.head.phys &&
          c.minBin != null && c.minBin.length == widths &&
          c.maxBin != null && c.maxBin.length == widths)
        // little-endian signed per the parquet statistics spec: int64
        // min_value/max_value are 8 bytes, int32 are 4 (sign carried by
        // the top byte)
        def bound(v: Array[Byte]): Long =
          if (widths == 4) Bytes.le32(v, 0).toInt.toLong else Bytes.le64(v, 0)
        if (!ok) None
        else Some(p -> (cs.map(c => bound(c.minBin)).min,
          cs.map(c => bound(c.maxBin)).max))
      }
    } catch { case Corrupt => Map.empty[String, (Long, Long)] }
}
