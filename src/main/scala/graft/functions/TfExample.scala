package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** tf.Example protobuf wire-format parse — the payload INSIDE the
  * TFRecord frames [[TfRecord]] inventories, decoded from the
  * published wire format (varint tags, length-delimited messages; the
  * message shapes are tensorflow/core/example/example.proto):
  *
  * {{{
  * Example  { Features features = 1; }
  * Features { map<string, Feature> feature = 1; }
  * Feature  { oneof kind { BytesList=1; FloatList=2; Int64List=3 } }
  * BytesList{ repeated bytes value = 1; }
  * FloatList{ repeated float value = 1 [packed]; }
  * Int64List{ repeated int64 value = 1 [packed]; }
  * }}}
  *
  * `tf_example_features(binary)` → `array<struct<name, kind,
  * int64_values, float_values, bytes_md5>>` in encounter order —
  * numeric lists decode packed AND unpacked (both are legal wire
  * encodings of a packed-declared repeated scalar), bytes values
  * surface as per-value md5 fingerprints (the dedup/audit view; raw
  * blobs stay in the shard).
  *
  * Whole-or-refuse: torn varints, lengths past the buffer, group wire
  * types, a known field with a contradicting wire type, or a Feature
  * with two kinds set all null the record — a training shard either
  * parses or is quarantined whole. UNKNOWN fields skip per wire rules
  * (that's schema evolution, not corruption).
  *
  * Scale shape: codegen'd static call, one linear pass, no recursion
  * deeper than the fixed 5-level message tree; rows reduce scan-side.
  */
object TfExample {

  val featureSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("int64_values", ArrayType(LongType, false), nullable = false),
    StructField("float_values", ArrayType(DoubleType, false), nullable = false),
    StructField("bytes_md5", ArrayType(StringType, false), nullable = false)))

  val schema: DataType = ArrayType(featureSchema, containsNull = false)

  import Bytes.{Corrupt, fail}

  /** Varint at pos(0); advances pos. Max 10 bytes (64-bit). */
  private def varint(b: Array[Byte], pos: Array[Int]): Long = {
    var v = 0L
    var shift = 0
    var p = pos(0)
    while (shift < 64) {
      if (p >= b.length) fail()
      val x = b(p) & 0xff
      p += 1
      v |= (x & 0x7fL) << shift
      if ((x & 0x80) == 0) { pos(0) = p; return v }
      shift += 7
    }
    fail()
  }

  /** Skip one unknown field of `wire` type; groups (3/4) refuse. */
  private def skip(b: Array[Byte], pos: Array[Int], wire: Int): Unit =
    wire match {
      case 0 => varint(b, pos)
      case 1 => if (pos(0) + 8 > b.length) fail() else pos(0) += 8
      case 2 =>
        val n = varint(b, pos)
        if (n < 0 || pos(0) + n > b.length) fail()
        pos(0) += n.toInt
      case 5 => if (pos(0) + 4 > b.length) fail() else pos(0) += 4
      case _ => fail()
    }

  /** Bounds of a length-delimited payload: (start, end); advances. */
  private def delim(b: Array[Byte], pos: Array[Int]): (Int, Int) = {
    val n = varint(b, pos)
    if (n < 0 || pos(0) + n > b.length) fail()
    val s = pos(0)
    pos(0) = s + n.toInt
    (s, s + n.toInt)
  }

  /** `tf_example_features(binary)` → array of per-feature rows, or null
    * on any wire-format violation (whole-or-refuse).
    */
  def parse(b: Array[Byte]): GenericArrayData =
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      val pos = Array(0)
      while (pos(0) < b.length) {
        val t = varint(b, pos)
        val field = (t >>> 3).toInt
        val wire = (t & 7).toInt
        if (field == 1) {
          if (wire != 2) fail()
          val (s, e) = delim(b, pos)
          parseFeatures(b, s, e, out)
        } else skip(b, pos, wire)
      }
      new GenericArrayData(out.toArray)
    } catch { case Corrupt => null }

  private def parseFeatures(b: Array[Byte], start: Int, end: Int,
      out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
    val pos = Array(start)
    while (pos(0) < end) {
      val t = varint(b, pos)
      val field = (t >>> 3).toInt
      val wire = (t & 7).toInt
      if (field == 1) {
        if (wire != 2) fail()
        val (s, e) = delim(b, pos)
        if (e > end) fail()
        out += parseEntry(b, s, e)
      } else {
        skip(b, pos, wire)
        if (pos(0) > end) fail()
      }
    }
    if (pos(0) != end) fail()
  }

  /** One map entry: key = 1 (string), value = 2 (Feature). */
  private def parseEntry(b: Array[Byte], start: Int, end: Int): InternalRow = {
    val pos = Array(start)
    var name = ""
    var kind = "none"
    var i64: Array[Any] = Array.empty
    var flt: Array[Any] = Array.empty
    var md5: Array[Any] = Array.empty
    while (pos(0) < end) {
      val t = varint(b, pos)
      val field = (t >>> 3).toInt
      val wire = (t & 7).toInt
      if (field == 1 && wire == 2) {
        val (s, e) = delim(b, pos)
        if (e > end) fail()
        name = new String(b, s, e - s,
          java.nio.charset.StandardCharsets.UTF_8)
      } else if (field == 2 && wire == 2) {
        val (s, e) = delim(b, pos)
        if (e > end) fail()
        val fp = Array(s)
        while (fp(0) < e) {
          val ft = varint(b, fp)
          val ff = (ft >>> 3).toInt
          val fw = (ft & 7).toInt
          if (ff >= 1 && ff <= 3) {
            if (fw != 2) fail()
            if (kind != "none") fail() // two kinds set: refuse
            val (ls, le) = delim(b, fp)
            if (le > e) fail()
            ff match {
              case 1 => kind = "bytes"; md5 = parseBytesList(b, ls, le)
              case 2 => kind = "float"; flt = parseFloatList(b, ls, le)
              case 3 => kind = "int64"; i64 = parseInt64List(b, ls, le)
            }
          } else {
            skip(b, fp, fw)
            if (fp(0) > e) fail()
          }
        }
        if (fp(0) != e) fail()
      } else if (field == 1 || field == 2) fail()
      else {
        skip(b, pos, wire)
        if (pos(0) > end) fail()
      }
    }
    if (pos(0) != end) fail()
    InternalRow(UTF8String.fromString(name), UTF8String.fromString(kind),
      new GenericArrayData(i64), new GenericArrayData(flt),
      new GenericArrayData(md5))
  }

  private def parseBytesList(b: Array[Byte], start: Int, end: Int): Array[Any] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val pos = Array(start)
    while (pos(0) < end) {
      val t = varint(b, pos)
      if ((t >>> 3).toInt == 1) {
        if ((t & 7).toInt != 2) fail()
        val (s, e) = delim(b, pos)
        if (e > end) fail()
        val md = java.security.MessageDigest.getInstance("MD5")
        md.update(b, s, e - s)
        out += UTF8String.fromString(
          md.digest().map("%02x".format(_)).mkString)
      } else {
        skip(b, pos, (t & 7).toInt)
        if (pos(0) > end) fail()
      }
    }
    if (pos(0) != end) fail()
    out.toArray
  }

  private def parseFloatList(b: Array[Byte], start: Int, end: Int): Array[Any] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val pos = Array(start)
    while (pos(0) < end) {
      val t = varint(b, pos)
      if ((t >>> 3).toInt == 1) {
        (t & 7).toInt match {
          case 2 => // packed: length must be a whole number of floats
            val (s, e) = delim(b, pos)
            if (e > end || (e - s) % 4 != 0) fail()
            var i = s
            while (i < e) {
              out += java.lang.Float.intBitsToFloat(Bytes.le32(b, i).toInt).toDouble
              i += 4
            }
          case 5 =>
            if (pos(0) + 4 > end) fail()
            out += java.lang.Float.intBitsToFloat(Bytes.le32(b, pos(0)).toInt).toDouble
            pos(0) += 4
          case _ => fail()
        }
      } else {
        skip(b, pos, (t & 7).toInt)
        if (pos(0) > end) fail()
      }
    }
    if (pos(0) != end) fail()
    out.toArray
  }

  private def parseInt64List(b: Array[Byte], start: Int, end: Int): Array[Any] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val pos = Array(start)
    while (pos(0) < end) {
      val t = varint(b, pos)
      if ((t >>> 3).toInt == 1) {
        (t & 7).toInt match {
          case 2 => // packed varints
            val (s, e) = delim(b, pos)
            if (e > end) fail()
            val vp = Array(s)
            while (vp(0) < e) out += varint(b, vp)
            if (vp(0) != e) fail()
          case 0 => out += varint(b, pos)
          case _ => fail()
        }
      } else {
        skip(b, pos, (t & 7).toInt)
        if (pos(0) > end) fail()
      }
    }
    if (pos(0) != end) fail()
    out.toArray
  }
}
