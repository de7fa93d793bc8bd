package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Apache Avro OBJECT CONTAINER FILES from spec (the Avro 1.x "OCF"
  * framing: `Obj\1` magic, metadata map carrying `avro.schema` JSON
  * and `avro.codec`, a 16-byte sync marker, then blocks of
  * zigzag-varint-framed records) — the remaining first-class row
  * format real ingestion meets beside parquet/ORC/CSV/JSONL. No
  * spark-avro module ships in this container, so the engine carries
  * its own scan-side reader/writer pair, the zstd/PDF/JPEG posture;
  * the Java avro library (avro-1.12.1, an INDEPENDENT implementation)
  * cross-validates both directions in AvroOcfSpec.
  *
  * Schema subset: records of long / int / string / boolean / double /
  * bytes plus NESTED RECORDS (recursively — the shape Iceberg's
  * manifest_entry.data_file requires), declared at registration as a
  * Spark StructType; no unions, maps, arrays, enums, or fixed.
  * The reader refuses (nulls) anything outside the subset — unknown
  * codec, schema mismatch, truncated varints, a bad sync — never a
  * partial decode (whole-or-refuse, like every untrusted-input
  * decoder here). Deflate blocks are RFC 1951 raw deflate per the
  * spec.
  *
  * Scale shape: two scan-side expressions; container bytes never
  * cross a stage boundary.
  */
object AvroOcf {

  val Magic: Array[Byte] = Array('O'.toByte, 'b'.toByte, 'j'.toByte, 1.toByte)
  /** Deterministic sync marker (the spec allows any 16 bytes). */
  val Sync: Array[Byte] = "graftsyncmarker!".getBytes(UTF_8)
  /** Decoded-payload ceiling, matching the other decompressors. */
  val MaxBytes: Int = 16 << 20
  val MaxRecords: Int = 1 << 20

  /** Register `avro_file(array<struct>, codec)` and
    * `avro_rows(binary)` for one record schema. */
  def register(spark: org.apache.spark.sql.SparkSession,
               schema: StructType): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "avro_file", exprs => AvroFileExpr(exprs(0), exprs(1), schema),
      "built-in")
    reg.createOrReplaceTempFunction(
      "avro_rows", exprs => AvroRowsExpr(exprs.head, schema), "built-in")
  }

  private def avroType(dt: DataType): String = dt match {
    case LongType => "long"
    case IntegerType => "int"
    case StringType => "string"
    case BooleanType => "boolean"
    case DoubleType => "double"
    case BinaryType => "bytes"
    case other => throw new IllegalArgumentException(
      s"avro subset does not cover $other")
  }

  /** Field-type JSON: primitives by name, StructType as a nested record
    * (the shape Iceberg's manifest_entry.data_file requires), ArrayType
    * as an avro array (Iceberg encodes its k*-keyed "maps" — column
    * bounds, stats — as arrays of key/value records, since avro map
    * keys must be strings). Nested record names are derived from the
    * field path — Avro requires them unique within a schema.
    */
  private def typeJson(dt: DataType, recName: String): String = dt match {
    case st: StructType =>
      st.fields.map(f =>
        s"""{"name":"${f.name}","type":${
          typeJson(f.dataType, recName + "_" + f.name)}}""")
        .mkString(s"""{"type":"record","name":"$recName","fields":[""",
          ",", "]}")
    case ArrayType(et, _) =>
      s"""{"type":"array","items":${typeJson(et, recName + "_item")}}"""
    case prim => "\"" + avroType(prim) + "\""
  }

  /** Canonical schema JSON for the writer. */
  def schemaJson(schema: StructType): String =
    schema.fields.map(f =>
      s"""{"name":"${f.name}","type":${typeJson(f.dataType, "r_" + f.name)}}""")
      .mkString("""{"type":"record","name":"row","fields":[""", ",", "]}")

  // ---- minimal schema-JSON field extraction ---------------------------

  import Bytes.{Corrupt, fail}

  /** Parsed field type: a primitive name, a nested record, or — for
    * the RESOLVED reader path only — a union, array, or map. */
  private[functions] sealed trait FType
  private[functions] final case class FPrim(t: String) extends FType
  private[functions] final case class FRec(fields: Seq[(String, FType)])
    extends FType
  private[functions] final case class FUnion(branches: Seq[FType])
    extends FType
  private[functions] final case class FArr(items: FType) extends FType
  private[functions] final case class FMap(values: FType) extends FType

  /** Ordered (name, type) pairs from an avro.schema JSON — tolerant of
    * attribute order, whitespace, namespaces, the `{"type":"string"}`
    * object form for field types, and nested records (recursively), so
    * files written by the Java library parse too. Throws Corrupt
    * outside the subset (unions, maps, arrays, enums, fixed).
    */
  private[functions] def parseFields(json: String): Seq[(String, FType)] =
    parseFields(json, 0)

  /** Nesting ceiling for untrusted schema JSON: recursion past it fails
    * (Corrupt) instead of a StackOverflowError the reader's catch would
    * not contain. 32 covers any real manifest; crafted headers refuse. */
  private val MaxSchemaDepth = 32

  private def parseFields(json: String, depth: Int): Seq[(String, FType)] = {
    if (depth > MaxSchemaDepth) fail()
    val fi = json.indexOf("\"fields\"")
    if (fi < 0) fail()
    var i = json.indexOf('[', fi)
    if (i < 0) fail()
    i += 1
    val out = scala.collection.mutable.ArrayBuffer[(String, FType)]()
    def skipWs(): Unit = {
      while (i < json.length && Character.isWhitespace(json.charAt(i))) i += 1
    }
    def str(): String = { // at opening quote
      if (json.charAt(i) != '"') fail()
      i += 1
      val sb = new java.lang.StringBuilder
      while (i < json.length && json.charAt(i) != '"') {
        if (json.charAt(i) == '\\') fail() // subset: plain names only
        sb.append(json.charAt(i)); i += 1
      }
      if (i >= json.length) fail()
      i += 1
      sb.toString
    }
    def skipValue(): Unit = { // any JSON value, for ignored attributes
      skipWs()
      json.charAt(i) match {
        case '"' => str(); ()
        case '{' | '[' =>
          var depth = 0
          var inStr = false
          while (i < json.length) {
            val c = json.charAt(i)
            if (inStr) {
              if (c == '\\') i += 1 else if (c == '"') inStr = false
            } else c match {
              case '"' => inStr = true
              case '{' | '[' => depth += 1
              case '}' | ']' =>
                depth -= 1
                if (depth == 0) { i += 1; return }
              case _ => ()
            }
            i += 1
          }
          fail()
        case _ =>
          while (i < json.length && !",}]".contains(json.charAt(i))) i += 1
      }
    }
    skipWs()
    while (i < json.length && json.charAt(i) != ']') {
      skipWs()
      if (json.charAt(i) != '{') fail()
      i += 1
      var name: String = null
      var tpe: FType = null
      var done = false
      while (!done) {
        skipWs()
        val key = str()
        skipWs()
        if (json.charAt(i) != ':') fail()
        i += 1
        skipWs()
        key match {
          case "name" => name = str()
          case "type" =>
            if (json.charAt(i) == '"') tpe = FPrim(str())
            else if (json.charAt(i) == '{') {
              // object form: {"type":"string", ...} for an annotated
              // primitive, or {"type":"record",...} for a nested record
              val start = i
              skipValue()
              val inner = json.substring(start, i)
              val m = "\"type\"\\s*:\\s*\"([a-z]+)\"".r
                .findFirstMatchIn(inner).getOrElse(fail())
              tpe = if (m.group(1) == "record")
                FRec(parseFields(inner, depth + 1))
              else FPrim(m.group(1))
            } else fail() // unions etc. are outside the subset
          case _ => skipValue()
        }
        skipWs()
        json.charAt(i) match {
          case ',' => i += 1
          case '}' => i += 1; done = true
          case _ => fail()
        }
      }
      if (name == null || tpe == null) fail()
      out += ((name, tpe))
      skipWs()
      if (i < json.length && json.charAt(i) == ',') i += 1
    }
    out.toSeq
  }

  // ---- varint / zigzag ------------------------------------------------

  private def writeLong(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var n = (v << 1) ^ (v >> 63) // zigzag
    while ((n & ~0x7FL) != 0L) {
      out.write(((n & 0x7F) | 0x80).toInt)
      n >>>= 7
    }
    out.write(n.toInt)
  }

  private final class Reader(val b: Array[Byte]) {
    var p: Int = 0
    def u8(): Int = {
      if (p >= b.length) fail()
      val v = b(p) & 0xFF; p += 1; v
    }
    def readLong(): Long = {
      var n = 0L
      var shift = 0
      var bt = u8()
      while ((bt & 0x80) != 0) {
        if (shift > 56) fail()
        n |= (bt & 0x7FL) << shift
        shift += 7
        bt = u8()
      }
      n |= (bt & 0x7FL) << shift
      (n >>> 1) ^ -(n & 1L) // un-zigzag
    }
    def bytes(len: Long): Array[Byte] = {
      if (len < 0 || len > MaxBytes || p + len > b.length) fail()
      val out = java.util.Arrays.copyOfRange(b, p, p + len.toInt)
      p += len.toInt
      out
    }
  }

  // ---- writer ---------------------------------------------------------

  /** Avro record encoding is field concatenation — recursion covers
    * nested records and arrays (one block, zero terminator). Null
    * fields refuse loudly: the emitted schema declares non-nullable
    * types (no unions), so a null cannot be encoded without silent
    * corruption.
    */
  private def writeValue(body: java.io.ByteArrayOutputStream,
      g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      i: Int, dt: DataType, where: String): Unit = dt match {
    case LongType => writeLong(body, g.getLong(i))
    case IntegerType => writeLong(body, g.getInt(i).toLong)
    case BooleanType => body.write(if (g.getBoolean(i)) 1 else 0)
    case DoubleType =>
      val bits = java.lang.Double.doubleToLongBits(g.getDouble(i))
      var k = 0
      while (k < 8) { body.write(((bits >> (8 * k)) & 0xFF).toInt); k += 1 }
    case StringType =>
      val sb = g.getUTF8String(i).getBytes
      writeLong(body, sb.length.toLong)
      body.write(sb, 0, sb.length)
    case BinaryType =>
      val bb = g.getBinary(i)
      writeLong(body, bb.length.toLong)
      body.write(bb, 0, bb.length)
    case st: StructType =>
      writeRecord(body, g.getStruct(i, st.length), st, where)
    case ArrayType(et, _) =>
      val arr = g.getArray(i)
      val n = arr.numElements()
      if (n > 0) {
        writeLong(body, n.toLong)
        var k = 0
        while (k < n) {
          if (arr.isNullAt(k))
            throw new IllegalArgumentException(
              s"avro_file: null array element at $where[$k] " +
                "(schema has no unions)")
          writeValue(body, arr, k, et, s"$where[$k]")
          k += 1
        }
      }
      writeLong(body, 0L) // block terminator
    case other => throw new IllegalArgumentException(other.toString)
  }

  private def writeRecord(body: java.io.ByteArrayOutputStream,
      row: org.apache.spark.sql.catalyst.InternalRow,
      schema: StructType, where: String): Unit = {
    var f = 0
    while (f < schema.length) {
      if (row.isNullAt(f))
        throw new IllegalArgumentException(
          s"avro_file: null field '${schema.fields(f).name}' at $where " +
            "(schema has no unions)")
      writeValue(body, row, f, schema.fields(f).dataType,
        where + "." + schema.fields(f).name)
      f += 1
    }
  }

  /** One OCF around the rows (one block), `codec` ∈ null|deflate. */
  def file(rows: ArrayData, schema: StructType, codec: String): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream
    val n = rows.numElements()
    var r = 0
    while (r < n) {
      if (rows.isNullAt(r))
        throw new IllegalArgumentException(
          s"avro_file: null record at index $r (schema has no unions)")
      writeRecord(body, rows.getStruct(r, schema.length), schema,
        s"record $r")
      r += 1
    }
    val payload =
      if (codec == "deflate") {
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        d.setInput(body.toByteArray)
        d.finish()
        val out = new java.io.ByteArrayOutputStream
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end()
        out.toByteArray
      } else body.toByteArray
    val out = new java.io.ByteArrayOutputStream
    out.write(Magic, 0, 4)
    writeLong(out, 2L) // metadata map: one block of two pairs
    def metaPair(k: String, v: Array[Byte]): Unit = {
      val kb = k.getBytes(UTF_8)
      writeLong(out, kb.length.toLong); out.write(kb, 0, kb.length)
      writeLong(out, v.length.toLong); out.write(v, 0, v.length)
    }
    metaPair("avro.schema", schemaJson(schema).getBytes(UTF_8))
    metaPair("avro.codec",
      (if (codec == "deflate") "deflate" else "null").getBytes(UTF_8))
    writeLong(out, 0L) // end of map
    out.write(Sync, 0, 16)
    writeLong(out, n.toLong)
    writeLong(out, payload.length.toLong)
    out.write(payload, 0, payload.length)
    out.write(Sync, 0, 16)
    out.toByteArray
  }

  // ---- reader ---------------------------------------------------------

  /** Header + block walk shared by both readers: validates magic,
    * collects the metadata map, checks the codec, then yields each
    * block's (record count, DECOMPRESSED payload). Throws Corrupt on
    * any framing refusal.
    */
  private def containerBlocks(buf: Array[Byte])
      : (String, Seq[(Long, Array[Byte])]) = {
    if (buf == null || buf.length < 20) fail()
    var i = 0
    while (i < 4) { if (buf(i) != Magic(i)) fail(); i += 1 }
    val rd = new Reader(buf)
    rd.p = 4
    var schemaJsonStr: String = null
    var codec = "null"
    var blockCount = rd.readLong()
    while (blockCount != 0L) {
      val pairs = math.abs(blockCount)
      if (pairs > 1000L || pairs < 0L) fail() // Long.MinValue guard too
      if (blockCount < 0) rd.readLong() // byte size of block, unused
      var k = 0L
      while (k < pairs) {
        val key = new String(rd.bytes(rd.readLong()), UTF_8)
        val v = rd.bytes(rd.readLong())
        key match {
          case "avro.schema" => schemaJsonStr = new String(v, UTF_8)
          case "avro.codec" => codec = new String(v, UTF_8)
          case _ => ()
        }
        k += 1
      }
      blockCount = rd.readLong()
    }
    if (schemaJsonStr == null) fail()
    if (codec != "null" && codec != "deflate") fail()
    // the header sync may be ANY 16 bytes (the Java library draws a
    // random one); block syncs must match it exactly
    val sync = rd.bytes(16L)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Array[Byte])]()
    var total = 0L
    while (rd.p < buf.length) {
      val count = rd.readLong()
      if (count < 0 || count > MaxRecords) fail()
      total += count
      if (total > MaxRecords) fail()
      val size = rd.readLong()
      val block = rd.bytes(size)
      val data =
        if (codec == "deflate") {
          // Inflater.inflate throws DataFormatException on malformed
          // deflate bytes — that is a refusal, not a crash, and the
          // native Inflater must be released either way.
          val inf = new java.util.zip.Inflater(true)
          try {
            inf.setInput(block)
            val o = new java.io.ByteArrayOutputStream
            val tmp = new Array[Byte](8192)
            while (!inf.finished()) {
              val got =
                try inf.inflate(tmp)
                catch { case _: java.util.zip.DataFormatException => fail() }
              if (got == 0 && !inf.finished()) fail()
              o.write(tmp, 0, got)
              if (o.size() > MaxBytes) fail()
            }
            o.toByteArray
          } finally inf.end()
        } else block
      val blockSync = rd.bytes(16L)
      if (!java.util.Arrays.equals(blockSync, sync)) fail()
      out += ((count, data))
    }
    (schemaJsonStr, out.toSeq)
  }

  /** All records, or null on any refusal. */
  def rows(buf: Array[Byte], schema: StructType): GenericArrayData =
    try {
      val (schemaJsonStr, blocks) = containerBlocks(buf)
      def matches(fields: Seq[(String, FType)], st: StructType): Boolean =
        fields.length == st.length && fields.zip(st.fields).forall {
          case ((n, FPrim(t)), sf) =>
            n == sf.name && !sf.dataType.isInstanceOf[StructType] &&
              t == avroType(sf.dataType)
          case ((n, FRec(sub)), sf) => sf.dataType match {
            case nested: StructType => n == sf.name && matches(sub, nested)
            case _ => false
          }
          case _ => false // unions/arrays/maps: outside the strict subset
        }
      if (!matches(parseFields(schemaJsonStr), schema)) fail()
      val recs = scala.collection.mutable.ArrayBuffer[Any]()
      blocks.foreach { case (count, data) =>
        val br = new Reader(data)
        def readRecord(st: StructType): GenericInternalRow = {
          val vals = new Array[Any](st.length)
          var f2 = 0
          while (f2 < st.length) {
            vals(f2) = st.fields(f2).dataType match {
              case LongType => br.readLong()
              case IntegerType =>
                val v = br.readLong()
                if (v < Int.MinValue || v > Int.MaxValue) fail()
                v.toInt
              case BooleanType => br.u8() match {
                case 0 => false
                case 1 => true
                case _ => fail()
              }
              case DoubleType =>
                var bits = 0L
                var k2 = 0
                while (k2 < 8) { bits |= (br.u8().toLong << (8 * k2)); k2 += 1 }
                java.lang.Double.longBitsToDouble(bits)
              case StringType => UTF8String.fromBytes(br.bytes(br.readLong()))
              case BinaryType => br.bytes(br.readLong())
              case nested: StructType => readRecord(nested)
              case _ => fail()
            }
            f2 += 1
          }
          new GenericInternalRow(vals)
        }
        var r = 0L
        while (r < count) {
          recs += readRecord(schema)
          if (recs.length > MaxRecords) fail()
          r += 1
        }
        if (br.p != data.length) fail() // block consumed exactly
      }
      new GenericArrayData(recs.toArray)
    } catch { case Corrupt => null }

  // ---- resolved reader (library-written files) ------------------------

  /** The FULL writer-schema parse for the resolved reader: unions,
    * arrays, maps, nested records, all eight primitives — the shapes
    * real Avro writers (the Java library, Iceberg's manifest layer)
    * emit. Jackson-parsed (attribute order in the wild is arbitrary —
    * the Java library puts `fields` before `type` in some layouts, so
    * positional scanning misparses), depth-capped against crafted
    * headers. Enums/fixed/named-type references stay outside the
    * subset and fail loudly.
    */
  private val PrimNames = Set("null", "boolean", "int", "long", "float",
    "double", "bytes", "string")

  private def parseTypeNode(n: com.fasterxml.jackson.databind.JsonNode,
      depth: Int): FType = {
    if (depth > MaxSchemaDepth) fail()
    if (n == null) fail()
    if (n.isTextual) {
      val t = n.asText()
      if (!PrimNames.contains(t)) fail() // named-type refs: refuse
      FPrim(t)
    } else if (n.isArray) {
      val bs = scala.collection.mutable.ArrayBuffer[FType]()
      val it = n.elements()
      while (it.hasNext) bs += parseTypeNode(it.next(), depth + 1)
      if (bs.isEmpty) fail()
      FUnion(bs.toSeq)
    } else if (n.isObject) {
      val t = n.get("type")
      if (t == null || !t.isTextual) fail()
      t.asText() match {
        case "record" =>
          val fs = n.get("fields")
          if (fs == null || !fs.isArray) fail()
          val out = scala.collection.mutable.ArrayBuffer[(String, FType)]()
          val it = fs.elements()
          while (it.hasNext) {
            val f = it.next()
            val nm = f.get("name")
            if (nm == null || !nm.isTextual) fail()
            out += ((nm.asText(), parseTypeNode(f.get("type"), depth + 1)))
          }
          FRec(out.toSeq)
        case "array" => FArr(parseTypeNode(n.get("items"), depth + 1))
        case "map" => FMap(parseTypeNode(n.get("values"), depth + 1))
        case prim if PrimNames.contains(prim) => FPrim(prim)
        case _ => fail() // enum / fixed: outside the subset
      }
    } else fail()
  }

  /** Decode one value of writer type `wt` and discard it — how the
    * resolved reader passes over writer fields the reader schema does
    * not project (Avro has no random access; skipping IS decoding).
    */
  private def skipValue(br: Reader, wt: FType): Unit = wt match {
    case FPrim("null") => ()
    case FPrim("boolean") => br.u8(); ()
    case FPrim("int") | FPrim("long") => br.readLong(); ()
    case FPrim("float") =>
      var k = 0; while (k < 4) { br.u8(); k += 1 }
    case FPrim("double") =>
      var k = 0; while (k < 8) { br.u8(); k += 1 }
    case FPrim("string") | FPrim("bytes") => br.bytes(br.readLong()); ()
    case FPrim(_) => fail()
    case FRec(fields) => fields.foreach { case (_, ft) => skipValue(br, ft) }
    case FUnion(branches) =>
      val idx = br.readLong()
      if (idx < 0 || idx >= branches.length) fail()
      skipValue(br, branches(idx.toInt))
    case FArr(items) => skipBlocked(br, items)
    case FMap(values) => skipBlocked(br, FPrim("string"), Some(values))
  }

  /** Walk one blocked array/map encoding discarding items; a negative
    * count carries the block's byte size, which skips in O(1). */
  private def skipBlocked(br: Reader, first: FType,
      second: Option[FType] = None): Unit = {
    var count = br.readLong()
    var seen = 0L
    while (count != 0L) {
      if (count < 0L) {
        if (count == Long.MinValue) fail()
        val size = br.readLong()
        br.bytes(size) // bounds-checked positional skip
        seen += -count
      } else {
        var k = 0L
        while (k < count) {
          skipValue(br, first)
          second.foreach(skipValue(br, _))
          k += 1
        }
        seen += count
      }
      if (seen > MaxRecords) fail()
      count = br.readLong()
    }
  }

  /** Decode one value of writer type `wt` into Catalyst target `dt`.
    * Union branches resolve through to the non-null branch; an actual
    * null is legal only when the target field is nullable
    * (whole-or-refuse: a null landing in a required column is a schema
    * violation, not a value).
    */
  private def readResolved(br: Reader, wt: FType, dt: DataType,
      nullable: Boolean): Any = wt match {
    case FPrim("long") if dt == LongType => br.readLong()
    case FPrim("int") if dt == IntegerType =>
      val v = br.readLong()
      if (v < Int.MinValue || v > Int.MaxValue) fail()
      v.toInt
    case FPrim("int") if dt == LongType => br.readLong() // widening per spec
    case FPrim("boolean") if dt == BooleanType => br.u8() match {
      case 0 => false
      case 1 => true
      case _ => fail()
    }
    case FPrim("double") if dt == DoubleType =>
      var bits = 0L
      var k = 0
      while (k < 8) { bits |= (br.u8().toLong << (8 * k)); k += 1 }
      java.lang.Double.longBitsToDouble(bits)
    case FPrim("float") if dt == FloatType =>
      var bits = 0
      var k = 0
      while (k < 4) { bits |= (br.u8() << (8 * k)); k += 1 }
      java.lang.Float.intBitsToFloat(bits)
    case FPrim("string") if dt == StringType =>
      UTF8String.fromBytes(br.bytes(br.readLong()))
    case FPrim("bytes") if dt == BinaryType => br.bytes(br.readLong())
    case FRec(fields) => dt match {
      case st: StructType =>
        val pos = st.fieldNames.zipWithIndex.toMap
        val vals = new Array[Any](st.length)
        val seen = new Array[Boolean](st.length)
        fields.foreach { case (fn, ft) =>
          pos.get(fn) match {
            case Some(i) =>
              if (seen(i)) fail() // duplicate writer field
              vals(i) = readResolved(br, ft, st.fields(i).dataType,
                st.fields(i).nullable)
              seen(i) = true
            case None => skipValue(br, ft) // writer-only field: discard
          }
        }
        var i = 0
        while (i < seen.length) {
          if (!seen(i)) fail() // reader field absent from the writer
          i += 1
        }
        new GenericInternalRow(vals)
      case _ => fail()
    }
    case FUnion(branches) =>
      val idx = br.readLong()
      if (idx < 0 || idx >= branches.length) fail()
      branches(idx.toInt) match {
        case FPrim("null") => if (!nullable) fail(); null
        case b => readResolved(br, b, dt, nullable)
      }
    case FArr(items) => dt match {
      case ArrayType(et, cn) =>
        val out = scala.collection.mutable.ArrayBuffer[Any]()
        var count = br.readLong()
        while (count != 0L) {
          if (count < 0L) {
            if (count == Long.MinValue) fail()
            br.readLong() // size hint, unused on the decode path
            count = -count
          }
          var k = 0L
          while (k < count) {
            out += readResolved(br, items, et, cn)
            k += 1
          }
          if (out.length > MaxRecords) fail()
          count = br.readLong()
        }
        new GenericArrayData(out.toArray)
      case _ => fail()
    }
    case FMap(values) => dt match {
      case MapType(StringType, vt, vn) =>
        val ks = scala.collection.mutable.ArrayBuffer[Any]()
        val vs = scala.collection.mutable.ArrayBuffer[Any]()
        var count = br.readLong()
        while (count != 0L) {
          if (count < 0L) {
            if (count == Long.MinValue) fail()
            br.readLong() // size hint, unused on the decode path
            count = -count
          }
          var k = 0L
          while (k < count) {
            ks += UTF8String.fromBytes(br.bytes(br.readLong()))
            vs += readResolved(br, values, vt, vn)
            k += 1
          }
          if (ks.length > MaxRecords) fail()
          count = br.readLong()
        }
        org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          ks.toArray, vs.toArray)
      case _ => fail()
    }
    case _ => fail()
  }

  /** All records via SCHEMA RESOLUTION — the reader for files this
    * engine did NOT write: the writer's full schema (unions, arrays,
    * maps, nested records — the layout real Avro/Iceberg writers emit)
    * drives the decode, and the Spark `schema` projects fields BY NAME,
    * discarding writer-only fields and resolving `[null, T]` unions
    * onto nullable columns. Null on any refusal: a reader field the
    * writer lacks, a null in a required column, enums/fixed, torn
    * framing — never a partial decode.
    */
  def rowsResolved(buf: Array[Byte], schema: StructType): GenericArrayData =
    try {
      val (schemaJsonStr, blocks) = containerBlocks(buf)
      val wt = parseTypeNode(
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(schemaJsonStr), 0) match {
        case r: FRec => r
        case _ => fail() // OCF top level must be a record
      }
      val recs = scala.collection.mutable.ArrayBuffer[Any]()
      blocks.foreach { case (count, data) =>
        val br = new Reader(data)
        var r = 0L
        while (r < count) {
          recs += readResolved(br, wt, schema, nullable = false)
          if (recs.length > MaxRecords) fail()
          r += 1
        }
        if (br.p != data.length) fail() // block consumed exactly
      }
      new GenericArrayData(recs.toArray)
    } catch {
      case Corrupt => null
      case _: com.fasterxml.jackson.core.JacksonException => null
    }
}

/** `avro_file(array<struct>, codec)` → one OCF binary. */
case class AvroFileExpr(left: Expression, right: Expression,
                        schema: StructType)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "avro_file"
  override def checkInputDataTypes() =
    (left.dataType, right.dataType) match {
      // names + types must match; nullability may differ (struct() of
      // scan columns carries whatever the source declared)
      case (ArrayType(st: StructType, _), StringType)
        if st.fields.map(f => (f.name, f.dataType)).toSeq ==
          schema.fields.map(f => (f.name, f.dataType)).toSeq =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (array<struct matching $schema>, string), got $other")
    }
  override def nullSafeEval(rows: Any, codec: Any): Any =
    AvroOcf.file(rows.asInstanceOf[ArrayData], schema, codec.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val schemaRef = ctx.addReferenceObj("avroSchema", schema,
      classOf[StructType].getName)
    nullSafeCodeGen(ctx, ev, (rows, codec) =>
      s"${ev.value} = graft.functions.AvroOcf.file($rows, $schemaRef, " +
        s"$codec.toString());")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AvroFileExpr =
    copy(left = newLeft, right = newRight)
}

/** `avro_rows(binary)` → array<struct> records or null (refused). */
case class AvroRowsExpr(child: Expression, schema: StructType)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(schema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "avro_rows"
  override def checkInputDataTypes() =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs binary, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any =
    AvroOcf.rows(input.asInstanceOf[Array[Byte]], schema)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val schemaRef = ctx.addReferenceObj("avroSchema", schema,
      classOf[StructType].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.AvroOcf.rows($c, $schemaRef);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }
  override protected def withNewChildInternal(newChild: Expression): AvroRowsExpr =
    copy(child = newChild)
}
