package graft

import java.nio.ByteBuffer
import java.nio.ByteOrder
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{call_function, col, lit, xxhash64}
import org.apache.spark.sql.types._

/** Every [[GraftExtensions.catalog]] name, run on one valid input and on a
  * null input. For each name:
  *  1. interpreted evaluation (`spark.sql.codegen.factoryMode=NO_CODEGEN`,
  *     no whole-stage codegen) and generated code (`CODEGEN_ONLY`, no
  *     fallback) give the same result;
  *  2. a null input gives a null result (`interp_state`, an aggregate,
  *     its all-null struct);
  *  3. the auto-generated column name is `name(...)` (Spark's own
  *     `bloom_agg` names it `bloom_filter_agg(...)`);
  *  4. the result's data type and nullability (over nullable and over
  *     non-nullable inputs) equal `catalog_types.tsv`.
  */
class CatalogParitySpec extends SparkSuite {
  import CatalogParitySpec._

  private lazy val cases: Seq[Case] = CatalogParitySpec.cases(sketch)

  /** A bloom filter holding `xxhash64(42L)`, for `might_contain`. */
  private lazy val sketch: Array[Byte] = spark.range(1)
    .select(call_function("bloom_agg", xxhash64(lit(42L)), lit(100L), lit(1024L)))
    .head().getAs[Array[Byte]](0)

  /** `name(args)` over a one-row input: `valid` or all column args null. */
  private def run(c: Case, valid: Boolean, nullableIn: Boolean): DataFrame = {
    val cols = c.args.collect { case a: In => a }
    val schema = StructType(cols.zipWithIndex.map { case (a, i) =>
      StructField(s"a$i", a.t, nullable = nullableIn) })
    val row = Row.fromSeq(cols.map(a => if (valid) a.v else null))
    val df = spark.createDataFrame(java.util.List.of(row), schema)
    var i = -1
    df.select(call_function(c.name, c.args.map {
      case _: In => i += 1; col(s"a$i")
      case Lit(v) => lit(v)
    }: _*))
  }

  /** `body` with the given codegen factory mode; `ConvertToLocalRelation`
    * is off so the one-row input is not evaluated while planning. */
  private def under[T](mode: String)(body: => T): T = {
    val confs = Seq(
      "spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString,
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The rendered result, or the class of the error that stopped it. */
  private def result(c: Case, valid: Boolean, mode: String): String =
    try under(mode)(show(run(c, valid, nullableIn = true).collect().head.get(0)))
    catch { case e: Exception => "error: " + e.getClass.getName }

  test("the cases cover the catalog, one case per name") {
    assert(cases.map(_.name).sorted == GraftExtensions.catalog.map(_._1).sorted)
  }

  test("interpreted and generated code agree on every catalog function") {
    val diffs = for {
      c <- cases
      valid <- Seq(true, false)
      interp = result(c, valid, "NO_CODEGEN")
      gen = result(c, valid, "CODEGEN_ONLY")
      if interp != gen
    } yield s"${c.name}(${if (valid) "valid" else "null"}): $interp vs $gen"
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  test("a null input gives a null result") {
    val wrong = cases.flatMap { c =>
      val got = result(c, valid = false, "NO_CODEGEN")
      if (got == c.nullGives) None else Some(s"${c.name}: $got")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("the auto-generated column name is name(...)") {
    val wrong = cases.flatMap { c =>
      val name = run(c, valid = true, nullableIn = true).columns.head
      if (name.startsWith(c.column + "(")) None else Some(s"${c.name}: $name")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("data types and nullability match catalog_types.tsv") {
    val want = Files.readAllLines(Paths.get(getClass.getResource("/catalog_types.tsv").toURI))
      .asScala.filter(_.nonEmpty).toSeq
    val got = cases.map(typeLine(_)).sorted
    val diff = got.diff(want) ++ want.diff(got).map("missing: " + _)
    assert(diff.isEmpty, diff.mkString("\n"))
  }

  /** `name`, nullable over nullable inputs, nullable over non-nullable
    * inputs, and the result type as JSON, tab-separated. */
  private def typeLine(c: Case): String = {
    val f = run(c, valid = true, nullableIn = true).schema.head
    val nonNull = run(c, valid = true, nullableIn = false).schema.head.nullable
    Seq(c.name, f.nullable, nonNull, f.dataType.json).mkString("\t")
  }
}

object CatalogParitySpec {

  sealed trait Arg
  /** An argument read from the input row (null in the null row). */
  final case class In(v: Any, t: DataType) extends Arg
  /** A literal argument, the same in both rows. */
  final case class Lit(v: Any) extends Arg

  /** `column` is the auto-generated column name's function part and
    * `nullGives` the rendered result over the null row. */
  final case class Case(name: String, args: Seq[Arg], column: String, nullGives: String)

  private def c(name: String, args: Arg*) = Case(name, args, name, "null")

  private def bin(b: Array[Byte]) = In(b, BinaryType)
  private def bin(s: String) = In(s.getBytes(UTF_8), BinaryType)
  private def str(s: String) = In(s, StringType)
  private def int(i: Int) = In(i, IntegerType)
  private def long(l: Long) = In(l, LongType)
  private def strs(s: String*) = In(s, ArrayType(StringType))
  private def doubles(d: Double*) = In(d, ArrayType(DoubleType))

  private def fixture(path: String): Array[Byte] =
    Files.readAllBytes(Paths.get(getClass.getResource("/" + path).toURI))
  private def file(path: String) = bin(fixture(path))

  /** Mono RIFF/WAVE at 16 kHz: `tag` 1 is 16-bit PCM, 7 is 8-bit G.711
    * mu-law. */
  private def wav(samples: Seq[Int], tag: Int): Array[Byte] = {
    val bits = if (tag == 1) 16 else 8
    val data = samples.flatMap(s =>
      if (bits == 16) Seq(s.toByte, (s >> 8).toByte) else Seq(s.toByte)).toArray
    val b = ByteBuffer.allocate(44 + data.length).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes(ISO_8859_1)).putInt(36 + data.length).put("WAVE".getBytes(ISO_8859_1))
    b.put("fmt ".getBytes(ISO_8859_1)).putInt(16).putShort(tag.toShort).putShort(1.toShort)
      .putInt(16000).putInt(16000 * bits / 8).putShort((bits / 8).toShort).putShort(bits.toShort)
    b.put("data".getBytes(ISO_8859_1)).putInt(data.length).put(data)
    b.array()
  }

  /** 16-bit mono AIFF at 16 kHz. */
  private def aiff(samples: Seq[Int]): Array[Byte] = {
    val data = samples.flatMap(s => Seq((s >> 8).toByte, s.toByte)).toArray
    val b = ByteBuffer.allocate(54 + data.length)
    b.put("FORM".getBytes(ISO_8859_1)).putInt(46 + data.length).put("AIFF".getBytes(ISO_8859_1))
    b.put("COMM".getBytes(ISO_8859_1)).putInt(18).putShort(1.toShort).putInt(samples.size)
      .putShort(16.toShort).putShort(0x400c.toShort).putLong(0xfa00000000000000L)
    b.put("SSND".getBytes(ISO_8859_1)).putInt(8 + data.length).putInt(0).putInt(0).put(data)
    b.array()
  }

  /** One 16x16 32-bit entry. */
  private val ico: Array[Byte] = {
    val b = ByteBuffer.allocate(22 + 40).order(ByteOrder.LITTLE_ENDIAN)
    b.putShort(0.toShort).putShort(1.toShort).putShort(1.toShort)
    b.put(16.toByte).put(16.toByte).put(0.toByte).put(0.toByte)
      .putShort(1.toShort).putShort(32.toShort).putInt(40).putInt(22)
    b.putInt(40).putInt(16).putInt(32).putShort(1.toShort).putShort(32.toShort)
    b.array()
  }

  private val tone = (0 until 800).map(i => (8000 * math.sin(i * 0.05)).toInt)

  private val html =
    """<html><head><title>T</title><meta name="description" content="d">""" +
      """<meta property="og:title" content="OG">""" +
      """<script type="application/ld+json">{"@type":"Thing"}</script></head>""" +
      """<body><p>Hello <a href="/x">link</a> world.</p><img src="a.png" alt="A">""" +
      """<table><tr><th>k</th><th>v</th></tr><tr><td>1</td><td>2</td></tr></table>""" +
      """</body></html>"""

  private val robots = "User-agent: *\nDisallow: /private\nCrawl-delay: 5\n" +
    "Sitemap: https://ex.com/s.xml\n"

  private val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
    "Content-Length: 2\r\n\r\nhi"

  private val warc = {
    val block = "HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nhi"
    "WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:graft:9>\r\n" +
      s"WARC-Target-URI: https://ex.com/\r\nContent-Length: ${block.length}\r\n\r\n" +
      block + "\r\n\r\n"
  }

  private def hex(h: String): Array[Byte] =
    h.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** A tf.Example with an int64, a float and a bytes feature. */
  private val tfExample = hex(
    "0A560A1D0A06746F6B656E7312131A110A0F0301040105F7FFFFFFFFFFFFFFFF01" +
      "0A190A0573636F72651210120E0A0C0000003F0000A0BF0000C842" +
      "0A1A0A057469746C6512110A0F0A0B68656C6C6F20776F726C640A00")

  /** A JPEG whose EXIF (little-endian) says orientation 6. */
  private val exifJpeg = hex(
    "FFD8 FFE1 0022 457869660000 49492A0008000000 0100 12010300 01000000 06000000 00000000 FFD9")

  def cases(sketch: Array[Byte]): Seq[Case] = Seq(
    c("vec_dot", doubles(1, 2), doubles(3, 4)),
    c("cosine_sim", doubles(1, 2), doubles(3, 4)),
    c("vec_dot_int", In(Seq(1, 2), ArrayType(IntegerType)), In(Seq(3, 4), ArrayType(IntegerType))),
    c("vec_norm_l2", doubles(3, 4)),
    c("simhash64", strs("a", "b", "c")),
    c("graft_minhash_sig", strs("a", "b", "c", "d"), Lit(3), Lit(8)),
    Case("bloom_agg", Seq(long(42L), Lit(100L), Lit(1024L)), "bloom_filter_agg", "null"),
    c("might_contain", Lit(sketch), long(42L)),
    c("zorder2", long(3L), long(5L)),
    Case("interp_state", Seq(long(10L), In(1.5, DoubleType)), "interp_state", "{null,null}"),
    c("graft_nfc", str("e\u0301te\u0301")),
    c("sentence_split", str("Hello world. How are you? Fine.")),
    c("utf8_stats", bin("héllo")),
    c("charset_detect", bin("café"), str("text/html; charset=utf-8")),
    c("charset_decode", bin("café".getBytes(ISO_8859_1)), str("ISO-8859-1")),
    c("charset_encode", str("café"), str("ISO-8859-1")),
    c("idn_decode", str("xn--mnchen-3ya.de")),
    c("gzip_member", bin("hello")),
    c("gunzip_all", bin(graft.functions.Gzip.compress("hello".getBytes(UTF_8)))),
    c("codec_probe", bin(graft.functions.Gzip.compress("hello".getBytes(UTF_8)))),
    c("zunstd_all", file("zstd_fixtures/small_l1.zst")),
    c("zstd_frame", bin("hello hello hello")),
    c("decompress_any", file("zstd_fixtures/small_l1.zst")),
    c("zunstd_dict", file("zstd_fixtures/dict_small_l3.zst"), file("zstd_fixtures/dict.bin")),
    c("bzip2_decompress", file("bz2_fixtures/text_small.bz2")),
    c("xz_decompress", file("xz_fixtures/text_crc32.xz")),
    c("lz4_decompress", file("lz4_fixtures/text_l1.lz4")),
    c("snappy_decompress", file("snappy_fixtures/framed_phrase.sn")),
    c("warc_records", bin(warc)),
    c("http_body", bin(http)),
    c("http_status", bin(http)),
    c("http_header", bin(http), str("content-type")),
    c("http_entity", bin(http)),
    c("http_entity_verdict", bin(http)),
    c("http_chunk_frame", bin("hello"), int(2)),
    c("html_to_text", str(html)),
    c("html_links", str(html)),
    c("html_anchors", str(html)),
    c("html_images", str(html)),
    c("html_meta", str(html)),
    c("html_og", str(html)),
    c("html_jsonld", str(html)),
    c("html_segments", str(html)),
    c("html_blocks", str(html)),
    c("html_tables", str(html)),
    c("robots_rules", str(robots)),
    c("robots_match_len", str("/priv*"), str("/private/x")),
    c("robots_sitemaps", str(robots)),
    c("robots_crawl_delay", str(robots), str("graftbot")),
    c("feed_items", str("<rss><channel><item><title>A</title>" +
      "<link>https://ex.com/a</link></item></channel></rss>")),
    c("subtitle_cues", str("WEBVTT\n\n00:00:01.000 --> 00:00:02.500\nHello\n")),
    c("eml_text", bin("From: a@ex.com\r\nSubject: Hi\r\nContent-Type: text/plain\r\n\r\nBody\r\n")),
    c("mbox_messages", bin("From a@ex.com Mon Jan  1 00:00:00 2024\nSubject: Hi\n\nOne\n" +
      "From b@ex.com Mon Jan  1 00:00:01 2024\nSubject: Yo\n\nTwo\n")),
    c("rtf_text", str("{\\rtf1\\ansi Hello \\b world\\b0 .}")),
    c("pdf_text", file("pdf_fixtures/flate.pdf")),
    c("pdf_doc", bin("hello")),
    c("epub_text", file("epub_fixtures/simple.epub")),
    c("epub_doc", bin("hello")),
    c("zip_entries", file("zip_fixtures/deflated.zip")),
    c("zip_entry", file("zip_fixtures/deflated.zip"), str("doc1.txt")),
    c("docx_text", file("zip_fixtures/simple.docx")),
    c("docx_doc", bin("hello")),
    c("xlsx_text", file("ooxml_fixtures/simple.xlsx")),
    c("xlsx_doc", bin("hello")),
    c("pptx_text", file("ooxml_fixtures/simple.pptx")),
    c("pptx_doc", bin("hello")),
    c("tar_entries", file("tar_fixtures/plain.tar")),
    c("tar_entry", file("tar_fixtures/plain.tar"), str("dir/b.txt")),
    c("tar_pack", bin("hello")),
    c("tar_build", In(Seq(Row("a.txt", "hi".getBytes(UTF_8))), ArrayType(StructType(Seq(
      StructField("name", StringType), StructField("data", BinaryType)))))),
    c("tex_text", str("\\section{Intro} Hello $x$ world \\emph{now}.")),
    c("svg_text", bin("<svg><text>hi</text></svg>")),
    c("arrow_audit", file("arrow_fixtures/file_basic.arrow")),
    c("arrow_col_i64", file("arrow_fixtures/file_basic.arrow"), str("id")),
    c("arrow_col_f64", file("arrow_fixtures/file_basic.arrow"), str("score")),
    c("arrow_col_str", file("arrow_fixtures/file_basic.arrow"), str("text")),
    c("parquet_footer", file("parquet_fixtures/pq_plain.parquet")),
    c("tfrecord_entries", file("tfrecord_fixtures/three_examples.tfrecord")),
    c("tfrecord_payloads", file("tfrecord_fixtures/three_examples.tfrecord")),
    c("tf_example_features", bin(tfExample)),
    c("image_header", file("png_fixtures/rgb8.png")),
    c("image_ahash", file("png_fixtures/rgb8.png")),
    c("image_dhash", file("png_fixtures/rgb8.png")),
    c("image_resize_gray", file("png_fixtures/rgb8.png"), int(4), int(4)),
    c("image_phash", file("png_fixtures/rgb8.png")),
    c("png_encode_gray", In(Seq(0, 64, 128, 255), ArrayType(IntegerType)), int(2), int(2)),
    c("jpeg_color_stats", file("jpeg_fixtures/colorstats420.jpg")),
    c("jpeg_rgb_stats", file("jpeg_fixtures/color444.jpg")),
    c("jpeg_exif_orientation", bin(exifJpeg)),
    c("jpeg_gps", file("jpeg_fixtures/color420.jpg")),
    c("avif_meta", file("png_fixtures/rgb8.png")),
    c("ico_entries", bin(ico)),
    c("audio_header", bin(wav(tone, tag = 1))),
    c("audio_pcm_stats", bin(wav(tone, tag = 1))),
    c("audio_pcm_downmix", bin(wav(tone, tag = 1))),
    c("audio_g711_stats", bin(wav(tone.map(_ & 0xff), tag = 7))),
    c("audio_flac_stats", file("flac_fixtures/fixed0.flac")),
    c("audio_aiff_stats", bin(aiff(tone))),
    c("adpcm_to_pcm", file("adpcm_fixtures/ramp_1blk.wav")),
    c("msadpcm_to_pcm", file("msadpcm_fixtures/ramp_1blk.wav")),
    c("audio_mel", bin(wav(tone, tag = 1))),
    c("audio_mel_frames", bin(wav(tone, tag = 1))),
    c("audio_frame_energy", bin(wav(tone, tag = 1))),
    c("audio_resample", bin(wav(tone, tag = 1)), int(8000)),
    c("audio_mpeg_meta", file("mp3_fixtures/cbr_v2l2.mp3")),
    c("audio_adts_meta", file("mp3_fixtures/cbr_v2l2.mp3")),
    c("mp3_sideinfo", file("mp3_fixtures/vbr_v1l3.mp3")),
    c("mp3_xing", file("mp3_fixtures/vbr_v1l3.mp3")),
    c("id3_tags", file("mp3_fixtures/id3_v25l3.mp3")),
    c("id3v1_tags", file("mp3_fixtures/id3_v25l3.mp3")),
    c("audio_ogg_meta", file("ogg_fixtures/vorbis_44k_mono.ogg")),
    c("audio_ogg_tags", file("ogg_fixtures/vorbis_tags.ogg")),
    c("video_header", file("webm_fixtures/vp9_opus.webm")),
    c("video_frame_sample", file("webm_fixtures/vp9_opus.webm"), int(2)),
    c("video_frame_ahash", file("webm_fixtures/vp9_opus.webm"), int(1)),
    c("video_webm_meta", file("webm_fixtures/vp9_opus.webm"))
  )

  /** A result as text: bytes in hex, floating point as raw bits. */
  def show(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x'", "", "'")
    case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
    case f: Float => s"f${java.lang.Float.floatToRawIntBits(f)}"
    case r: Row => r.toSeq.map(show).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => show(k) + "->" + show(x) }.mkString("map(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
    case other => other.toString
  }
}
