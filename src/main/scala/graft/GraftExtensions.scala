package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types._

import graft.functions._

/** The engine's function catalog, installed session-wide by
  * [[GraftSession]] through `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Every name resolves in SQL, `expr()` and `call_function` on every
  * session of the context, including `newSession()` and the clones a
  * streaming query runs its micro-batches on, with no per-session
  * registration. Only functions whose builder closes over query data
  * (`AvroOcf`, `BpeApply`, `EmbedSimHash`, `UnigramApply`,
  * `WordPieceApply`) register per query.
  *
  * A function that is one call of a static method is one [[StaticFn]] row
  * in [[statics]]: its name, the method, the exact input types, the output
  * type and whether the method may return null for a non-null input. The
  * few that are not ([[specials]]) keep an expression class of their own.
  * Building the catalog loads no decoder object and looks up no method.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.catalog.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo("graft.functions", name), builder))
    }
}

object GraftExtensions {

  private val bin = Seq(BinaryType)
  private val str = Seq(StringType)
  private val binStr = Seq(BinaryType, StringType)
  private val binInt = Seq(BinaryType, IntegerType)
  private val strStr = Seq(StringType, StringType)

  /** The single-static-call functions, one row each. */
  val statics: Seq[StaticFn] = Seq(
    // vectors, fingerprints, sketches, interpolation
    StaticFn("simhash64", "SimHash64.compute", Seq(ArrayType(StringType)), LongType, orNull = false),
    StaticFn("zorder2", "ZOrderExprs.z2", Seq(LongType, LongType), LongType, orNull = false),
    // text
    StaticFn("graft_nfc", "NfcNormalize.normalize", str, StringType, orNull = false),
    StaticFn("sentence_split", "SentenceSplit.split", str,
      ArrayType(StringType, containsNull = false), orNull = false),
    StaticFn("utf8_stats", "Utf8Stats.stats", bin, Utf8Stats.schema, orNull = true),
    StaticFn("charset_decode", "CharsetDecode.decode", binStr, StringType, orNull = true),
    StaticFn("charset_encode", "CharsetDecode.encode", strStr, BinaryType, orNull = true),
    StaticFn("idn_decode", "Punycode.eval", str, StringType, orNull = true),
    // web crawl: compression, WARC/HTTP, HTML, robots, feeds, mail
    StaticFn("gzip_member", "Gzip.compress", bin, BinaryType, orNull = false),
    StaticFn("gunzip_all", "Gzip.inflateAll", bin, BinaryType, orNull = true),
    StaticFn("codec_probe", "Gzip.probe", bin, StringType, orNull = false),
    StaticFn("zunstd_all", "Zstd.decompressAll", bin, BinaryType, orNull = true),
    StaticFn("zstd_frame", "Zstd.compressRaw", bin, BinaryType, orNull = false),
    StaticFn("decompress_any", "Zstd.decompressAny", bin, BinaryType, orNull = true),
    StaticFn("zunstd_dict", "Zstd.decompressAllDict", Seq(BinaryType, BinaryType),
      BinaryType, orNull = true),
    StaticFn("bzip2_decompress", "Bzip2.decompressAll", bin, BinaryType, orNull = true),
    StaticFn("xz_decompress", "Xz.decompressAll", bin, BinaryType, orNull = true),
    StaticFn("lz4_decompress", "Lz4.decompressAll", bin, BinaryType, orNull = true),
    StaticFn("snappy_decompress", "Snappy.decompressAny", bin, BinaryType, orNull = true),
    StaticFn("warc_records", "WarcParse.parse", bin, WarcParse.schema, orNull = true),
    StaticFn("http_body", "WarcParse.body", bin, BinaryType, orNull = true),
    StaticFn("http_status", "WarcParse.statusOrNull", bin, IntegerType, orNull = true),
    StaticFn("http_header", "WarcParse.header", binStr, StringType, orNull = true),
    StaticFn("http_entity", "WarcParse.entity", bin, BinaryType, orNull = true),
    StaticFn("http_entity_verdict", "WarcParse.entityVerdict", bin, StringType, orNull = false),
    StaticFn("http_chunk_frame", "WarcParse.chunkFrame", binInt, BinaryType, orNull = true),
    StaticFn("html_to_text", "HtmlToText.extract", str, StringType, orNull = false),
    StaticFn("html_links", "HtmlLinks.extract", str,
      ArrayType(StringType, containsNull = false), orNull = false),
    StaticFn("html_anchors", "HtmlLinks.anchors", str, HtmlLinks.anchorsType, orNull = false),
    StaticFn("html_images", "HtmlImages.extract", str, HtmlImages.schema, orNull = false),
    StaticFn("html_meta", "HtmlMeta.extract", str, HtmlMeta.schema, orNull = true),
    StaticFn("html_og", "HtmlMeta.extractOg", str, HtmlMeta.ogSchema, orNull = false),
    StaticFn("html_jsonld", "HtmlJsonLd.extract", str,
      ArrayType(StringType, containsNull = false), orNull = false),
    StaticFn("html_segments", "HtmlSegments.segments", str, HtmlSegments.schema, orNull = false),
    StaticFn("html_blocks", "HtmlBlocks.blocks", str, HtmlBlocks.schema, orNull = false),
    StaticFn("html_tables", "HtmlTables.tables", str, HtmlTables.rowsType, orNull = true),
    StaticFn("robots_rules", "RobotsTxt.parse", str, RobotsTxt.schema, orNull = false),
    StaticFn("robots_match_len", "RobotsTxt.matchLen", strStr, IntegerType, orNull = false),
    StaticFn("robots_sitemaps", "RobotsTxt.sitemaps", str,
      ArrayType(StringType, containsNull = false), orNull = false),
    StaticFn("robots_crawl_delay", "RobotsTxt.crawlDelay", strStr, IntegerType, orNull = false),
    StaticFn("feed_items", "FeedParse.items", str, FeedParse.schema, orNull = true),
    StaticFn("subtitle_cues", "SubtitleCues.parse", str, SubtitleCues.schema, orNull = true),
    StaticFn("eml_text", "MimeText.message", bin, MimeText.schema, orNull = true),
    StaticFn("mbox_messages", "MimeText.mboxMessages", bin,
      ArrayType(BinaryType, containsNull = false), orNull = true),
    StaticFn("rtf_text", "RtfText.extract", str, StringType, orNull = true),
    // documents and containers
    StaticFn("pdf_text", "PdfText.extract", bin, StringType, orNull = true),
    StaticFn("pdf_doc", "PdfText.write", bin, BinaryType, orNull = false),
    StaticFn("epub_text", "EpubText.epubText", bin, StringType, orNull = true),
    StaticFn("epub_doc", "EpubText.epubDoc", bin, BinaryType, orNull = false),
    StaticFn("zip_entries", "ZipDocx.entries", bin, ZipDocx.entriesType, orNull = true),
    StaticFn("zip_entry", "ZipDocx.entry", binStr, BinaryType, orNull = true),
    StaticFn("docx_text", "ZipDocx.docxText", bin, StringType, orNull = true),
    StaticFn("docx_doc", "ZipDocx.docxDoc", bin, BinaryType, orNull = false),
    StaticFn("xlsx_text", "ZipDocx.xlsxText", bin, StringType, orNull = true),
    StaticFn("xlsx_doc", "ZipDocx.xlsxDoc", bin, BinaryType, orNull = false),
    StaticFn("pptx_text", "ZipDocx.pptxText", bin, StringType, orNull = true),
    StaticFn("pptx_doc", "ZipDocx.pptxDoc", bin, BinaryType, orNull = false),
    StaticFn("tar_entries", "TarWalk.entries", bin, TarWalk.entriesType, orNull = true),
    StaticFn("tar_entry", "TarWalk.entry", binStr, BinaryType, orNull = true),
    StaticFn("tar_pack", "TarWalk.pack", bin, BinaryType, orNull = false),
    StaticFn("tar_build", "TarBuild.build", Seq(TarBuild.membersType), BinaryType, orNull = false),
    StaticFn("tex_text", "TexText.extract", str, StringType, orNull = false),
    StaticFn("svg_text", "SvgText.extract", bin, StringType, orNull = true),
    StaticFn("arrow_audit", "ArrowIpc.audit", bin, ArrowIpc.auditSchema, orNull = true),
    StaticFn("arrow_col_i64", "ArrowIpc.colI64", binStr,
      ArrayType(LongType, containsNull = true), orNull = true),
    StaticFn("arrow_col_f64", "ArrowIpc.colF64", binStr,
      ArrayType(DoubleType, containsNull = true), orNull = true),
    StaticFn("arrow_col_str", "ArrowIpc.colStr", binStr,
      ArrayType(StringType, containsNull = true), orNull = true),
    StaticFn("parquet_footer", "ParquetMeta.parse", bin, ParquetMeta.schema, orNull = true),
    StaticFn("tfrecord_entries", "TfRecord.entries", bin, TfRecord.entriesType, orNull = true),
    StaticFn("tfrecord_payloads", "TfRecord.payloads", bin,
      ArrayType(BinaryType, containsNull = false), orNull = true),
    StaticFn("tf_example_features", "TfExample.parse", bin, TfExample.schema, orNull = true),
    // images
    StaticFn("image_header", "ImageHeader.parse", bin, ImageHeader.schema, orNull = true),
    StaticFn("image_ahash", "ImageHash.ahash", bin, LongType, orNull = true),
    StaticFn("image_dhash", "ImageHash.dhash", bin, LongType, orNull = true),
    StaticFn("image_resize_gray", "ImageHash.resizeGray", Seq(BinaryType, IntegerType, IntegerType),
      ArrayType(IntegerType, containsNull = false), orNull = true),
    StaticFn("image_phash", "ImageHash.phash", bin, LongType, orNull = true),
    StaticFn("png_encode_gray", "PngEncodeGray.encode",
      Seq(ArrayType(IntegerType), IntegerType, IntegerType), BinaryType, orNull = true),
    StaticFn("jpeg_color_stats", "JpegColorStats.eval", bin, JpegColorStats.schema, orNull = true),
    StaticFn("jpeg_rgb_stats", "JpegRgbStats.eval", bin, JpegRgbStats.schema, orNull = true),
    StaticFn("jpeg_exif_orientation", "ExifMeta.orientation", bin, IntegerType, orNull = true),
    StaticFn("jpeg_gps", "ExifMeta.gps", bin, ExifMeta.gpsSchema, orNull = true),
    StaticFn("avif_meta", "AvifMeta.meta", bin, AvifMeta.schema, orNull = true),
    StaticFn("ico_entries", "IcoMeta.entries", bin, IcoMeta.entriesType, orNull = true),
    // audio
    StaticFn("audio_header", "AudioHeader.parse", bin, AudioHeader.schema, orNull = true),
    StaticFn("audio_pcm_stats", "AudioPcmStats.stats", bin, AudioPcmStats.schema, orNull = true),
    StaticFn("audio_pcm_downmix", "AudioPcmStats.statsDownmix", bin,
      AudioPcmStats.schema, orNull = true),
    StaticFn("audio_g711_stats", "AudioPcmStats.statsG711", bin,
      AudioPcmStats.schema, orNull = true),
    StaticFn("audio_flac_stats", "AudioFlacStats.stats", bin, AudioPcmStats.schema, orNull = true),
    StaticFn("audio_aiff_stats", "AiffStats.stats", bin, AiffStats.schema, orNull = true),
    StaticFn("adpcm_to_pcm", "ImaAdpcm.decode", bin, BinaryType, orNull = true),
    StaticFn("msadpcm_to_pcm", "MsAdpcm.decode", bin, BinaryType, orNull = true),
    StaticFn("audio_mel", "AudioMel.mel", bin,
      ArrayType(LongType, containsNull = false), orNull = true),
    StaticFn("audio_mel_frames", "AudioMel.melFrames", bin,
      ArrayType(ArrayType(LongType, containsNull = false), containsNull = false), orNull = true),
    StaticFn("audio_frame_energy", "AudioMel.frameEnergies", bin,
      ArrayType(LongType, containsNull = false), orNull = true),
    StaticFn("audio_resample", "AudioResample.resample", binInt, BinaryType, orNull = true),
    StaticFn("audio_mpeg_meta", "MpegMeta.parse", bin, MpegMeta.schema, orNull = true),
    StaticFn("audio_adts_meta", "MpegMeta.adtsParse", bin, MpegMeta.adtsSchema, orNull = true),
    StaticFn("mp3_sideinfo", "MpegMeta.sideInfo", bin, MpegMeta.sideSchema, orNull = true),
    StaticFn("mp3_xing", "MpegMeta.xingParse", bin, MpegMeta.xingSchema, orNull = true),
    StaticFn("id3_tags", "MpegMeta.id3Tags", bin, MpegMeta.id3Schema, orNull = true),
    StaticFn("id3v1_tags", "MpegMeta.id3v1Tags", bin, MpegMeta.id3v1Schema, orNull = true),
    StaticFn("audio_ogg_meta", "OggMeta.parse", bin, OggMeta.schema, orNull = true),
    StaticFn("audio_ogg_tags", "OggMeta.parseTags", bin, OggMeta.tagsSchema, orNull = true),
    // video
    StaticFn("video_header", "VideoHeader.parse", bin, VideoHeader.schema, orNull = true),
    StaticFn("video_frame_sample", "VideoFrames.sample", binInt, VideoFrames.schema, orNull = true),
    StaticFn("video_frame_ahash", "VideoFrames.sampleHash", binInt,
      VideoFrames.hashSchema, orNull = true),
    StaticFn("video_webm_meta", "WebmMeta.parse", bin, WebmMeta.schema, orNull = true)
  )

  /** The functions with an expression class of their own: vector-kind
    * dispatch, plan-time sizes, an aggregate, a non-propagating argument,
    * and Spark's own bloom-filter pair (the machinery behind AQE's runtime
    * filters), callable so an operator can build a filter on a dimension's
    * keys and prune a fact scan before the join shuffle:
    * bloom_agg(xxhash64(key), estimatedItems, numBits) → sketch,
    * might_contain(sketch, xxhash64(key)) → boolean.
    */
  private val specials: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", es => DotProduct(es(0), es(1))),
    ("cosine_sim", es => CosineSim(es(0), es(1))),
    ("vec_dot_int", es => DotProductInt(es(0), es(1))),
    ("vec_norm_l2", es => L2Norm(es.head)),
    ("graft_minhash_sig", es =>
      MinHashSig(es(0), intLit(es(1), "shingleN"), intLit(es(2), "numHashes"))),
    ("bloom_agg", es => BloomFilterAggregate(es(0), es(1), es(2), 0, 0)),
    ("might_contain", es => BloomFilterMightContain(es(0), es(1))),
    ("interp_state", es => InterpState(es.head, es.tail)),
    ("charset_detect", es => CharsetDetect(es(0), es(1)))
  )

  /** Each function's SQL name and expression builder, one entry per name. */
  val catalog: Seq[(String, Seq[Expression] => Expression)] =
    statics.map(f => f.name -> (f.build _)) ++ specials

  /** `graft_minhash_sig` takes its shingle size and hash count as literal
    * ints: they size the signature, so they must be fixed at plan time. */
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"graft_minhash_sig $what must be an integer literal, got $other")
  }
}
