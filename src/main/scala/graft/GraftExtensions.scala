package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions._

/** The engine's function catalog: every static native Catalyst expression,
  * installed session-wide by [[GraftSession]] through
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Every name resolves in SQL, `expr()` and `call_function` on every
  * session of the context, including `newSession()` and the clones a
  * streaming query runs its micro-batches on, with no per-session
  * registration. Only functions whose builder closes over query data
  * (`AvroOcf`, `BpeApply`, `EmbedSimHash`, `UnigramApply`,
  * `WordPieceApply`) register per query.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.catalog.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo("graft.functions", name), builder))
    }
}

object GraftExtensions {

  /** Each function's SQL name and expression builder, one entry per name. */
  val catalog: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // vectors, fingerprints, sketches, interpolation
    ("vec_dot", es => DotProduct(es(0), es(1))),
    ("cosine_sim", es => CosineSim(es(0), es(1))),
    ("vec_dot_int", es => DotProductInt(es(0), es(1))),
    ("vec_norm_l2", es => L2Norm(es.head)),
    ("simhash64", es => SimHash64(es.head)),
    ("graft_minhash_sig", es =>
      MinHashSig(es(0), intLit(es(1), "shingleN"), intLit(es(2), "numHashes"))),
    // Spark's own bloom-filter pair (the machinery behind AQE's runtime
    // filters), callable so an operator can build a filter on a dimension's
    // keys and prune a fact scan before the join shuffle:
    // bloom_agg(xxhash64(key), estimatedItems, numBits) → sketch,
    // might_contain(sketch, xxhash64(key)) → boolean
    ("bloom_agg", es => BloomFilterAggregate(es(0), es(1), es(2), 0, 0)),
    ("might_contain", es => BloomFilterMightContain(es(0), es(1))),
    ("zorder2", es => ZOrder2Expr(es(0), es(1))),
    ("interp_state", es => InterpState(es.head, es.tail)),
    // text
    ("graft_nfc", es => NfcNormalize(es.head)),
    ("sentence_split", es => SentenceSplit(es.head)),
    ("utf8_stats", es => Utf8Stats(es.head)),
    ("charset_detect", es => CharsetDetect(es(0), es(1))),
    ("charset_decode", es => CharsetDecodeExpr(es(0), es(1))),
    ("charset_encode", es => CharsetEncodeExpr(es(0), es(1))),
    ("idn_decode", es => IdnDecodeExpr(es.head)),
    // web crawl: compression, WARC/HTTP, HTML, robots, feeds, mail
    ("gzip_member", es => GzipMember(es.head)),
    ("gunzip_all", es => GunzipAll(es.head)),
    ("codec_probe", es => CodecProbe(es.head)),
    ("zunstd_all", es => ZstdDecompress(es.head)),
    ("zstd_frame", es => ZstdFrame(es.head)),
    ("decompress_any", es => DecompressAny(es.head)),
    ("zunstd_dict", es => ZstdDecompressDict(es(0), es(1))),
    ("bzip2_decompress", es => Bunzip2All(es.head)),
    ("xz_decompress", es => XzDecompress(es.head)),
    ("lz4_decompress", es => Lz4Decompress(es.head)),
    ("snappy_decompress", es => SnappyDecompress(es.head)),
    ("warc_records", es => WarcRecords(es.head)),
    ("http_body", es => HttpBody(es.head)),
    ("http_status", es => HttpStatus(es.head)),
    ("http_header", es => HttpHeader(es(0), es(1))),
    ("http_entity", es => HttpEntity(es.head)),
    ("http_entity_verdict", es => HttpEntityVerdict(es.head)),
    ("http_chunk_frame", es => HttpChunkFrame(es(0), es(1))),
    ("html_to_text", es => HtmlToText(es.head)),
    ("html_links", es => HtmlLinks(es.head)),
    ("html_anchors", es => HtmlAnchors(es.head)),
    ("html_images", es => HtmlImages(es.head)),
    ("html_meta", es => HtmlMeta(es.head)),
    ("html_og", es => HtmlOg(es.head)),
    ("html_jsonld", es => HtmlJsonLd(es.head)),
    ("html_segments", es => HtmlSegments(es.head)),
    ("html_blocks", es => HtmlBlocks(es.head)),
    ("html_tables", es => HtmlTablesExpr(es.head)),
    ("robots_rules", es => RobotsRules(es.head)),
    ("robots_match_len", es => RobotsMatchLen(es(0), es(1))),
    ("robots_sitemaps", es => RobotsSitemaps(es.head)),
    ("robots_crawl_delay", es => RobotsCrawlDelay(es(0), es(1))),
    ("feed_items", es => FeedItems(es.head)),
    ("subtitle_cues", es => SubtitleCues(es.head)),
    ("eml_text", es => EmlText(es.head)),
    ("mbox_messages", es => MboxMessages(es.head)),
    ("rtf_text", es => RtfTextExpr(es.head)),
    // documents and containers
    ("pdf_text", es => PdfTextExpr(es.head)),
    ("pdf_doc", es => PdfDocExpr(es.head)),
    ("epub_text", es => EpubTextExpr(es.head)),
    ("epub_doc", es => EpubDocExpr(es.head)),
    ("zip_entries", es => ZipEntriesExpr(es.head)),
    ("zip_entry", es => ZipEntryExpr(es(0), es(1))),
    ("docx_text", es => DocxTextExpr(es.head)),
    ("docx_doc", es => DocxDocExpr(es.head)),
    ("xlsx_text", es => XlsxTextExpr(es.head)),
    ("xlsx_doc", es => XlsxDocExpr(es.head)),
    ("pptx_text", es => PptxTextExpr(es.head)),
    ("pptx_doc", es => PptxDocExpr(es.head)),
    ("tar_entries", es => TarEntriesExpr(es.head)),
    ("tar_entry", es => TarEntryExpr(es(0), es(1))),
    ("tar_pack", es => TarPackExpr(es.head)),
    ("tar_build", es => TarBuildExpr(es.head)),
    ("tex_text", es => TexText(es.head)),
    ("svg_text", es => SvgTextExpr(es.head)),
    ("arrow_audit", es => ArrowAudit(es.head)),
    ("arrow_col_i64", es => ArrowColI64(es(0), es(1))),
    ("arrow_col_f64", es => ArrowColF64(es(0), es(1))),
    ("arrow_col_str", es => ArrowColStr(es(0), es(1))),
    ("parquet_footer", es => ParquetFooter(es.head)),
    ("tfrecord_entries", es => TfRecordEntries(es.head)),
    ("tfrecord_payloads", es => TfRecordPayloads(es.head)),
    ("tf_example_features", es => TfExampleFeatures(es.head)),
    // images
    ("image_header", es => ImageHeader(es.head)),
    ("image_ahash", es => AHash64(es.head)),
    ("image_dhash", es => DHash64(es.head)),
    ("image_resize_gray", es => ImageResizeGray(es(0), es(1), es(2))),
    ("image_phash", es => PHash64(es.head)),
    ("png_encode_gray", es => PngEncodeGray(es(0), es(1), es(2))),
    ("jpeg_color_stats", es => JpegColorStats(es.head)),
    ("jpeg_rgb_stats", es => JpegRgbStats(es.head)),
    ("jpeg_exif_orientation", es => JpegExifOrientation(es.head)),
    ("jpeg_gps", es => JpegGps(es.head)),
    ("avif_meta", es => AvifMetaExpr(es.head)),
    ("ico_entries", es => IcoEntriesExpr(es.head)),
    // audio
    ("audio_header", es => AudioHeader(es.head)),
    ("audio_pcm_stats", es => AudioPcmStats(es.head)),
    ("audio_pcm_downmix", es => AudioPcmDownmix(es.head)),
    ("audio_g711_stats", es => AudioG711Stats(es.head)),
    ("audio_flac_stats", es => AudioFlacStats(es.head)),
    ("audio_aiff_stats", es => AiffStats(es.head)),
    ("adpcm_to_pcm", es => AdpcmToPcm(es.head)),
    ("msadpcm_to_pcm", es => MsAdpcmToPcm(es.head)),
    ("audio_mel", es => AudioMelExpr(es.head)),
    ("audio_mel_frames", es => AudioMelFramesExpr(es.head)),
    ("audio_frame_energy", es => AudioFrameEnergyExpr(es.head)),
    ("audio_resample", es => AudioResampleExpr(es(0), es(1))),
    ("audio_mpeg_meta", es => MpegAudioMeta(es.head)),
    ("audio_adts_meta", es => AdtsAudioMeta(es.head)),
    ("mp3_sideinfo", es => Mp3SideInfo(es.head)),
    ("mp3_xing", es => Mp3Xing(es.head)),
    ("id3_tags", es => Id3Tags(es.head)),
    ("id3v1_tags", es => Id3v1Tags(es.head)),
    ("audio_ogg_meta", es => OggAudioMeta(es.head)),
    ("audio_ogg_tags", es => OggAudioTags(es.head)),
    // video
    ("video_header", es => VideoHeader(es.head)),
    ("video_frame_sample", es => VideoFrameSample(es(0), es(1))),
    ("video_frame_ahash", es => VideoFrameAHash(es(0), es(1))),
    ("video_webm_meta", es => WebmVideoMeta(es.head))
  )

  /** `graft_minhash_sig` takes its shingle size and hash count as literal
    * ints: they size the signature, so they must be fixed at plan time. */
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"graft_minhash_sig $what must be an integer literal, got $other")
  }
}
