package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.UrlOps
import MmFixtures.le

/** Remaining SURVEY §2 operators not covered by the other packs: window
  * label means / validity (A2/A3), weighted epoch loss (A10), array pooling
  * (A12), sorted-distinct (O2), deterministic splits (M5), duration parse /
  * format scalar functions (F5/F6/F13/F14), multimodal binary metadata.
  */
object ExtraQueries extends QueryPack {

  // --- shared BMP fixture (mm_image_dedup + mm_image_resize) ---
  // 54-byte header: BM, fileSize 3510, dataOffset 54, BITMAPINFOHEADER
  // 40, 72×16, 1 plane, 24bpp, BI_RGB, imageSize 3456
  private val bmpHdrHex =
    "424DB60D0000000000003600000028000000480000001000000001001800" +
      "00000000800D000000000000000000000000000000000000"
  // grayscale value at (x, image-row y): r=g=b=v so luma==v. The
  // (g div 200)·(position) term keeps pattern diversity growing with
  // the corpus: without it every g ≡ g' (mod 200) pair shares an
  // identical base image and the pair output goes quadratic at 100×
  // (identical-image classes stay O(corpus/40000) with it)
  private val bmpVSql =
    """(((doc_id div 2) * 37
      | + ((doc_id div 2) div 200) * (x div 9 + 3 * (y div 2) + 1)
      | + (x div 9) * 23 + (y div 2) * 41) % 200
      | + (CASE WHEN doc_id % 2 = 1 AND x div 9 = (doc_id div 2) % 8
      |    AND y div 2 = ((doc_id div 2) div 8) % 8 THEN 25 ELSE 0 END))"""
      .stripMargin.replace("\n", "")
  // stored rows bottom-up: row k holds image row y=15-k. v is constant
  // across each 9-px block, so one hex repeat covers 27 bytes (9 px ×
  // BGR) — 128 string ops per doc instead of 1152
  private val bmpPixelsSql =
    s"""array_join(transform(sequence(0, 15), k ->
       |  array_join(transform(sequence(0, 7), bx ->
       |    repeat(lpad(hex(${bmpVSql.replace("x div 9", "bx")
           .replace("y", "(15 - k)")}), 2, '0'), 27)
       |  ), '')), '')""".stripMargin.replace("\n", "")

  /** 32×32 24-bit BMP for the pHash query (cells grid == pixels, so the
    * oracle replays the DCT straight from the pixel formula). Header:
    * 54-byte BM + BITMAPINFOHEADER, 32×32, bottom-up, stride 96 (no
    * padding).
    */
  private val phashHdrHex =
    "424D360C0000000000003600000028000000200000002000000001001800" +
      "00000000000C000000000000000000000000000000000000"

  /** Gray value at (x, image-row y): a gradient plus a doc-keyed block
    * term — enough AC structure that every coefficient sign is
    * informative. r=g=b=v so luma==v exactly.
    */
  private val phashVSql =
    "((x * 3 + y * 5 + (doc_id % 97) * (1 + x div 8 + y div 8)) % 256)"

  private val phashPxSql =
    s"""array_join(transform(sequence(0, 31), k ->
       |  array_join(transform(sequence(0, 31), x ->
       |    repeat(lpad(hex(${phashVSql.replace("y", "(31 - k)")}), 2, '0'), 3)
       |  ), '')), '')""".stripMargin.replace("\n", "")

  /** The engine's own fixed-point DCT rows (u < 8), injected verbatim
    * into the oracle as a VALUES table — one shared integer basis, no
    * libm on either side.
    */
  private lazy val phashCoefSql =
    graft.functions.ImageHash.dctCoef.zipWithIndex.flatMap {
      case (row, u) => row.zipWithIndex.map { case (c, y) => s"($u, $y, $c)" }
    }.mkString(", ")
  private val webpFx_literals =
    "5249464686020000574542505650384C790200002F0FC002008008000000020000000000000000000000000000000000" +
      "0000000000000000000000000000600302000000080800000020FA5F007474741E1E1E4343C3B0B0B0EAEAEA858585D7" +
      "D7572C2C2C7E7E7E131393C8C8C8BABABAE5E5E58F8F0F5C5C5C2121212525257777F79C9C9CC1C1C1B3B33368686806" +
      "06065555552F2FAFFCFCFC919191CBCB4B3838386666660D0D0D5F5FDFD8D8D8A6A6A6F5F5F59F9F1F4242423131316B" +
      "6BEB848484D6D6D6ADADADFFFF7F1212124949493B3BBBE4E4E48E8E8E898989DBDB5B2424247676761D1D9DC0C0C0B2" +
      "B2B2E9E9E98787075454542E2E2E7D7DFD909090CACACAB9B9B9E7E7676060600A0A0A5959592727A7F4F4F49E9E9EC3" +
      "C3433030306A6A6A0505055757D7ACACACFEFEFE9393134848483A3A3A3E3E3E6363E3888888DADADAA5A5A5F7F7771C" +
      "1C1C4141413333B3E8E8E8868686D5D5D5AFAF2F7C7C7C1111114B4B4B4F4FCFBCBCBCE1E1E18B8B0B58585826262675" +
      "75751F1F9FC2C2C2B1B1B1EBEB6B0404045656562D2D2D7F7FFF929292969696CDCDCDBFBF3F6262620909095B5BDBA4" +
      "A4A4F6F6F69D9D1D404040323232696969070787D4D4D4AEAEAEFDFDFDFBFB7B1414144E4E4E3D3DBDE0E0E08A8A8AD9" +
      "D9D9A7A7277474741E1E1E4343C3B0B0B0EAEAEA858585D7D7572C2C2C2A2A2A797979171797CCCCCCBEBEBEE3E36308" +
      "08085A5A5A2525257777F79C9C9CC1C1C1B3B3336868680606065555555353D3A8A8A8FAFAFA959595CFCF4F3C3C3C61" +
      "61610B0B8BD8D8D8A6A6A6F5F5F59F9F1F4242423131316B6BEB848484828282D1D1D1ABAB2B7878781616164D4D4D3F" +
      "3FBFE2E2E2898989DBDB5B2424247676761D1D9DC0C0C0B2B2B2E9E96900"
  private val webpFx_subgreen =
    "52494646FE000000574542505650384CF20000002F0FC002000544000000100000000000000000000000000000000000" +
      "0000000000000000000000000000001B052840FF0B80CE631856BDF08AC56F1259B7FC812BA4E49E337806CDA0EA953F" +
      "7209C7ACE11BDBB4FE4328669DD0BAF54F226997DC31718BC4AE135836FD80CAA51F5239F70C4C21EB94DE730846ADE0" +
      "9AD57F0249C7671C51BBF48E236816DDB0FA852F62E999377C01CBA4EE5338768DC0AAE55FD2B2F9472C619BD4BE0348" +
      "26ED90DAB57F8FC2A9175C31FB84CE631856BDF08A4525EF92D9770C41ABE49E337806CDA06A1A55BFF289276C11DBB4" +
      "FE4328669D50307A05CFA2E9573C718BC4AE1358360D"
  private val webpFx_palette4 =
    "52494646B6000000574542505650384CAA0000002F0FC002001F00110000000400000000000000000000000000000000" +
      "000000000000000000000000000000C00604000000101000000040400000000051002828A87F1E1E1E001E1E1E003131" +
      "310040040000000100000000000000000000000000000000000000000000000000000000000000B051800214A0002727" +
      "27279C9C9C9C72727272C9C9C9C9272727279C9C9C9C72727272C9C9C9C9272727279C9C9C9C72727272C9C9C9C9"
  private val webpFx_palette20 =
    "5249464686010000574542505650384C7A0100002F0FC002009F00110000000400000000000000000000000000000000" +
      "000000000000000000000000000000C00604000000101000000040400000000051005050D07F18181800181818001818" +
      "180018181800181818001818180018181800181818001818180018181800181818001818180018181800181818001818" +
      "180018181800181818001818180018181800400400000001000000000000000000000000000000000000000000000000" +
      "00000000000000B051800214A00000C0609030F0488020E050B008C840A08020E050B008C840A010D0708800C06040A0" +
      "10D0708800C0609030F0488020E0C0609030F0488020E050B008C840A01020E050B008C840A010D0708800C06090A010" +
      "D0708800C0609030F0488020E050609030F0488020E050B008C840A010D0E050B008C840A010D0708800C060903010D0" +
      "708800C0609030F0488020E050B09030F0488020E050B008C840A010D07050B008C840A010D0708800C0609030F0D070" +
      "8800C0609030F0488020E050B008"
  private val webpFx_lz77 =
    "52494646AE000000574542505650384CA20000002F0FC002009012000000240000000000000000000000000000000000" +
      "0000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000080D1" +
      "0B10000000404000000000D17F802014E8404747E7E1E13134340C0B0BABAEAE5E5858787D7DC5C2C2E2E7E737313189" +
      "8C8CACABAB5B5E5EFEF8F8C0C5C5151212FABFFF3FFEEFFF8FFFFBFFE3FFFEFFF8BFFF3FFE0F"
  private val webpFx_cache =
    "5249464654000000574542505650384C480000002F0FC002001AA100A2933F4ABC9D2C8E227D14E9FE1700BCBBBBBBEF" +
      "EEEEEEBABBBBBBEFEEEEEEBABBBBBBEFEEEEEEBABBBBBBEFEEEEEEBABBBBBBEFEEEEEEBABBBBBBEFEEEEEE00"
  private val webpFx_pred_top =
    "5249464652030000574542505650384C450300002F0FC00200910A14A000052800200200008000000000000000000000" +
      "00000000000000000000000000000000000000000000D8800000000002020000000808000000200A808E8E0E404A4A0A" +
      "404A4A0A404A4A0A404A4A0A404A4A0A404A4A0A404A4A0A404A4A0A404A4A0A404A4A0A404A4A0A404A4A0A404A4A0A" +
      "404A4A0A404A4A0AC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D" +
      "C0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D" +
      "C0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D" +
      "C0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D" +
      "C0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D" +
      "C0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D" +
      "C0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D" +
      "C0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D" +
      "C0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D" +
      "C0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D" +
      "C0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D" +
      "C0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D" +
      "C0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D" +
      "C0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D" +
      "C0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0DC0CDCD0D0000"

  private val webpFixtures = Seq(
    ("literals", webpFx_literals), ("subgreen", webpFx_subgreen),
    ("palette4", webpFx_palette4), ("palette20", webpFx_palette20),
    ("lz77", webpFx_lz77), ("cache", webpFx_cache),
    ("pred_top", webpFx_pred_top))
  /** Construction-side EBML builder (the OggCfg posture for WebM):
    * shortest-form element IDs, 1-byte sizes (payloads stay < 127
    * bytes by construction), big-endian uints/floats per RFC 8794.
    * The INDEPENDENT-writer direction is covered by WebmMetaSpec's
    * python fixtures (tools/gen_webm_fixtures.py).
    */
  private object WebmFx {
    private def idBytes(eid: Long): Array[Byte] = {
      val nid = (64 - java.lang.Long.numberOfLeadingZeros(eid) + 7) / 8
      (0 until nid).reverse.map(i => ((eid >> (8 * i)) & 0xff).toByte).toArray
    }
    def elem(eid: Long, payload: Array[Byte]): Array[Byte] = {
      require(payload.length < 127, "1-byte vint size only")
      idBytes(eid) ++ Array((payload.length | 0x80).toByte) ++ payload
    }
    def uint(v: Long): Array[Byte] = {
      val n = math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8)
      (0 until n).reverse.map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    }
    def f64(d: Double): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).putDouble(d).array()
    def f32(d: Float): Array[Byte] =
      java.nio.ByteBuffer.allocate(4).putFloat(d).array()
    def header(docType: String): Array[Byte] =
      elem(0x1A45DFA3L, elem(0x4286L, uint(1)) ++ elem(0x42F7L, uint(1)) ++
        elem(0x4282L, docType.getBytes))
    def video(codec: String, w: Int, h: Int): Array[Byte] =
      elem(0xAEL, elem(0x83L, uint(1)) ++ elem(0x86L, codec.getBytes) ++
        elem(0xE0L, elem(0xB0L, uint(w)) ++ elem(0xBAL, uint(h))))
    def audio(codec: String, rate: Float, ch: Int): Array[Byte] =
      elem(0xAEL, elem(0x83L, uint(2)) ++ elem(0x86L, codec.getBytes) ++
        elem(0xE1L, elem(0xB5L, f32(rate)) ++ elem(0x9FL, uint(ch))))
    def info(durTicks: Double, tcScale: Long = -1L): Array[Byte] =
      elem(0x1549A966L,
        (if (tcScale > 0) elem(0x2AD7B1L, uint(tcScale)) else Array.empty[Byte])
          ++ elem(0x4489L, f64(durTicks)))
    def segment(payload: Array[Byte]): Array[Byte] =
      elem(0x18538067L, payload)
    def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02X").mkString
  }

  /** (streamHex, docType, durMs, vCodec, w, h, aCodec, rate, ch) — the
    * four WebM constructions the query selects by doc_id%4.
    */
  private lazy val webmCfgs: Seq[(String, String, java.lang.Long, String,
      java.lang.Integer, java.lang.Integer, String, java.lang.Integer,
      java.lang.Integer)] = {
    import WebmFx._
    Seq(
      (hex(header("webm") ++ segment(info(12345.0) ++
        elem(0x1654AE6BL, video("V_VP9", 1920, 1080) ++
          audio("A_OPUS", 48000f, 2)))),
        "webm", 12345L, "V_VP9", 1920, 1080, "A_OPUS", 48000, 2),
      (hex(header("webm") ++ segment(info(2000.0, tcScale = 500000L) ++
        elem(0x1654AE6BL, video("V_VP8", 640, 360) ++
          audio("A_VORBIS", 44100f, 1)))),
        "webm", 1000L, "V_VP8", 640, 360, "A_VORBIS", 44100, 1),
      (hex(header("matroska") ++ segment(
        elem(0x1654AE6BL, video("V_MPEG4/ISO/AVC", 1280, 720)))),
        "matroska", null, "V_MPEG4/ISO/AVC", 1280, 720, null, null, null),
      (hex(header("webm") ++ segment(info(500.0) ++
        elem(0x1654AE6BL, audio("A_OPUS", 24000f, 1)))),
        "webm", 500L, null, null, null, "A_OPUS", 24000, 1))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A2+A3: per-(user, 10-min bucket) null-ignoring label mean with
    // all-null → 0.0, plus finite-cell validity ratio (reference
    // model/vesc_dataset.py:114-117,150-155).
    "a2_label_mean_a3_valid" -> ((s, dir) => {
      val conf = when(col("event_type") === "purchase", col("value") / 20)
      Tables.events(s, dir)
        .withColumn("bucket", expr("unix_micros(ts) div 600000000"))
        .withColumn("conf", conf)
        .groupBy(col("user_id"), col("bucket"))
        .agg(
          round(coalesce(sum(col("conf")), lit(0.0)) /
            greatest(count(col("conf")), lit(1L)).cast("double"), 4).as("label_mean"),
          round(count(col("value")).cast("double") / count(lit(1)).cast("double"), 4)
            .as("valid_ratio"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id"), col("bucket"))
    }),

    // A10: epoch loss — weighted mean of per-batch losses by labeled count
    // (reference model/model_training.py:115-139): weight = json k field.
    "a10_weighted_loss" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg((floor((sum(col("value") * col("k")) / sum(col("k"))) * 10000 + lit(0.5)) / 10000.0)
          .as("weighted_loss"),
          sum(col("k")).as("total_w"))
        .orderBy(col("event_type"))
    }),

    // A12: per-row global average pool over the embedding array (reference
    // AdaptiveAvgPool1d, model/model_training.py:93) then grouped.
    "a12_mean_pool" -> ((s, dir) => {
      val pool = aggregate(transform(col("embedding"), x => x.cast("double")),
        lit(0.0), (acc, x) => acc + x) / size(col("embedding")).cast("double")
      Tables.embeddings(s, dir)
        .withColumn("pooled", floor(pool * 10000 + lit(0.5)) / 10000.0)
        .select(col("vec_id"), col("pooled"))
        .orderBy(col("vec_id"))
    }),

    // O2: sorted-distinct value list (reference model/data_utils.py:15).
    "o2_sorted_distinct" -> ((s, dir) => {
      Tables.events(s, dir).select(col("event_type")).distinct()
        .orderBy(col("event_type"))
    }),

    // M5: deterministic whole-key split assignment, no leakage (reference
    // model/build_data_splits.py:6-41) — every user lands in exactly one
    // split by key hash (modulo here for portability).
    "m5_split_by_key" -> ((s, dir) => {
      val split = when(pmod(col("user_id"), lit(10)) === 0, "test")
        .when(pmod(col("user_id"), lit(10)) === 1, "val")
        .otherwise("train")
      Tables.events(s, dir)
        .withColumn("split", split)
        .groupBy(col("split"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
        .orderBy(col("split"))
    }),

    // F5/F6: duration-string parse ("+H:MM:SS.s" forms, leading + stripped,
    // reference training_apply_behavior_annotations.py:5,19-24) — built
    // from the f7-style formatter and round-tripped back to millis.
    "f5_duration_parse" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      val ev = Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts")) - min(unix_micros(col("ts"))).over(w))
        .withColumn("vts", expr(
          "printf('+%02d:%02d:%02d.%d', us div 3600000000, (us div 60000000) % 60, (us div 1000000) % 60, (us div 100000) % 10)"))
      val stripped = regexp_replace(col("vts"), "^\\+", "")
      val parts = split(stripped, ":")
      val secParts = split(element_at(parts, 3), "\\.")
      val parsedMs = (element_at(parts, 1).cast("long") * 3600000L +
        element_at(parts, 2).cast("long") * 60000L +
        element_at(secParts, 1).cast("long") * 1000L +
        element_at(secParts, 2).cast("long") * 100L)
      ev.withColumn("parsed_ms", parsedMs)
        .withColumn("roundtrip_ok", col("parsed_ms") === expr("(us div 100000) * 100"))
        .select(col("event_id"), col("parsed_ms"), col("roundtrip_ok"))
        .orderBy(col("event_id"))
    }),

    // F13/F14: mm:ss axis formatting of seconds-from-start (reference
    // application/app.py:156-168).
    "f13_mmss_axis" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, dir)
        .withColumn("tsec",
          ((unix_micros(col("ts")) - min(unix_micros(col("ts"))).over(w)) / lit(1000000L)).cast("long"))
        .withColumn("axis", expr("printf('%d:%02d', tsec div 60, tsec % 60)"))
        .groupBy(col("user_id"))
        .agg(max(col("axis")).as("max_axis"), count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    }),

    // Multimodal metadata over binary columns: byte length + sha256 of the
    // utf-8 encoded text blob (decode stub is ScalaTest-covered; this is
    // the schema/metadata contract).
    "mm_binary_meta" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("blob", encode(col("text"), "UTF-8").cast("binary"))
        .select(col("doc_id"),
          octet_length(col("blob")).cast("long").as("n_bytes"),
          lower(sha2(col("blob"), 256)).as("sha_hex"))
        .orderBy(col("doc_id"))
    }),

    // Real header-only image decode (graft.functions.ImageHeader): PNG /
    // SVG metadata branch of image_header — the XML-text image format
    // (top-5 on the web) that binary magics never match: plain dims,
    // BOM + XML declaration + commented-out decoy tag + px suffixes,
    // DOCTYPE + viewBox fallback with mixed separators, fractional
    // dims flooring; a percentage width and a 3-number viewBox refuse
    // to null. Ground truth is arithmetic, as in mm_image_meta.
    "mm_image_svg_meta" -> ((s, dir) => {
      val w = (col("doc_id") % 640 + 1).cast("int").cast("string")
      val h = (col("doc_id") % 480 + 1).cast("int").cast("string")
      val svg0 = concat(
        lit("<svg xmlns=\"http://www.w3.org/2000/svg\" width=\""), w,
        lit("\" height=\""), h, lit("\"><rect/></svg>"))
      val svg1 = concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"),
        lit("<!-- <svg width='9' height='9'> -->\n<svg width='"), w,
        lit("px' height='"), h, lit("px'><circle/></svg>"))
      val svg2 = concat(
        lit("<!DOCTYPE svg PUBLIC \"-//W3C//DTD SVG 1.1//EN\" \"svg11.dtd\">\n"),
        lit("<svg viewBox=\"0,0, "), w, lit(" "), h, lit("\"><g/></svg>"))
      val svg3 = concat(lit("<svg width=\""), w, lit(".75\" height=\""), h,
        lit(".25\"/>"))
      val txt = when(col("doc_id") % 9 === 0,
          lit("<svg width=\"100%\" height=\"50\"/>"))
        .when(col("doc_id") % 9 === 4, lit("<svg viewBox=\"0 0 100\"/>"))
        .when(col("doc_id") % 4 === 0, svg0)
        .when(col("doc_id") % 4 === 1, svg1)
        .when(col("doc_id") % 4 === 2, svg2)
        .otherwise(svg3)
      val blob = when(col("doc_id") % 9 =!= 0 && col("doc_id") % 9 =!= 4 &&
          col("doc_id") % 4 === 1,
        concat(unhex(lit("EFBBBF")), txt.cast("binary")))
        .otherwise(txt.cast("binary"))
      Tables.documents(s, dir)
        .withColumn("blob", blob)
        .selectExpr("doc_id", "image_header(blob) AS m")
        .select(col("doc_id"),
          col("m").isNotNull.as("ok"),
          col("m.format").as("format"),
          col("m.width").as("width"),
          col("m.height").as("height"))
        .orderBy(col("doc_id"))
    }),

    // SVG VISIBLE-TEXT extraction (svg_text) — infographic/diagram
    // language lifted out of <text>/<tspan>/<textPath>, with <defs>
    // subtrees, <style>/<script> bodies, <title>/<desc> metadata, and
    // commented-out decoys all excluded; entities decode via the
    // html_to_text reference rules so SVG text dedups identically to
    // HTML text. Non-SVG bytes refuse to null.
    "mm_image_svg_text" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val svg = concat(
        lit("<?xml version=\"1.0\"?>\n<svg xmlns=\"http://www.w3.org/2000/svg\">"),
        lit("<title>meta title</title><desc>meta desc</desc>"),
        lit("<!-- <text>decoy</text> -->"),
        lit("<style>.a { fill: red; }</style>"),
        lit("<defs><text>hidden symbol label</text></defs>"),
        lit("<text x=\"0\"><tspan>Label &amp; "), id,
        lit("</tspan> <tspan>unit "), (col("doc_id") % 7).cast("string"),
        lit("</tspan></text>"),
        lit("<rect width=\"4\" height=\"4\"/>"),
        lit("<text><textPath href=\"#p\">curved "),
        (col("doc_id") % 5).cast("string"), lit("</textPath></text></svg>"))
      val txt = when(col("doc_id") % 9 === 0, lit("not an svg at all"))
        .otherwise(svg)
      Tables.documents(s, dir)
        .withColumn("blob", txt.cast("binary"))
        .selectExpr("doc_id", "svg_text(blob) AS svg_text")
        .select(col("doc_id"),
          col("svg_text").isNotNull.as("ok"),
          col("svg_text"))
        .orderBy(col("doc_id"))
    }),

    // JPEG / GIF containers are SYNTHESIZED with dimensions derived from
    // doc_id (width = id%640+1, height = id%480+1), so the oracle states
    // ground truth by arithmetic while the engine must actually parse the
    // bytes — including a JPEG marker walk over a COM segment whose length
    // varies per row (id%5 padding bytes). One codegen'd scan-side
    // expression; no UDF, no shuffle.
    "mm_image_meta" -> ((s, dir) => {
      val w = (col("doc_id") % 640 + 1).cast("int")
      val h = (col("doc_id") % 480 + 1).cast("int")
      val be16 = (c: Column) => lpad(hex(c), 4, "0")
      val be32 = (c: Column) => lpad(hex(c), 8, "0")
      val le16 = (c: Column) => concat(
        lpad(hex(pmod(c, lit(256))), 2, "0"),
        lpad(hex((c.cast("long") / 256).cast("int")), 2, "0"))
      val pngHex = concat(lit("89504E470D0A1A0A0000000D49484452"),
        be32(w), be32(h), lit("0806000000"))
      val jpegHex = concat(lit("FFD8FFFE"),
        be16((col("doc_id") % 5).cast("int") + lit(2)),
        expr("repeat('41', cast(doc_id % 5 as int))"),
        lit("FFC0001108"), be16(h), be16(w))
      val gifHex = concat(lit("474946383961"), le16(w), le16(h), lit("F70000"))
      Tables.documents(s, dir)
        .withColumn("blob", unhex(
          when(col("doc_id") % 3 === 0, pngHex)
            .when(col("doc_id") % 3 === 1, jpegHex)
            .otherwise(gifHex)))
        .selectExpr("doc_id", "image_header(blob) AS m")
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.width").as("width"), col("m.height").as("height"))
        .orderBy(col("doc_id"))
    }),

    // TIFF IFD walk - the scanned-document image container: per document
    // a TIFF header in one of four constructions (LE/BE x SHORT/LONG
    // dimension types, an offset IFD behind pad bytes, an extra
    // BitsPerSample entry the walk must step over) read back by
    // image_header's IFD0 walk; doc_id%7=0 rows carry magic 43 and must
    // refuse to null. The oracle states width/height by arithmetic.
    "mm_image_tiff_meta" -> ((s, dir) => {
      def be(x: String, bytes: Int) = s"lpad(hex($x), ${2 * bytes}, '0')"
      val wS = "(doc_id % 800 + 1)"
      val hS = "(doc_id % 600 + 1)"
      def tagLe(t: Int) = f"${t & 0xff}%02X${(t >> 8) & 0xff}%02X"
      def tagBe(t: Int) = f"$t%04X"
      // 12-byte IFD entries, count 1, value left-justified
      def eLeS(t: Int, v: String) =
        s"concat('${tagLe(t)}', '0300', '01000000', ${le(v, 2)}, '0000')"
      def eLeL(t: Int, v: String) =
        s"concat('${tagLe(t)}', '0400', '01000000', ${le(v, 4)})"
      def eBeS(t: Int, v: String) =
        s"concat('${tagBe(t)}', '0003', '00000001', ${be(v, 2)}, '0000')"
      def eBeL(t: Int, v: String) =
        s"concat('${tagBe(t)}', '0004', '00000001', ${be(v, 4)})"
      val cfg0 = s"concat('49492A00', '08000000', '0200', " +
        s"${eLeS(256, wS)}, ${eLeS(257, hS)}, '00000000')"
      val cfg1 = s"concat('4D4D002A', '00000008', '0002', " +
        s"${eBeL(256, wS)}, ${eBeL(257, hS)}, '00000000')"
      val cfg2 = s"concat('49492A00', '10000000', 'DEADBEEF00000000', " +
        s"'0200', ${eLeL(256, wS)}, ${eLeL(257, hS)}, '00000000')"
      val cfg3 = s"concat('4D4D002A', '00000008', '0003', " +
        s"${eBeS(258, "8")}, ${eBeS(256, wS)}, ${eBeS(257, hS)}, '00000000')"
      val blobHex =
        s"""CASE WHEN doc_id % 7 = 0 THEN '49492B0008000000'
           |WHEN doc_id % 4 = 0 THEN $cfg0
           |WHEN doc_id % 4 = 1 THEN $cfg1
           |WHEN doc_id % 4 = 2 THEN $cfg2
           |ELSE $cfg3 END""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($blobHex)"))
        .selectExpr("doc_id", "image_header(blob) AS m")
        .select(col("doc_id"),
          col("m").isNotNull.as("ok"),
          col("m.format").as("format"),
          col("m.width").as("width"),
          col("m.height").as("height"))
        .orderBy(col("doc_id"))
    }),


    // VP8L (lossless WebP) PIXEL decode - the fourth web-image container
    // joins the perceptual-dedup surface: seven committed fixtures from
    // an INDEPENDENT python VP8L encoder (flat code-length-coded trees,
    // subtract-green, bundled + plain palettes, LZ77 via plain AND 2D
    // distance codes, the color cache, the predictor transform) decoded
    // scan-side to their 16x12 rasters; every gray is a closed form of
    // (img, x, y) the oracle restates without touching a byte.
    "mm_image_webp" -> ((s, dir) => {
      import s.implicits._
      webpFixtures.toDF("img", "blob_hex")
        .selectExpr("img", "image_resize_gray(unhex(blob_hex), 16, 12) AS g")
        .select(col("img"), posexplode(col("g")).as(Seq("pos", "gray")))
        .select(col("img"), (col("pos") % 16).as("x"),
          (col("pos") / 16).cast("int").as("y"), col("gray"))
        .orderBy(col("img"), col("pos"))
    }),

    // WebM/Matroska EBML walk - the dominant open web-video container
    // next to MP4: per document one of four constructions (webm/matroska
    // doctypes, video+audio / video-only / audio-only tracks, default
    // and non-default timecode scales) walked back by video_webm_meta;
    // doc_id%8=0 rows carry doctype 'webp' and must refuse to null. The
    // oracle states every output as a closed form of doc_id.
    "mm_video_webm_meta" -> ((s, dir) => {
      val streamCase = "CASE doc_id % 4 " + webmCfgs.zipWithIndex
        .map { case (c, i) => s"WHEN $i THEN '${c._1}'" }
        .mkString(" ") + " END"
      val badHex = WebmFx.hex(WebmFx.header("webp") ++
        WebmFx.segment(WebmFx.info(500.0)))
      val blobHex =
        s"""CASE WHEN doc_id % 8 = 0 THEN '$badHex'
           |ELSE $streamCase END""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($blobHex)"))
        .selectExpr("doc_id", "video_webm_meta(blob) AS m")
        .select(col("doc_id"),
          col("m").isNotNull.as("ok"),
          col("m.doc_type").as("doc_type"),
          col("m.duration_ms").as("duration_ms"),
          col("m.video_codec").as("video_codec"),
          col("m.width").as("width"),
          col("m.height").as("height"),
          col("m.audio_codec").as("audio_codec"),
          col("m.sample_rate").as("sample_rate"),
          col("m.channels").as("channels"))
        .orderBy(col("doc_id"))
    }),

    // Real header-only VIDEO decode (graft.functions.VideoHeader): MP4
    // fixtures force a real nested box walk (ftyp, then moov -> mvhd for
    // timescale/duration and moov -> trak -> tkhd for 16.16 fixed-point
    // dimensions; the per-row timescale varies so the ms conversion is
    // exercised), AVI fixtures force the RIFF LIST(hdrl) -> avih path.
    // All parameters derive from doc_id; the oracle is pure arithmetic.
    "mm_video_meta" -> ((s, dir) => {
      val wSql = "(doc_id % 1280 + 16)"
      val hSql = "(doc_id % 720 + 16)"
      def be32(x: String) = s"lpad(hex($x), 8, '0')"
      val tsSql = "(500 * (doc_id % 4 + 1))"
      val mp4Hex =
        s"""concat('0000001066747970 69736F6D00000000',
           |  '000000886D6F6F76',
           |  '0000001C6D766864', '00000000', '00000000', '00000000',
           |  ${be32(tsSql)}, ${be32(s"(doc_id % 120 + 1) * $tsSql")},
           |  '000000647472616B',
           |  '0000005C746B6864', '00000000', repeat('00', 20),
           |  repeat('00', 8), repeat('00', 8), repeat('00', 36),
           |  ${be32(s"$wSql * 65536")}, ${be32(s"$hSql * 65536")})""".stripMargin
      val aviHex =
        s"""concat('52494646', ${le("80", 4)}, '41564920',
           |  '4C495354', ${le("68", 4)}, '6864726C',
           |  '61766968', ${le("56", 4)},
           |  ${le("1000 * (doc_id % 40 + 10)", 4)}, ${le("0", 4)}, ${le("0", 4)},
           |  ${le("16", 4)}, ${le("doc_id % 100 + 1", 4)}, ${le("0", 4)},
           |  ${le("1", 4)}, ${le("0", 4)}, ${le(wSql, 4)}, ${le(hSql, 4)},
           |  repeat('00', 16))""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(
          s"unhex(replace(CASE WHEN doc_id % 2 = 0 THEN $mp4Hex ELSE $aviHex END, ' ', ''))"))
        .selectExpr("doc_id", "video_header(blob) AS m")
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.width").as("width"), col("m.height").as("height"),
          col("m.duration_ms").as("duration_ms"))
        .orderBy(col("doc_id"))
    }),

    // DCT perceptual hash — the third member of the image-fingerprint
    // family (aHash: block means; dHash: gradient signs; pHash: DCT
    // low-frequency SIGN STRUCTURE — the one that survives uniform
    // brightness shifts, since only DC moves). 32×32 BMPs are built
    // from a closed-form gray formula; the hash is an integer matmul
    // against the engine's fixed-point DCT basis, lower-median
    // threshold over the 63 ACs. The oracle replays the ENTIRE DCT with
    // the same injected integer basis — sign structure, median pick,
    // and bit layout all certified, no libm on either side.
    "mm_image_phash" -> ((s, dir) => {
      // The pixel formula depends on doc_id ONLY through `doc_id % 97`,
      // so the corpus holds at most 97 distinct BMPs: synthesize +
      // decode + DCT once per residue and broadcast-join the 8-byte
      // hashes back by key (guide §8 — decide with small rows, attach
      // to the big table by key; the r18-measured cost of this row was
      // the per-doc 1024-pixel hex synthesis, not the DCT, which is
      // already the separable two-pass form). `(k % 97) == k` for every
      // k = doc_id % 97 under Spark remainder semantics (|k| < 97), so
      // the per-residue blob is bit-identical to the per-doc blob.
      val keyed = Tables.documents(s, dir)
        .selectExpr("doc_id % 97 AS doc_id").distinct()
        .selectExpr("doc_id AS __k",
          s"unhex(concat('$phashHdrHex', $phashPxSql)) AS blob")
        .selectExpr("__k", "image_phash(blob) AS phash")
      Tables.documents(s, dir)
        .selectExpr("doc_id", "doc_id % 97 AS __k")
        .join(broadcast(keyed), "__k")
        .select(col("doc_id"), col("phash"))
        .orderBy(col("doc_id"))
    }),

    // Perceptual image dedup — the multimodal seam composed with the
    // dedup family. Fixtures are REAL uncompressed 24-bit BMPs (72×16,
    // full header + bottom-up BGR pixel rows) synthesized per doc: docs
    // 2g and 2g+1 share a block pattern keyed by g, the odd doc carrying
    // a +25 brightness perturbation on one 9×2 block — a near-duplicate
    // with known-small hamming distance. The engine must actually parse
    // the BMP and hash pixels (graft.functions.ImageHash aHash/dHash);
    // the oracle replays the integer hash arithmetic from the same
    // doc_id-derived pixel values. Candidate generation is the SimHash
    // template: 4×16-bit hamming bands, equi-join, filter before
    // distinct so only true near-dups shuffle.
    "mm_image_dedup" -> ((s, dir) => {
      // materialize the 24-byte-per-doc hash table ONCE before the
      // self-join: without this the full BMP synthesis + decode lineage
      // re-runs on BOTH join sides (measured 19 s → the fixture build,
      // not the dedup, dominating the query)
      val hashed = Tables.documents(s, dir)
        .selectExpr("doc_id", s"unhex(concat('$bmpHdrHex', $bmpPixelsSql)) AS blob")
        .selectExpr("doc_id", "image_ahash(blob) AS ahash",
          "image_dhash(blob) AS dhash")
        .localCheckpoint(true)
      val banded = hashed.select(col("doc_id"), col("ahash"), col("dhash"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band_idx"),
          expr(s"shiftright(ahash, ${b * 16}) & 65535").as("band_val"))): _*)).as("band"))
        .select(col("doc_id"), col("ahash"), col("dhash"),
          col("band.band_idx"), col("band.band_val"))
      val a = banded.alias("a")
      val b = banded.alias("b")
      a.join(b, col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          bit_count(col("a.ahash").bitwiseXOR(col("b.ahash"))).cast("long").as("ham_a"),
          bit_count(col("a.dhash").bitwiseXOR(col("b.dhash"))).cast("long").as("ham_d"))
        .filter(col("ham_a") <= 6)
        .distinct()
        .orderBy(col("id_a"), col("id_b"))
    }),

    // INTERLEAVED image-text assembly — the MMC4/OBELICS/LAION step
    // that turns a crawl into image-text training pairs: html_images
    // (graft.functions.HtmlImages — <img> src/alt/title with document
    // position, container discipline: a decoy <img> inside <script> or
    // a comment must NOT pair) → UrlOps.resolveUrl against the page URL
    // (absolute, protocol-relative, and path-relative forms all
    // exercised) → LEFT join of the caption candidates to the
    // decoded-image table (real BMP decode + aHash) keyed by canonical
    // URL. The third image per page resolves onto the page's own host,
    // which the image table doesn't carry — its row pairs with a null
    // hash (caption candidate awaiting a fetch), the honest corpus
    // shape. The oracle replays extraction, resolution, entity/space
    // normalization, and the FULL integer aHash from the shared pixel
    // formula. Plan: one scan-side explode, one equi-join on url —
    // no cartesian; the hash table materializes once (localCheckpoint)
    // so BMP synthesis+decode lineage doesn't re-run under the join.
    "web_image_text_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.count()
      def k(off: Int) = pmod(col("doc_id") + off, lit(n)).cast("string")
      val base = concat(lit("https://docs.example.org/pages/sub/page"),
        col("doc_id").cast("string"), lit(".html"))
      val html = concat(
        lit("<script>var x = \"<img src=decoy.bmp alt=no>\";</script>"),
        lit("<!-- <img src=\"c.bmp\"> --><p>body text</p>"),
        lit("<img src=\"https://img.example.net/i/"), k(0),
        lit(".bmp\" alt=\"figure &amp; caption "), k(0), lit("\">"),
        lit("<img src='//img.example.net/i/"), k(1),
        lit(".bmp' title='t"), k(1), lit("'>"),
        lit("<img alt=\"srcless, dropped\">"),
        lit("<img src=gallery/"), k(2), lit(".bmp alt='local   "), k(2),
        lit("'>"))
      val images = docs
        .selectExpr("doc_id AS img_id",
          s"unhex(concat('$bmpHdrHex', $bmpPixelsSql)) AS blob")
        .selectExpr(
          "concat('https://img.example.net/i/', img_id, '.bmp') AS image_url",
          "image_ahash(blob) AS ahash")
        .localCheckpoint(true)
      docs.select(col("doc_id"), base.as("__base"),
          explode(call_function("html_images", html)).as("im"))
        .select(col("doc_id"), col("im.pos").cast("long").as("pos"),
          UrlOps.resolveUrl(col("__base"), col("im.src")).as("image_url"),
          col("im.alt").as("alt_text"), col("im.title").as("title"))
        .join(images, Seq("image_url"), "left")
        .select(col("doc_id"), col("pos"), col("image_url"),
          col("alt_text"), col("title"), col("ahash"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // OG-ENRICHED image-text pairing — the precedence layer over
    // web_image_text_pairs: OpenGraph og:image + og:title is the
    // highest-precision caption channel a page publishes (it describes
    // THE canonical image, unlike arbitrary inline alt text), so when
    // the same image URL appears in both channels the og row wins and
    // the inline duplicate is dropped (keyed anti-join, never a window
    // over the corpus). og:image resolves against the page URL like any
    // other reference (a third of the pages publish it relative — real
    // pages do). Commented-out og decoys must not pair.
    "web_og_image_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.count()
      def k(off: Int) = pmod(col("doc_id") + off, lit(n)).cast("string")
      val base = concat(lit("https://docs.example.org/pages/sub/page"),
        col("doc_id").cast("string"), lit(".html"))
      val ogImage = when(pmod(col("doc_id"), lit(3)) === 1,
        concat(lit("hero/"), k(0), lit(".bmp")))
        .otherwise(concat(lit("https://img.example.net/i/"), k(0),
          lit(".bmp")))
      val html = concat(
        lit("<!-- <meta property=\"og:image\" content=\"DECOY.bmp\"> -->"),
        lit("<meta property=\"og:image\" content=\""), ogImage, lit("\">"),
        lit("<meta property=\"og:title\" content=\"OG caption &amp; "),
        col("doc_id").cast("string"), lit("\">"),
        lit("<img src=\"https://img.example.net/i/"), k(0),
        lit(".bmp\" alt=\"inline dup "), k(0), lit("\">"),
        lit("<img src=gallery/"), k(1), lit(".bmp alt='inline "), k(1),
        lit("'>"))
      val pages = docs.select(col("doc_id"), base.as("__base"),
        html.as("__html"))
      val og = pages
        .select(col("doc_id"), col("__base"),
          call_function("html_og", col("__html")).as("p"))
        .select(col("doc_id"),
          UrlOps.resolveUrl(col("__base"),
            expr("filter(p, x -> x.key = 'og:image')[0].value"))
            .as("image_url"),
          expr("filter(p, x -> x.key = 'og:title')[0].value").as("caption"))
        .where(col("image_url").isNotNull)
        .select(col("doc_id"), lit("og").as("channel"), col("image_url"),
          col("caption"))
      val inline = pages
        .select(col("doc_id"), col("__base"),
          explode(call_function("html_images", col("__html"))).as("im"))
        .select(col("doc_id"),
          UrlOps.resolveUrl(col("__base"), col("im.src")).as("image_url"),
          col("im.alt").as("caption"))
        .select(col("doc_id"), lit("img").as("channel"), col("image_url"),
          col("caption"))
      val inlineKept = inline.join(og.select(col("doc_id"),
          col("image_url")),
        Seq("doc_id", "image_url"), "left_anti")
        // the join hoists its keys to the front; realign before the
        // POSITIONAL union
        .select(col("doc_id"), col("channel"), col("image_url"),
          col("caption"))
      og.unionAll(inlineKept)
        .orderBy(col("doc_id"), col("channel"), col("image_url"))
    }),

    // INTERLEAVED MULTIMODAL FUNNEL, END TO END — the MMC4 assembly
    // mile as one certified composition: crawl WARC bytes → record
    // extraction → html_segments (text blocks + images in document
    // order) → image URLs resolved against each page's own URL → LEFT
    // join to the decoded-image table (real BMP decode + integer
    // aHash) → one per-doc digest: segment counts, paired-image count,
    // and the md5 of the canonical interleaved rendering (pos-sorted
    // `t:`/`i:` lines, hash included) — stage COMPOSITION certified by
    // one hash, the corpus_e2e posture. The oracle replays the page
    // construction closed-form (never a container byte), the host-
    // varied resolution, the full integer aHash, and the digest.
    "web_interleaved_e2e" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.count()
      def k(off: Int) = pmod(col("doc_id") + off, lit(n)).cast("string")
      val html = concat(
        lit("<h1>head kw"), col("doc_id").cast("string"), lit("</h1>"),
        lit("<p>intro text alpha <b>bold</b></p>"),
        lit("<img src=\"https://img.example.net/i/"), k(0),
        lit(".bmp\" alt=\"c\">"),
        lit("<p>middle beta</p>"),
        lit("<img src='/rel/"), k(1), lit(".png'>"))
      val recs = docs.select(col("doc_id"),
        graft.ops.WebOps.buildRecord(col("doc_id"),
          graft.ops.WebOps.syntheticUrl(col("doc_id"), col("source")),
          html).as("rec"))
      val files = graft.ops.WebOps.buildCrawlFiles(recs, col("doc_id"),
        col("rec"), perFile = 5)
      val pages = graft.ops.WebOps.extractRecords(files, col("blob"))
        .filter(col("http_status") === 200)
        .select(regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1)
          .cast("long").as("doc_id"),
          col("target_uri"), col("body").cast("string").as("html"))
      val segs = pages
        .select(col("doc_id"), col("target_uri"),
          explode(call_function("html_segments", col("html"))).as("seg"))
        .select(col("doc_id"), col("target_uri"), col("seg.kind").as("kind"),
          col("seg.content").as("content"), col("seg.pos").as("pos"))
        .withColumn("image_url",
          when(col("kind") === "image",
            UrlOps.resolveUrl(col("target_uri"), col("content"))))
      val images = docs
        .selectExpr("doc_id AS img_id",
          s"unhex(concat('$bmpHdrHex', $bmpPixelsSql)) AS blob")
        .selectExpr(
          "concat('https://img.example.net/i/', img_id, '.bmp') AS image_url",
          "image_ahash(blob) AS ahash")
        .localCheckpoint(true)
      segs.join(images, Seq("image_url"), "left")
        .withColumn("canon",
          when(col("kind") === "text", concat(lit("t:"), col("content")))
            .otherwise(concat(lit("i:"), col("image_url"), lit(":"),
              coalesce(col("ahash").cast("string"), lit("")))))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("kind") === "text", 1L).otherwise(0L)).as("n_text"),
          sum(when(col("kind") === "image", 1L).otherwise(0L)).as("n_images"),
          sum(when(col("ahash").isNotNull, 1L).otherwise(0L)).as("n_paired"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("canon")))),
            x => x.getField("canon")), "\n").cast("binary"))
            .as("interleave_md5"))
        .orderBy(col("doc_id"))
    }),

    // IMAGE-TEXT PAIR FILTERING — the LAION-style gate between raw
    // (alt, image) candidates and a training set: per pair, keep only
    // captions that are real descriptions of a decoded image. Rules,
    // applied in order: 'no_image' (the URL never decoded — null hash
    // from the left join), 'alt_filename' (the alt is a camera filename
    // or trailing image extension — IMG_0042.jpg describes the FILE,
    // not the picture, however many tokens it has), 'alt_too_short'
    // (< 2 whitespace tokens — kills generic one-worders like
    // "image"), else 'kept'. Every pair
    // carries its verdict + reason so downstream can audit the funnel.
    // Fixture: four images per page, one per rule; the oracle replays
    // extraction, resolution, the hash join, and each rule closed-form.
    "web_image_text_filter" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.count()
      def k(off: Int) = pmod(col("doc_id") + off, lit(n)).cast("string")
      val base = concat(lit("https://docs.example.org/pages/sub/page"),
        col("doc_id").cast("string"), lit(".html"))
      val html = concat(
        lit("<img src=\"https://img.example.net/i/"), k(0),
        lit(".bmp\" alt=\"scenic mountain view "), k(0), lit("\">"),
        lit("<img src=\"https://img.example.net/i/"), k(1),
        lit(".bmp\" alt=\"IMG_0042.jpg\">"),
        lit("<img src=\"https://img.example.net/i/"), k(2),
        lit(".bmp\" alt=\"image\">"),
        lit("<img src=\"/local/"), k(3),
        lit(".bmp\" alt=\"a nice caption here\">"))
      val images = docs
        .selectExpr("doc_id AS img_id",
          s"unhex(concat('$bmpHdrHex', $bmpPixelsSql)) AS blob")
        .selectExpr(
          "concat('https://img.example.net/i/', img_id, '.bmp') AS image_url",
          "image_ahash(blob) AS ahash")
        .localCheckpoint(true)
      docs.select(col("doc_id"), base.as("__base"),
          explode(call_function("html_images", html)).as("im"))
        .select(col("doc_id"), col("im.pos").cast("long").as("pos"),
          UrlOps.resolveUrl(col("__base"), col("im.src")).as("image_url"),
          col("im.alt").as("alt_text"))
        .join(images, Seq("image_url"), "left")
        .withColumn("reason",
          when(col("ahash").isNull, "no_image")
            .when(col("alt_text").rlike("(?i)\\.(jpe?g|png|gif|webp|bmp)$") ||
              col("alt_text").rlike("(?i)^(img|dsc|image|photo)[_ -]?[0-9]+$"),
              "alt_filename")
            .when(size(split(col("alt_text"), "\\s+")) < 2, "alt_too_short")
            .otherwise("kept"))
        .select(col("doc_id"), col("pos"), col("image_url"),
          col("alt_text"), (col("reason") === "kept").as("keep"),
          col("reason"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // AVIF/HEIF metadata (functions.AvifMeta) — the ISOBMFF-packaged
    // image formats modern web corpora shift toward: ftyp brand gate,
    // the meta FULL-box trap (4 version/flags bytes), iprp→ipco→ispe
    // spatial extents. Per doc a scan-side box tree (avif/heic by
    // parity, every 9th a non-image mp42 brand that must refuse);
    // the oracle states brand/width/height as closed forms.
    "mm_image_avif_meta" -> ((s, dir) => {
      val hexSql =
        s"""concat('00000014', '66747970',
           |  CASE WHEN doc_id % 9 = 0 THEN '6D703432'
           |       WHEN doc_id % 2 = 0 THEN '61766966' ELSE '68656963' END,
           |  '00000000', '6D696631',
           |  '00000030', '6D657461', '00000000',
           |  '00000024', '69707270',
           |  '0000001C', '6970636F',
           |  '00000014', '69737065', '00000000',
           |  lpad(hex(doc_id % 4000 + 16), 8, '0'),
           |  lpad(hex(doc_id % 3000 + 16), 8, '0'))""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($hexSql)"))
        .selectExpr("doc_id", "avif_meta(blob) AS m")
        .select(col("doc_id"),
          coalesce(col("m.brand"), lit("(refused)")).as("brand"),
          coalesce(col("m.width"), lit(-1)).as("width"),
          coalesce(col("m.height"), lit(-1)).as("height"))
        .orderBy(col("doc_id"))
    }),

    // EXIF GPS extraction (functions.ExifMeta.gps) — the image
    // PRIVACY-SCRUB signal: per doc a JPEG whose APP1 block carries a
    // full GPS IFD (refs + degree/minute/second RATIONALs at data
    // offsets, all four hemisphere combinations over the corpus),
    // every 9th doc GPS-less. Coordinates fold to signed micro-degrees
    // with per-term truncating division, so the oracle replays the
    // arithmetic as closed forms of doc_id.
    "mm_image_gps" -> ((s, dir) => {
      val hexSql =
        s"""CASE WHEN doc_id % 9 = 0 THEN
           |  concat('FFD8', 'FFE000104A46494600010100000100010000', 'FFD9')
           |ELSE concat('FFD8', 'FFE10088', '457869660000',
           |  '49492A0008000000',
           |  '0100', '2588', '0400', '01000000', '1A000000', '00000000',
           |  '0400',
           |  '0100', '0200', '02000000',
           |  IF(doc_id % 2 = 0, '4E', '53'), '000000',
           |  '0200', '0500', '03000000', '50000000',
           |  '0300', '0200', '02000000',
           |  IF(doc_id % 3 = 0, '57', '45'), '000000',
           |  '0400', '0500', '03000000', '68000000',
           |  '00000000',
           |  ${le("doc_id % 90", 4)}, '01000000',
           |  ${le("(doc_id * 3) % 60", 4)}, '01000000',
           |  ${le("(doc_id * 37) % 6000", 4)}, '64000000',
           |  ${le("doc_id % 180", 4)}, '01000000',
           |  ${le("(doc_id * 7) % 60", 4)}, '01000000',
           |  ${le("(doc_id * 53) % 6000", 4)}, '64000000',
           |  'FFD9') END""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($hexSql)"))
        .selectExpr("doc_id", "jpeg_gps(blob) AS g")
        .select(col("doc_id"),
          col("g").isNotNull.as("has_gps"),
          coalesce(col("g.lat_micro"), lit(0L)).as("lat_micro"),
          coalesce(col("g.lon_micro"), lit(0L)).as("lon_micro"))
        .orderBy(col("doc_id"))
    }),

    // ICO (favicon) DIRECTORY walk (functions.IcoMeta): per doc a
    // multi-image icon built scan-side — stored width/height bytes
    // exercising the 0-means-256 quirk, per-entry bit depths, embedded
    // PNG vs classic DIB payloads sniffed by magic. The oracle states
    // every field as a closed form of (doc_id, idx) — the walker is
    // certified without the oracle parsing a byte.
    "mm_image_ico" -> ((s, dir) => {
      val nSql = "(doc_id % 3 + 1)"
      val dirSql =
        s"""array_join(transform(sequence(0, $nSql - 1), i -> concat(
           |  lpad(hex((doc_id + 17*i) % 256), 2, '0'),
           |  lpad(hex((doc_id + 29*i) % 256), 2, '0'),
           |  '0000', ${le("1", 2)},
           |  ${le("CASE CAST(i % 3 AS INT) WHEN 0 THEN 32 WHEN 1 THEN 8 ELSE 4 END", 2)},
           |  ${le("8", 4)}, ${le(s"6 + 16 * $nSql + 8 * i", 4)})), '')""".stripMargin
      val paySql =
        s"""array_join(transform(sequence(0, $nSql - 1),
           |  i -> IF((doc_id + i) % 2 = 0,
           |    '89504E470D0A1A0A', '2800000000000000')), '')""".stripMargin
      val icoHex = s"concat('00000100', ${le(nSql, 2)}, $dirSql, $paySql)"
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($icoHex)"))
        .selectExpr("doc_id",
          "posexplode(ico_entries(blob)) AS (idx, e)")
        .select(col("doc_id"), col("idx"),
          col("e.width").as("width"), col("e.height").as("height"),
          col("e.bpp").as("bpp"), col("e.n_bytes").as("n_bytes"),
          col("e.is_png").as("is_png"))
        .orderBy(col("doc_id"), col("idx"))
    }),

    // FRAME SAMPLING from real video containers (graft.functions
    // .VideoFrames): AVIs synthesized per doc with an hdrl LIST the walk
    // must skip and f = doc_id%6+4 uncompressed 8×2 BGR24 frames in the
    // movi LIST; the engine walks the chunks, samples every 2nd frame,
    // and reduces each sampled frame to its exact integer mean luma
    // (pixels are r=g=b=v so luma == v, and the oracle states ground
    // truth from the same doc_id-derived formula). Only sampled frames'
    // bytes are read — the curation shape for video at scale.
    "mm_video_framesample" -> ((s, dir) => {
      val fSql = "(doc_id % 6 + 4)"
      val vSql = "((doc_id * 13 + t * 17 + x * 7 + y * 29) % 256)"
      val frameHex = MmFixtures.aviFrameHex(2, 8, vSql)
      val aviHex = MmFixtures.aviMoviHex(fSql, 48, frameHex)
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($aviHex)"))
        .selectExpr("doc_id", "explode(video_frame_sample(blob, 2)) AS fr")
        .select(col("doc_id"), col("fr.frame_idx").as("frame_idx"),
          col("fr.mean_luma").as("mean_luma"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // FRAME SAMPLING from MP4/ISO-BMFF containers (the same
    // VideoFrames seam): per doc a minimal-but-real box tree —
    // ftyp, moov→trak→mdia→minf→stbl with stsd ('raw ' RGB24 codec
    // gate), stsz (fixed 48-byte samples, count f = doc_id%5+6), stsc
    // (one run, f samples in 1 chunk) and stco (absolute offset 164
    // into mdat) — and f 8×2 RGB24 frames in mdat. The engine walks
    // the sample tables and touches ONLY every 3rd frame's byte range;
    // pixels are r=g=b=v so luma == v and the oracle replays the
    // doc_id-derived mosaic formula, never a byte.
    "mm_video_framesample_mp4" -> ((s, dir) => {
      def be(x: String, bytes: Int) = (bytes - 1 to 0 by -1)
        .map(n => s"lpad(hex(($x) div ${1L << (8 * n)} % 256), 2, '0')")
        .mkString("concat(", ", ", ")")
      val fSql = "(doc_id % 5 + 6)"
      val vSql = "((doc_id * 19 + t * 31 + x * 11 + y * 53) % 256)"
      val frameHex =
        s"""array_join(transform(sequence(0, 1), y ->
           |  array_join(transform(sequence(0, 7), x ->
           |    repeat(lpad(hex($vSql), 2, '0'), 3)), '')), '')""".stripMargin
      val mp4Hex =
        s"""concat(
           |  '0000001066747970', '69736F6D', '00000000',
           |  '0000008C6D6F6F76', '000000847472616B', '0000007C6D646961',
           |  '000000746D696E66', '0000006C7374626C',
           |  '0000002073747364', '00000000', '00000001',
           |    '0000001072617720', '0000000000000000',
           |  '000000147374737A', '00000000', '00000030', ${be(fSql, 4)},
           |  '0000001C73747363', '00000000', '00000001',
           |    '00000001', ${be(fSql, 4)}, '00000001',
           |  '000000147374636F', '00000000', '00000001', '000000A4',
           |  ${be(s"8 + 48 * $fSql", 4)}, '6D646174',
           |  array_join(transform(sequence(0, $fSql - 1), t -> $frameHex), ''))"""
          .stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($mp4Hex)"))
        .selectExpr("doc_id", "explode(video_frame_sample(blob, 3)) AS fr")
        .select(col("doc_id"), col("fr.frame_idx").as("frame_idx"),
          col("fr.mean_luma").as("mean_luma"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // VIDEO SCENE SEGMENTATION — keyframe/shot-cut detection, the step
    // before any per-scene video curation (caption alignment, keyframe
    // sampling, per-shot dedup): every frame reduces to its 64-bit
    // aHash fingerprint (video_frame_ahash, k=1), a CUT is a frame
    // whose hamming distance to its predecessor exceeds 16 (identical
    // sign structure within a shot, scrambled across one), and scenes
    // are the running cut count (doc-keyed bounded window). Fixtures:
    // 8-frame AVIs, frames 0..c−1 one Lehmer pattern and c..7 another
    // (c = doc_id%5+2), so each video carries exactly one cut at a
    // known place. The oracle replays both pattern hashes bit-for-bit
    // and the threshold — it never assumes the cut, it re-derives it.
    "mm_video_scenes" -> ((s, dir) => {
      val cSql = "(doc_id % 5 + 2)"
      val vSql = s"(CASE WHEN t < $cSql" +
        s" THEN (((doc_id * 48271) % 65537) * (y * 8 + x + 1)) % 65537 % 200" +
        s" ELSE (((doc_id * 48271 + 12345) % 65537) * (y * 8 + x + 1))" +
        s" % 65537 % 200 END)"
      val frameHex = MmFixtures.aviFrameHex(8, 8, vSql)
      val aviHex = MmFixtures.aviMoviHex("8", 192, frameHex)
      val hashes = Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($aviHex)"))
        .selectExpr("doc_id", "explode(video_frame_ahash(blob, 1)) AS fr")
        .select(col("doc_id"), col("fr.frame_idx").as("f"),
          col("fr.fhash").as("fhash"))
        .localCheckpoint(true)
      val w = Window.partitionBy(col("doc_id")).orderBy(col("f"))
      hashes
        .withColumn("__prev", lag(col("fhash"), 1).over(w))
        .withColumn("__cut", when(col("__prev").isNotNull &&
          bit_count(col("fhash").bitwiseXOR(col("__prev"))) > 16, 1L)
          .otherwise(0L))
        .withColumn("scene_idx", sum(col("__cut")).over(
          Window.partitionBy(col("doc_id")).orderBy(col("f"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"), col("scene_idx"))
        .agg(min(col("f")).cast("long").as("start_frame"),
          max(col("f")).cast("long").as("end_frame"),
          count(lit(1)).as("n_frames"))
        .orderBy(col("doc_id"), col("scene_idx"))
    }),

    // VIDEO PERCEPTUAL DEDUP — VideoFrames' sampled-frame decode
    // composed with the aHash integer pipeline (video_frame_ahash) and
    // the image-dedup banding posture: each sampled 8×8 frame reduces
    // to a 64-bit sign-structure hash, candidates come from 4×16-bit
    // hamming bands through DedupOps.cappedBandPairs (so a viral clip
    // repeated 10k× costs a chain, not 50M pairs), per-frame hamming ≤6
    // verifies, and a video pair is a near-dup when ≥2 sampled frames
    // match. Fixtures: real AVIs, videos 2g/2g+1 share a g-keyed mosaic,
    // the odd one perturbing ONE pixel of ONE sampled frame (+55) — the
    // re-encoded-clip shape. The oracle replays pixels → frame means →
    // every hash bit → bands → hamming → the pair rollup.
    "mm_video_dedup" -> ((s, dir) => {
      // aHash is brightness-shift-invariant by design, so an ADDITIVE
      // g-term would give unrelated videos identical sign structure
      // (measured: 63k pairs for 500 docs). The Lehmer-style multiplier
      // scrambles the whole pattern per g instead — distinct g → a
      // distinct 64-bit sign structure, so only the designed 2g/2g+1
      // near-dups (plus seed-class collisions every 65537 g) survive
      // the hamming filter, and pair volume stays linear in the corpus.
      val gSql = "(doc_id div 2)"
      val seedSql = s"(($gSql * 48271) % 65537)"
      val vSql =
        s"((($seedSql * (y * 8 + x + 16 * t + 1)) % 65537) % 200" +
        s" + (CASE WHEN doc_id % 2 = 1 AND t = 2 * ($gSql % 3)" +
        s" AND x = $gSql % 8 AND y = 0 THEN 55 ELSE 0 END))"
      val frameHex = MmFixtures.aviFrameHex(8, 8, vSql)
      val aviHex = MmFixtures.aviMoviHex("6", 192, frameHex)
      // hash table materializes once — AVI synthesis + decode must not
      // re-run under both sides of the band self-join
      val frames = Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($aviHex)"))
        .selectExpr("doc_id", "explode(video_frame_ahash(blob, 2)) AS fr")
        .select(col("doc_id"), col("fr.frame_idx").as("frame_idx"),
          col("fr.fhash").as("fhash"))
        .localCheckpoint(true)
      val banded = frames.select(col("doc_id"), col("frame_idx"),
          col("fhash"),
          explode(array((0 until 4).map(b => struct(lit(b).as("bi"),
            expr(s"shiftright(fhash, ${b * 16}) & 65535").as("bv"))): _*))
            .as("band"))
        .select(col("doc_id"), col("frame_idx"), col("fhash"),
          col("band.bi").as("band_idx"), col("band.bv").as("band_val"))
      graft.ops.DedupOps.cappedBandPairs(banded, "doc_id",
          Seq("band_idx", "band_val"), Seq("fhash", "frame_idx"),
          maxBlock = 4096)
        .filter(bit_count(col("fhash_a").bitwiseXOR(col("fhash_b"))) <= 6)
        .select(col("id_a"), col("id_b"),
          col("frame_idx_a"), col("frame_idx_b"))
        .distinct()
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_match"))
        .filter(col("n_match") >= 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // RESIZE / feature-extract over real pixels: the same BMP fixtures as
    // mm_image_dedup reduced to a 6×4 block-mean grayscale grid
    // (image_resize_gray — the thumbnail-as-vector a downstream ANN or
    // near-dup op consumes). 6 cells across a 72-px row cut across the
    // 9-px fixture blocks (12 = 9 + 3), so every cell mean mixes two
    // block values and the oracle must replay the real floor-division
    // grid arithmetic, not just echo block constants.
    "mm_image_resize" -> ((s, dir) => {
      Tables.documents(s, dir)
        .selectExpr("doc_id", s"unhex(concat('$bmpHdrHex', $bmpPixelsSql)) AS blob")
        .selectExpr("doc_id",
          "posexplode(image_resize_gray(blob, 6, 4)) AS (cell_idx, gray)")
        .select(col("doc_id"), col("cell_idx"), col("gray"))
        .orderBy(col("doc_id"), col("cell_idx"))
    }),

    // PNG round-trip over table data: quantize each embedding to an 8×8
    // gray raster, encode it as a REAL zlib-compressed PNG scan-side
    // (png_encode_gray — JDK Deflater through the repo's Png encoder),
    // decode it back through the PNG pixel decoder (image_resize_gray at
    // the identity grid), and emit the pixels. The oracle replays ONLY
    // the quantization arithmetic — any loss or bias in the compressed
    // round-trip breaks the hash. Decoder-vs-independent-encoder
    // correctness is pinned separately in ImagePixelSpec (python-zlib
    // fixtures, all five filters, palette/alpha color types). Scale
    // shape: encode+decode live in one projection between scan and
    // explode — blobs never shuffle.
    "mm_image_png" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .selectExpr("vec_id",
          "transform(embedding, e -> CAST(CAST(floor(abs(CAST(e AS DOUBLE)) " +
            "* 1000000 + 0.5) AS BIGINT) % 256 AS INT)) AS qv")
        .selectExpr("vec_id", "png_encode_gray(qv, 8, 8) AS blob")
        .selectExpr("vec_id",
          "posexplode(image_resize_gray(blob, 8, 8)) AS (cell_idx, gray)")
        .select(col("vec_id"), col("cell_idx"), col("gray"))
        .orderBy(col("vec_id"), col("cell_idx"))
    }),

    // Baseline-JPEG pixel decode behind the same seam: two committed
    // DC-only block-mosaic fixtures (tools/gen_jpeg_fixtures.py — one
    // grayscale Ns=1 scan, one interleaved 4:2:0 whose chroma blocks
    // must be huffman-walked to stay in sync) embedded as hex. q[0]=8
    // makes DC quantization lossless and a DC-only block renders EXACTLY
    // as its constant under any correct decoder, so the oracle replays
    // the mosaic formula arithmetically — no literal dumps; any drift in
    // marker parse / huffman decode / MCU layout / chroma sync breaks
    // the hash. AC-rich and real-encoder coverage lives in JpegPixelSpec
    // (±1 vs the JDK ImageIO codec both ways).
    "mm_image_jpeg" -> ((s, dir) => {
      import s.implicits._
      Seq(("gray_blocks", jpegGrayBlocksHex, 4, 3),
          ("blocks420", jpegBlocks420Hex, 4, 4))
        .map { case (img, hex, gw, gh) =>
          Seq((img, hex)).toDF("img", "hex").selectExpr("img",
            s"posexplode(image_resize_gray(unhex(hex), $gw, $gh)) AS (cell_idx, gray)")
        }
        .reduce(_ unionByName _)
        .orderBy(col("img"), col("cell_idx"))
    }),

    // PROGRESSIVE (SOF2) JPEG decode behind the same seam: a committed
    // DC-mosaic fixture from the independent progressive encoder
    // (tools/gen_jpeg_prog_fixtures.py — libjpeg's default scan script:
    // DC first at Al=1, spectral-selection AC first scans at Al=2, AC
    // refinements 2→1→0, DC refinement). Successive approximation is
    // lossless at Al=0 and q[0]=8 makes DC quantization exact, so the
    // mosaic renders EXACTLY and the oracle replays the formula — any
    // drift in scan accumulation, EOB runs, or refinement breaks the
    // hash. AC-rich + real-encoder progressive coverage lives in
    // JpegPixelSpec (±1 vs ImageIO both ways).
    // WebP HEADER metadata: the fourth web-image container through the
    // same image_header seam — per doc one of the three WebP flavors
    // (lossy VP8 with its sync code, lossless VP8L packed minus-one
    // dims, extended VP8X 24-bit canvas) by doc_id%3, dims from the doc
    // formula. The oracle replays format/width/height from construction.
    "mm_image_webp_meta" -> ((s, dir) => {
      val wSql = "(doc_id % 300 + 16)"
      val hSql = "(doc_id % 200 + 16)"
      val hexSql =
        s"""CASE CAST(doc_id % 3 AS INT)
           |  WHEN 0 THEN concat('52494646', ${le("20", 4)}, '57454250',
           |    '56503820', ${le("10", 4)}, '000000', '9D012A',
           |    ${le(wSql, 2)}, ${le(hSql, 2)})
           |  WHEN 1 THEN concat('52494646', ${le("20", 4)}, '57454250',
           |    '5650384C', ${le("5", 4)}, '2F',
           |    ${le(s"($wSql - 1) + ($hSql - 1) * 16384", 4)})
           |  ELSE concat('52494646', ${le("20", 4)}, '57454250',
           |    '56503858', ${le("10", 4)}, '00', '000000',
           |    ${le(s"$wSql - 1", 3)}, ${le(s"$hSql - 1", 3)})
           |END""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($hexSql)"))
        .selectExpr("doc_id", "image_header(blob) AS m")
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.width").as("width"), col("m.height").as("height"))
        .orderBy(col("doc_id"))
    }),

    // EXIF ORIENTATION (graft.functions.ExifMeta): the rotation tag
    // perceptual dedup must normalize before hashing — the same photo
    // stored rotated-with-tag vs baked-in hashes differently otherwise.
    // Per doc a synthesized JPEG whose APP1/TIFF block cycles byte order
    // (II/MM by doc_id%2) and orientation (doc_id%8+1); every 9th doc
    // carries only a JFIF APP0 (no EXIF → null). The oracle replays the
    // construction rule; any drift in the marker walk, byte-order
    // handling, or IFD scan breaks the hash.
    "mm_image_exif" -> ((s, dir) => {
      val vSql = "(doc_id % 8 + 1)"
      val hexSql =
        s"""CASE
           |  WHEN doc_id % 9 = 0 THEN
           |    concat('FFD8', 'FFE000104A46494600010100000100010000', 'FFD9')
           |  WHEN doc_id % 2 = 0 THEN
           |    concat('FFD8FFE10022457869660000', '49492A0008000000',
           |      '0100', '12010300', '01000000',
           |      lpad(hex($vSql), 2, '0'), '000000', '00000000', 'FFD9')
           |  ELSE
           |    concat('FFD8FFE10022457869660000', '4D4D002A00000008',
           |      '0001', '01120003', '00000001',
           |      '00', lpad(hex($vSql), 2, '0'), '0000', '00000000', 'FFD9')
           |END""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($hexSql)"))
        .selectExpr("doc_id", "jpeg_exif_orientation(blob) AS orientation")
        .orderBy(col("doc_id"))
    }),

    // GIF first-frame decode behind the same seam: a committed
    // block-mosaic fixture from the independent python LZW encoder
    // (tools/gen_gif_fixtures.py). The palette is r=g=b so luma equals
    // the palette index EXACTLY (no rounding freedom), and the oracle
    // replays the mosaic formula arithmetically; any drift in the LZW
    // decode, palette mapping, or block walk breaks the hash.
    // Interlace/local-table/KwKwK/ImageIO cross-checks live in
    // GifPixelSpec.
    "mm_image_gif" -> ((s, dir) => {
      import s.implicits._
      Seq(("gif_blocks", gifBlocksHex)).toDF("img", "hex")
        .selectExpr("img",
          "posexplode(image_resize_gray(unhex(hex), 4, 3)) AS (cell_idx, gray)")
        .orderBy(col("img"), col("cell_idx"))
    }),

    "mm_image_jpeg_prog" -> ((s, dir) => {
      import s.implicits._
      Seq(("prog_blocks", jpegProgBlocksHex)).toDF("img", "hex")
        .selectExpr("img",
          "posexplode(image_resize_gray(unhex(hex), 4, 3)) AS (cell_idx, gray)")
        .orderBy(col("img"), col("cell_idx"))
    }))

  // committed GIF fixture bytes (tools/gen_gif_fixtures.py →
  // src/test/resources/gif_fixtures/gif_blocks.gif): 32×24 mosaic
  // v = (37·bx + 59·by + 23) % 256 over a 256-entry r=g=b palette
  private val gifBlocksHex =
    "474946383961200018008700000000000101010202020303030404040505050606060707070808080909090A0A0A0B0B0B0C" +
      "0C0C0D0D0D0E0E0E0F0F0F1010101111111212121313131414141515151616161717171818181919191A1A1A1B1B1B1C1C1C" +
      "1D1D1D1E1E1E1F1F1F2020202121212222222323232424242525252626262727272828282929292A2A2A2B2B2B2C2C2C2D2D" +
      "2D2E2E2E2F2F2F3030303131313232323333333434343535353636363737373838383939393A3A3A3B3B3B3C3C3C3D3D3D3E" +
      "3E3E3F3F3F4040404141414242424343434444444545454646464747474848484949494A4A4A4B4B4B4C4C4C4D4D4D4E4E4E" +
      "4F4F4F5050505151515252525353535454545555555656565757575858585959595A5A5A5B5B5B5C5C5C5D5D5D5E5E5E5F5F" +
      "5F6060606161616262626363636464646565656666666767676868686969696A6A6A6B6B6B6C6C6C6D6D6D6E6E6E6F6F6F70" +
      "70707171717272727373737474747575757676767777777878787979797A7A7A7B7B7B7C7C7C7D7D7D7E7E7E7F7F7F808080" +
      "8181818282828383838484848585858686868787878888888989898A8A8A8B8B8B8C8C8C8D8D8D8E8E8E8F8F8F9090909191" +
      "919292929393939494949595959696969797979898989999999A9A9A9B9B9B9C9C9C9D9D9D9E9E9E9F9F9FA0A0A0A1A1A1A2" +
      "A2A2A3A3A3A4A4A4A5A5A5A6A6A6A7A7A7A8A8A8A9A9A9AAAAAAABABABACACACADADADAEAEAEAFAFAFB0B0B0B1B1B1B2B2B2" +
      "B3B3B3B4B4B4B5B5B5B6B6B6B7B7B7B8B8B8B9B9B9BABABABBBBBBBCBCBCBDBDBDBEBEBEBFBFBFC0C0C0C1C1C1C2C2C2C3C3" +
      "C3C4C4C4C5C5C5C6C6C6C7C7C7C8C8C8C9C9C9CACACACBCBCBCCCCCCCDCDCDCECECECFCFCFD0D0D0D1D1D1D2D2D2D3D3D3D4" +
      "D4D4D5D5D5D6D6D6D7D7D7D8D8D8D9D9D9DADADADBDBDBDCDCDCDDDDDDDEDEDEDFDFDFE0E0E0E1E1E1E2E2E2E3E3E3E4E4E4" +
      "E5E5E5E6E6E6E7E7E7E8E8E8E9E9E9EAEAEAEBEBEBECECECEDEDEDEEEEEEEFEFEFF0F0F0F1F1F1F2F2F2F3F3F3F4F4F4F5F5" +
      "F5F6F6F6F7F7F7F8F8F8F9F9F9FAFAFAFBFBFBFCFCFCFDFDFDFEFEFEFFFFFF2C00000000200018000008CD002F081C289087" +
      "C18306C3285CA8D090C3870E091244889021438810250EA478D0E2428C0F3516E4C8C363439086445E2059D224CA9422599A" +
      "0CF352A54C97286D929CF9528ACF9F3EEF081D2A9493D1A34683295DAA142850A244912265CAD4E94FA843A51EA5BAD46A50" +
      "AC77B426E51ACCAB14B061C5922DEB15AD584E6BCDBA554B562ED8B76B1BE9DDAB5796DFBF7EAF091E2C989FE1C386F9F205" +
      "0C983061C48815EF65FCD7F160C88725F7A52CCB7261CCFC3437E2DCD933E8D09A497BBE765AB46AD3A05D735E7D3A20003B"

  // committed progressive fixture bytes (tools/gen_jpeg_prog_fixtures.py →
  // src/test/resources/jpeg_fixtures/prog_blocks.jpg), hex-embedded so the
  // oracle side sees the identical blob: 32×24 grayscale mosaic
  // v = (37·bx + 59·by + 23) % 256 across six progressive scans
  private val jpegProgBlocksHex =
    "FFD8FFDB004300080C0C0E0E0E1010101012121212121414141414141616161616161618181818181818181A1A1A1A1A1A1A" +
      "1C1C1C1C1C1C1E1E1E1E1E20202020222222242426FFC2000B080018002001011100FFC40015000002000000000000000000" +
      "00000000000506FFDA00080101000000014A2648985244C90526489FFFC40014100100000000000000000000000000000030" +
      "FFDA00080101000105024FFFC40014100100000000000000000000000000000030FFDA0008010100063F024FFFC400141001" +
      "00000000000000000000000000000030FFDA0008010100013F214FFFDA0008010100000010A5AFFFC4001410010000000000" +
      "0000000000000000000030FFDA0008010100013F104FFFD9"

  // committed fixture bytes (src/test/resources/jpeg_fixtures), hex-embedded
  // so the oracle side sees the identical blobs: 32×24 grayscale mosaic
  // v = (37·bx + 59·by + 23) % 256 …
  private[queries] val jpegGrayBlocksHex =
    "FFD8FFDB004300080C0C0E0E0E1010101012121212121414141414141616161616161618181818181818181A1A1A1A1A1A1A" +
      "1C1C1C1C1C1C1E1E1E1E1E20202020222222242426FFC0000B080018002001011100FFC40014100100000000000000000000" +
      "000000000000FFC4001500000200000000000000000000000000000607FFDA0008010100003F004B0944A25058944A250589" +
      "44A257FFD9"
  // … and 32×32 4:2:0 with constant chroma, v = (29·bx + 43·by + 50) % 256
  private[queries] val jpegBlocks420Hex =
    "FFD8FFDB004300080C0C0E0E0E1010101012121212121414141414141616161616161618181818181818181A1A1A1A1A1A1A" +
      "1C1C1C1C1C1C1E1E1E1E1E20202020222222242426FFDB004301081313161616191919191C1C1C1C1C1F1F1F1F1F1F222222" +
      "222222222525252525252525282828282828282B2B2B2B2B2B2E2E2E2E2E3131313134343437373AFFC00011080020002003" +
      "012200021101031101FFC40014100100000000000000000000000000000000FFC40014110100000000000000000000000000" +
      "000000FFC4001800000005000000000000000000000000000405060708FFC400150100020000000000000000000000000000" +
      "0006FFDA000C03010002110311003F006C47A1C3D059011E870F4024C7A1C3D00047A1C83803FFD9"
  override val oracle: Map[String, String] = Map(
    "a2_label_mean_a3_valid" ->
      """WITH t AS (SELECT user_id, epoch_us(ts) // 600000000 AS bucket, value,
        |    CASE WHEN event_type='purchase' THEN value/20 END AS conf
        |  FROM events)
        |SELECT user_id, bucket,
        |  round(coalesce(sum(conf), 0.0) /
        |    CAST(greatest(count(conf), 1) AS DOUBLE), 4) AS label_mean,
        |  round(CAST(count(value) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
        |    AS valid_ratio,
        |  count(*) AS n
        |FROM t GROUP BY 1, 2 ORDER BY user_id, bucket""".stripMargin,
    "a10_weighted_loss" ->
      """SELECT event_type,
        |  floor((sum(value * CAST(json_extract_string(props,'$.k') AS BIGINT)) /
        |    sum(CAST(json_extract_string(props,'$.k') AS BIGINT))) * 10000 + 0.5)
        |    / 10000.0 AS weighted_loss,
        |  CAST(sum(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS total_w
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a12_mean_pool" ->
      """WITH t AS (SELECT vec_id, sum(CAST(embedding[i] AS DOUBLE)) AS s,
        |    count(*) AS n
        |  FROM embeddings
        |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
        |  GROUP BY vec_id)
        |SELECT vec_id, floor((s / n) * 10000 + 0.5) / 10000.0 AS pooled
        |FROM t ORDER BY vec_id""".stripMargin,
    "o2_sorted_distinct" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    "m5_split_by_key" ->
      """WITH t AS (SELECT *, CASE WHEN user_id % 10 = 0 THEN 'test'
        |    WHEN user_id % 10 = 1 THEN 'val' ELSE 'train' END AS split
        |  FROM events)
        |SELECT split, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM t GROUP BY split ORDER BY split""".stripMargin,
    "f5_duration_parse" ->
      """WITH e AS (SELECT event_id, user_id,
        |    epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id) AS us
        |  FROM events),
        |v AS (SELECT event_id, us,
        |    printf('+%02d:%02d:%02d.%d', us // 3600000000, (us // 60000000) % 60,
        |      (us // 1000000) % 60, (us // 100000) % 10) AS vts
        |  FROM e),
        |p AS (SELECT event_id, us,
        |    string_split(regexp_replace(vts, '^\+', ''), ':') AS parts
        |  FROM v),
        |x AS (SELECT event_id, us, parts,
        |    string_split(parts[3], '.') AS sec_parts
        |  FROM p)
        |SELECT event_id,
        |  CAST(parts[1] AS BIGINT) * 3600000 + CAST(parts[2] AS BIGINT) * 60000 +
        |    CAST(sec_parts[1] AS BIGINT) * 1000 + CAST(sec_parts[2] AS BIGINT) * 100
        |    AS parsed_ms,
        |  (CAST(parts[1] AS BIGINT) * 3600000 + CAST(parts[2] AS BIGINT) * 60000 +
        |    CAST(sec_parts[1] AS BIGINT) * 1000 + CAST(sec_parts[2] AS BIGINT) * 100)
        |    = (us // 100000) * 100 AS roundtrip_ok
        |FROM x ORDER BY event_id""".stripMargin,
    "f13_mmss_axis" ->
      """WITH t AS (SELECT event_id, user_id,
        |    (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
        |      // 1000000 AS tsec
        |  FROM events)
        |SELECT user_id, max(printf('%d:%02d', tsec // 60, tsec % 60)) AS max_axis,
        |  count(*) AS n
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,
    "mm_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  sha256(text) AS sha_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the visible-text composition replayed closed-form; decoys,
    // defs/style/title/desc contribute nothing
    "mm_image_svg_text" ->
      """SELECT doc_id,
        |  doc_id % 9 <> 0 AS ok,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |    ELSE 'Label & ' || CAST(doc_id AS VARCHAR) ||
        |      ' unit ' || CAST(doc_id % 7 AS VARCHAR) ||
        |      ' curved ' || CAST(doc_id % 5 AS VARCHAR)
        |    END AS svg_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // arithmetic ground truth over the four constructions; the two
    // refusal branches (percentage dims, 3-number viewBox) go all-null
    "mm_image_svg_meta" ->
      """WITH d AS (SELECT doc_id, doc_id % 9 IN (0, 4) AS refused
        |  FROM documents)
        |SELECT doc_id,
        |  NOT refused AS ok,
        |  CASE WHEN refused THEN NULL ELSE 'svg' END AS format,
        |  CAST(CASE WHEN refused THEN NULL
        |    ELSE doc_id % 640 + 1 END AS INT) AS width,
        |  CAST(CASE WHEN refused THEN NULL
        |    ELSE doc_id % 480 + 1 END AS INT) AS height
        |FROM d ORDER BY doc_id""".stripMargin,

    // ground truth by construction: the fixtures embed these dimensions
    "mm_image_meta" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    ELSE 'gif' END AS format,
        |  CAST(doc_id % 640 + 1 AS INT) AS width,
        |  CAST(doc_id % 480 + 1 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    // closed-form replay of the four-construction EBML walk; doctype
    // 'webp' rows (doc_id%8=0) are refused to all-null
    "mm_video_webm_meta" -> {
      def cfgCase(f: ((String, String, java.lang.Long, String,
          java.lang.Integer, java.lang.Integer, String, java.lang.Integer,
          java.lang.Integer)) => Any): String =
        "CASE doc_id % 4 " + webmCfgs.zipWithIndex.map { case (c, i) =>
          f(c) match {
            case null => s"WHEN $i THEN NULL"
            case s: String => s"WHEN $i THEN '$s'"
            case v => s"WHEN $i THEN $v"
          }
        }.mkString(" ") + " END"
      s"""SELECT doc_id,
         |  (doc_id % 8 <> 0) AS ok,
         |  CASE WHEN doc_id % 8 = 0 THEN NULL
         |    ELSE ${cfgCase(_._2)} END AS doc_type,
         |  CAST(CASE WHEN doc_id % 8 = 0 THEN NULL
         |    ELSE ${cfgCase(_._3)} END AS BIGINT) AS duration_ms,
         |  CASE WHEN doc_id % 8 = 0 THEN NULL
         |    ELSE ${cfgCase(_._4)} END AS video_codec,
         |  CAST(CASE WHEN doc_id % 8 = 0 THEN NULL
         |    ELSE ${cfgCase(_._5)} END AS INT) AS width,
         |  CAST(CASE WHEN doc_id % 8 = 0 THEN NULL
         |    ELSE ${cfgCase(_._6)} END AS INT) AS height,
         |  CASE WHEN doc_id % 8 = 0 THEN NULL
         |    ELSE ${cfgCase(_._7)} END AS audio_codec,
         |  CAST(CASE WHEN doc_id % 8 = 0 THEN NULL
         |    ELSE ${cfgCase(_._8)} END AS INT) AS sample_rate,
         |  CAST(CASE WHEN doc_id % 8 = 0 THEN NULL
         |    ELSE ${cfgCase(_._9)} END AS INT) AS channels
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // closed-form replay of the four-construction TIFF walk; magic-43
    // rows (doc_id%7=0) are refused to all-null
    "mm_image_tiff_meta" ->
      """SELECT doc_id,
        |  (doc_id % 7 <> 0) AS ok,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 'tiff' END AS format,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN NULL
        |    ELSE doc_id % 800 + 1 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN NULL
        |    ELSE doc_id % 600 + 1 END AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    // every fixture's gray as a closed form of (img, x, y)
    "mm_image_webp" ->
      """WITH grid AS (SELECT img, x, y FROM
        |    (SELECT unnest(['cache','literals','lz77','palette20',
        |                    'palette4','pred_top','subgreen']) AS img),
        |    (SELECT unnest(generate_series(0, 15)) AS x),
        |    (SELECT unnest(generate_series(0, 11)) AS y))
        |SELECT img, CAST(x AS INT) AS x, CAST(y AS INT) AS y,
        |  CAST(CASE img
        |    WHEN 'literals' THEN (37*x + 59*y + 23) % 256
        |    WHEN 'subgreen' THEN (37*x + 59*y + 23) % 256
        |    WHEN 'pred_top' THEN (37*x + 59*y + 23) % 256
        |    WHEN 'lz77' THEN (37*x + 23) % 256
        |    WHEN 'palette4' THEN [10, 70, 130, 200][(x + y) % 4 + 1]
        |    WHEN 'palette20' THEN 5 + 12 * ((3*x + y) % 20)
        |    ELSE CASE WHEN (x + y) % 2 = 0 THEN 40 ELSE 210 END
        |  END AS INT) AS gray
        |FROM grid ORDER BY img, y * 16 + x""".stripMargin,
    "mm_video_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS format,
        |  CAST(doc_id % 1280 + 16 AS INT) AS width,
        |  CAST(doc_id % 720 + 16 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id % 120 + 1) * 1000
        |       ELSE (doc_id % 40 + 10) * (doc_id % 100 + 1) END AS BIGINT)
        |    AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,
    // replay of the integer hash arithmetic over the same doc_id-derived
    // pixel values the fixtures embed (r=g=b=v so luma==v); 64-bit hashes
    // assembled from two 32-bit halves to stay inside signed BIGINT
    // full DCT replay from the shared integer basis: T = C·g, D = T·Cᵀ,
    // lower-median of the 63 ACs, strict-> bits, DC bit 0
    "mm_image_phash" -> {
      s"""WITH px AS (SELECT doc_id, xs.x, ys.y,
         |    (xs.x * 3 + ys.y * 5 + (doc_id % 97)
         |      * (1 + xs.x // 8 + ys.y // 8)) % 256 AS v
         |  FROM documents,
         |    (SELECT unnest(generate_series(0, 31)) AS x) xs,
         |    (SELECT unnest(generate_series(0, 31)) AS y) ys),
         |coef AS (SELECT * FROM (VALUES $phashCoefSql) t(u, yy, c)),
         |t1 AS (SELECT p.doc_id, cf.u, p.x, sum(cf.c * p.v) AS tv
         |  FROM px p JOIN coef cf ON cf.yy = p.y GROUP BY 1, 2, 3),
         |d2 AS (SELECT t1.doc_id, t1.u, cf.u AS v2, sum(t1.tv * cf.c) AS dv
         |  FROM t1 JOIN coef cf ON cf.yy = t1.x GROUP BY 1, 2, 3),
         |acs AS (SELECT doc_id, u, v2, dv,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY dv) AS rn
         |  FROM d2 WHERE NOT (u = 0 AND v2 = 0)),
         |med AS (SELECT doc_id, dv AS m FROM acs WHERE rn = 32),
         |bits AS (SELECT a.doc_id,
         |    CAST(sum(CASE WHEN a.dv > med.m AND a.u * 8 + a.v2 < 32
         |      THEN CAST(1 AS BIGINT) << CAST(a.u * 8 + a.v2 AS INT)
         |      ELSE 0 END) AS BIGINT) AS lo,
         |    CAST(sum(CASE WHEN a.dv > med.m AND a.u * 8 + a.v2 >= 32
         |      THEN CAST(1 AS BIGINT) << CAST(a.u * 8 + a.v2 - 32 AS INT)
         |      ELSE 0 END) AS BIGINT) AS hi
         |  FROM acs a JOIN med USING (doc_id) GROUP BY 1)
         |SELECT doc_id,
         |  (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
         |    * 4294967296 + lo AS phash
         |FROM bits ORDER BY doc_id""".stripMargin
    },

    "mm_image_dedup" ->
      """WITH px AS (
        |  SELECT doc_id, xs.x, ys.y,
        |    ((doc_id // 2) * 37
        |     + ((doc_id // 2) // 200) * (xs.x // 9 + 3 * (ys.y // 2) + 1)
        |     + (xs.x // 9) * 23 + (ys.y // 2) * 41) % 200
        |    + (CASE WHEN doc_id % 2 = 1 AND xs.x // 9 = (doc_id // 2) % 8
        |        AND ys.y // 2 = ((doc_id // 2) // 8) % 8 THEN 25 ELSE 0 END) AS v
        |  FROM documents,
        |    (SELECT unnest(generate_series(0, 71)) AS x) xs,
        |    (SELECT unnest(generate_series(0, 15)) AS y) ys),
        |acell AS (SELECT doc_id, y // 2 AS by, x // 9 AS bx, sum(v) // 18 AS val
        |  FROM px GROUP BY 1, 2, 3),
        |amean AS (SELECT doc_id, sum(val) // 64 AS mean FROM acell GROUP BY 1),
        |ah AS (SELECT acell.doc_id,
        |    CAST(sum(CASE WHEN val >= mean AND by * 8 + bx < 32
        |        THEN CAST(1 AS BIGINT) << CAST(by * 8 + bx AS INT) ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN val >= mean AND by * 8 + bx >= 32
        |        THEN CAST(1 AS BIGINT) << CAST(by * 8 + bx - 32 AS INT) ELSE 0 END) AS BIGINT) AS hi
        |  FROM acell JOIN amean USING (doc_id) GROUP BY 1),
        |ahf AS (SELECT doc_id,
        |    (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
        |      * 4294967296 + lo AS ahash FROM ah),
        |dcell AS (SELECT doc_id, y // 2 AS by, x // 8 AS bx, sum(v) // 16 AS val
        |  FROM px GROUP BY 1, 2, 3),
        |dh AS (SELECT l.doc_id,
        |    CAST(sum(CASE WHEN l.val < r.val AND l.by * 8 + l.bx < 32
        |        THEN CAST(1 AS BIGINT) << CAST(l.by * 8 + l.bx AS INT) ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN l.val < r.val AND l.by * 8 + l.bx >= 32
        |        THEN CAST(1 AS BIGINT) << CAST(l.by * 8 + l.bx - 32 AS INT) ELSE 0 END) AS BIGINT) AS hi
        |  FROM dcell l JOIN dcell r
        |    ON l.doc_id = r.doc_id AND l.by = r.by AND r.bx = l.bx + 1
        |  GROUP BY 1),
        |dhf AS (SELECT doc_id,
        |    (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
        |      * 4294967296 + lo AS dhash FROM dh),
        |f AS (SELECT ahf.doc_id, ahash, dhash FROM ahf JOIN dhf USING (doc_id)),
        |bands AS (SELECT doc_id, ahash, dhash, g.b AS band_idx,
        |    (ahash >> (g.b * 16)) & 65535 AS band_val
        |  FROM f, (SELECT unnest(generate_series(0, 3)) AS b) g),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    bit_count(xor(a.ahash, b.ahash)) AS ham_a,
        |    bit_count(xor(a.dhash, b.dhash)) AS ham_d
        |  FROM bands a JOIN bands b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        |      AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(ham_a AS BIGINT) AS ham_a,
        |  CAST(ham_d AS BIGINT) AS ham_d
        |FROM cand WHERE ham_a <= 6 ORDER BY id_a, id_b""".stripMargin,

    // the funnel digest replayed without touching a container byte:
    // page construction closed-form, host-varied resolution via the
    // synthetic-url CASE, the full integer aHash, and the md5 of the
    // pos-ordered canonical rendering
    "web_interleaved_e2e" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |ie_px AS (
        |  SELECT doc_id, xs.x, ys.y,
        |    ((doc_id // 2) * 37
        |     + ((doc_id // 2) // 200) * (xs.x // 9 + 3 * (ys.y // 2) + 1)
        |     + (xs.x // 9) * 23 + (ys.y // 2) * 41) % 200
        |    + (CASE WHEN doc_id % 2 = 1 AND xs.x // 9 = (doc_id // 2) % 8
        |        AND ys.y // 2 = ((doc_id // 2) // 8) % 8 THEN 25 ELSE 0 END) AS v
        |  FROM documents,
        |    (SELECT unnest(generate_series(0, 71)) AS x) xs,
        |    (SELECT unnest(generate_series(0, 15)) AS y) ys),
        |ie_acell AS (SELECT doc_id, y // 2 AS by, x // 9 AS bx,
        |    sum(v) // 18 AS val
        |  FROM ie_px GROUP BY 1, 2, 3),
        |ie_amean AS (SELECT doc_id, sum(val) // 64 AS mean
        |  FROM ie_acell GROUP BY 1),
        |ie_ah AS (SELECT ie_acell.doc_id,
        |    CAST(sum(CASE WHEN val >= mean AND by * 8 + bx < 32
        |        THEN CAST(1 AS BIGINT) << CAST(by * 8 + bx AS INT)
        |      ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN val >= mean AND by * 8 + bx >= 32
        |        THEN CAST(1 AS BIGINT) << CAST(by * 8 + bx - 32 AS INT)
        |      ELSE 0 END) AS BIGINT) AS hi
        |  FROM ie_acell JOIN ie_amean USING (doc_id) GROUP BY 1),
        |ie_ahf AS (SELECT doc_id AS img_id,
        |    CAST((CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
        |      * 4294967296 + lo AS BIGINT) AS ahash FROM ie_ah),
        |ie_canon AS (SELECT d.doc_id,
        |    't:head kw' || CAST(d.doc_id AS VARCHAR) || chr(10) ||
        |    't:intro text alpha bold' || chr(10) ||
        |    'i:https://img.example.net/i/' ||
        |      CAST(d.doc_id % nn.n AS VARCHAR) || '.bmp:' ||
        |      CAST(a.ahash AS VARCHAR) || chr(10) ||
        |    't:middle beta' || chr(10) ||
        |    'i:https://' ||
        |      CASE d.doc_id % 4 WHEN 0 THEN 'news.' || d.source || '.co.uk'
        |        WHEN 1 THEN 'www.' || d.source || '.example.com'
        |        WHEN 2 THEN d.source || '.example.org'
        |        ELSE 'cdn.' || d.source || '.com.au' END ||
        |      '/rel/' || CAST((d.doc_id + 1) % nn.n AS VARCHAR) || '.png:'
        |      AS canon
        |  FROM documents d CROSS JOIN nn
        |  JOIN ie_ahf a ON a.img_id = d.doc_id % nn.n)
        |SELECT doc_id, CAST(3 AS BIGINT) AS n_text,
        |  CAST(2 AS BIGINT) AS n_images, CAST(1 AS BIGINT) AS n_paired,
        |  md5(canon) AS interleave_md5
        |FROM ie_canon ORDER BY doc_id""".stripMargin,

    // the four per-page rule verdicts stated closed-form (img 0 kept,
    // 1 filename-alt, 2 one-worder, 3 never decoded)
    "web_image_text_filter" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |itf_p AS (
        |  SELECT d.doc_id, 0 AS pos,
        |    'https://img.example.net/i/' ||
        |      CAST(d.doc_id % nn.n AS VARCHAR) || '.bmp' AS image_url,
        |    'scenic mountain view ' || CAST(d.doc_id % nn.n AS VARCHAR)
        |      AS alt_text,
        |    TRUE AS keep, 'kept' AS reason
        |  FROM documents d, nn
        |  UNION ALL
        |  SELECT d.doc_id, 1,
        |    'https://img.example.net/i/' ||
        |      CAST((d.doc_id + 1) % nn.n AS VARCHAR) || '.bmp',
        |    'IMG_0042.jpg', FALSE, 'alt_filename'
        |  FROM documents d, nn
        |  UNION ALL
        |  SELECT d.doc_id, 2,
        |    'https://img.example.net/i/' ||
        |      CAST((d.doc_id + 2) % nn.n AS VARCHAR) || '.bmp',
        |    'image', FALSE, 'alt_too_short'
        |  FROM documents d, nn
        |  UNION ALL
        |  SELECT d.doc_id, 3,
        |    'https://docs.example.org/local/' ||
        |      CAST((d.doc_id + 3) % nn.n AS VARCHAR) || '.bmp',
        |    'a nice caption here', FALSE, 'no_image'
        |  FROM documents d, nn)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos, image_url, alt_text,
        |  keep, reason
        |FROM itf_p ORDER BY doc_id, pos""".stripMargin,

    // precedence replayed closed-form: og rows always; the inline dup of
    // the og image survives ONLY on the relative-og pages (%3=1), where
    // the og URL resolves elsewhere; gallery inline rows always
    "web_og_image_pairs" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |d AS (SELECT doc_id, doc_id % nn.n AS k0, (doc_id + 1) % nn.n AS k1,
        |    doc_id % 3 = 1 AS rel FROM documents, nn),
        |og AS (SELECT doc_id, 'og' AS channel,
        |  CASE WHEN rel THEN 'https://docs.example.org/pages/sub/hero/' ||
        |      CAST(k0 AS VARCHAR) || '.bmp'
        |    ELSE 'https://img.example.net/i/' ||
        |      CAST(k0 AS VARCHAR) || '.bmp' END AS image_url,
        |  'OG caption & ' || CAST(doc_id AS VARCHAR) AS caption FROM d),
        |img1 AS (SELECT doc_id, 'img' AS channel,
        |  'https://img.example.net/i/' || CAST(k0 AS VARCHAR) || '.bmp'
        |    AS image_url,
        |  'inline dup ' || CAST(k0 AS VARCHAR) AS caption FROM d WHERE rel),
        |img2 AS (SELECT doc_id, 'img' AS channel,
        |  'https://docs.example.org/pages/sub/gallery/' ||
        |    CAST(k1 AS VARCHAR) || '.bmp' AS image_url,
        |  'inline ' || CAST(k1 AS VARCHAR) AS caption FROM d)
        |SELECT * FROM og UNION ALL SELECT * FROM img1
        |UNION ALL SELECT * FROM img2
        |ORDER BY doc_id, channel, image_url""".stripMargin,

    // replay of extraction (3 kept images per page, positions 0-2; the
    // script/comment decoys and the srcless <img> contribute nothing),
    // resolution (absolute verbatim; '//' + base scheme; relative =
    // origin + dir + '/' + ref), entity/space normalization of the
    // captions, and the full integer aHash from the shared pixel
    // formula; the third image's host is not in the image table → null
    "web_image_text_pairs" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |itp_px AS (
        |  SELECT doc_id, xs.x, ys.y,
        |    ((doc_id // 2) * 37
        |     + ((doc_id // 2) // 200) * (xs.x // 9 + 3 * (ys.y // 2) + 1)
        |     + (xs.x // 9) * 23 + (ys.y // 2) * 41) % 200
        |    + (CASE WHEN doc_id % 2 = 1 AND xs.x // 9 = (doc_id // 2) % 8
        |        AND ys.y // 2 = ((doc_id // 2) // 8) % 8 THEN 25 ELSE 0 END) AS v
        |  FROM documents,
        |    (SELECT unnest(generate_series(0, 71)) AS x) xs,
        |    (SELECT unnest(generate_series(0, 15)) AS y) ys),
        |itp_acell AS (SELECT doc_id, y // 2 AS by, x // 9 AS bx,
        |    sum(v) // 18 AS val
        |  FROM itp_px GROUP BY 1, 2, 3),
        |itp_amean AS (SELECT doc_id, sum(val) // 64 AS mean
        |  FROM itp_acell GROUP BY 1),
        |itp_ah AS (SELECT itp_acell.doc_id,
        |    CAST(sum(CASE WHEN val >= mean AND by * 8 + bx < 32
        |        THEN CAST(1 AS BIGINT) << CAST(by * 8 + bx AS INT)
        |      ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN val >= mean AND by * 8 + bx >= 32
        |        THEN CAST(1 AS BIGINT) << CAST(by * 8 + bx - 32 AS INT)
        |      ELSE 0 END) AS BIGINT) AS hi
        |  FROM itp_acell JOIN itp_amean USING (doc_id) GROUP BY 1),
        |itp_ahf AS (SELECT doc_id AS img_id,
        |    CAST((CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
        |      * 4294967296 + lo AS BIGINT) AS ahash FROM itp_ah),
        |itp_pairs AS (
        |  SELECT d.doc_id, 0 AS pos,
        |    'https://img.example.net/i/' ||
        |      CAST(d.doc_id % nn.n AS VARCHAR) || '.bmp' AS image_url,
        |    'figure & caption ' || CAST(d.doc_id % nn.n AS VARCHAR)
        |      AS alt_text,
        |    '' AS title, d.doc_id % nn.n AS img_key
        |  FROM documents d, nn
        |  UNION ALL
        |  SELECT d.doc_id, 1,
        |    'https://img.example.net/i/' ||
        |      CAST((d.doc_id + 1) % nn.n AS VARCHAR) || '.bmp',
        |    '', 't' || CAST((d.doc_id + 1) % nn.n AS VARCHAR),
        |    (d.doc_id + 1) % nn.n
        |  FROM documents d, nn
        |  UNION ALL
        |  SELECT d.doc_id, 2,
        |    'https://docs.example.org/pages/sub/gallery/' ||
        |      CAST((d.doc_id + 2) % nn.n AS VARCHAR) || '.bmp',
        |    'local ' || CAST((d.doc_id + 2) % nn.n AS VARCHAR), '', NULL
        |  FROM documents d, nn)
        |SELECT p.doc_id, CAST(p.pos AS BIGINT) AS pos, p.image_url,
        |  p.alt_text, p.title, a.ahash
        |FROM itp_pairs p LEFT JOIN itp_ahf a ON p.img_key = a.img_id
        |ORDER BY p.doc_id, p.pos""".stripMargin,

    // brand/extents as closed forms; the mp42 branch must refuse
    "mm_image_avif_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN '(refused)'
        |       WHEN doc_id % 2 = 0 THEN 'avif' ELSE 'heic' END AS brand,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN -1
        |       ELSE doc_id % 4000 + 16 END AS INTEGER) AS width,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN -1
        |       ELSE doc_id % 3000 + 16 END AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    // replay of the hemisphere signs + the per-term truncating
    // micro-degree arithmetic as closed forms of doc_id
    "mm_image_gps" ->
      """WITH d AS (SELECT doc_id,
        |    doc_id % 90 AS latd, (doc_id * 3) % 60 AS latm,
        |    (doc_id * 37) % 6000 AS lats,
        |    doc_id % 180 AS lond, (doc_id * 7) % 60 AS lonm,
        |    (doc_id * 53) % 6000 AS lons,
        |    doc_id % 9 = 0 AS nogps,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END AS lsign,
        |    CASE WHEN doc_id % 3 = 0 THEN -1 ELSE 1 END AS osign
        |  FROM documents)
        |SELECT doc_id, NOT nogps AS has_gps,
        |  CAST(CASE WHEN nogps THEN 0 ELSE lsign * (latd * 1000000
        |    + (latm * 1000000) // 60 + (lats * 1000000) // 360000) END
        |    AS BIGINT) AS lat_micro,
        |  CAST(CASE WHEN nogps THEN 0 ELSE osign * (lond * 1000000
        |    + (lonm * 1000000) // 60 + (lons * 1000000) // 360000) END
        |    AS BIGINT) AS lon_micro
        |FROM d ORDER BY doc_id""".stripMargin,

    // every field a closed form of (doc_id, idx): the stored byte with
    // the 0-means-256 decode, the bpp cycle, the payload-parity sniff
    "mm_image_ico" ->
      """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS n FROM documents),
        |k AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS idx FROM d),
        |e AS (SELECT doc_id, CAST(idx AS INTEGER) AS idx,
        |    CAST(CASE WHEN (doc_id + 17*idx) % 256 = 0 THEN 256
        |         ELSE (doc_id + 17*idx) % 256 END AS INTEGER) AS width,
        |    CAST(CASE WHEN (doc_id + 29*idx) % 256 = 0 THEN 256
        |         ELSE (doc_id + 29*idx) % 256 END AS INTEGER) AS height,
        |    CAST(CASE idx % 3 WHEN 0 THEN 32 WHEN 1 THEN 8 ELSE 4 END
        |      AS INTEGER) AS bpp,
        |    CAST(8 AS BIGINT) AS n_bytes,
        |    (doc_id + idx) % 2 = 0 AS is_png
        |  FROM k)
        |SELECT doc_id, idx, width, height, bpp, n_bytes, is_png
        |FROM e ORDER BY doc_id, idx""".stripMargin,
    // replay of the exact integer mean-luma arithmetic over the same
    // doc_id-derived frame pixels the AVI fixtures embed (r=g=b=v so
    // per-pixel luma == v); sampling = every 2nd frame index
    "mm_video_framesample" ->
      """WITH d AS (SELECT doc_id, doc_id % 6 + 4 AS f FROM documents),
        |t AS (SELECT doc_id, unnest(generate_series(0, f - 1)) AS t FROM d),
        |st AS (SELECT doc_id, t FROM t WHERE t % 2 = 0),
        |px AS (SELECT st.doc_id, st.t, xs.x, ys.y,
        |    (doc_id * 13 + t * 17 + x * 7 + y * 29) % 256 AS v
        |  FROM st,
        |    (SELECT unnest(generate_series(0, 7)) AS x) xs,
        |    (SELECT unnest(generate_series(0, 1)) AS y) ys)
        |SELECT doc_id, CAST(t AS INTEGER) AS frame_idx,
        |  CAST(sum(v) // 16 AS INTEGER) AS mean_luma
        |FROM px GROUP BY doc_id, t ORDER BY doc_id, frame_idx""".stripMargin,
    // replay of the exact integer mean-luma arithmetic over the same
    // doc_id-derived MP4 frame pixels (r=g=b=v so per-pixel luma == v);
    // sampling = every 3rd sample-table index
    "mm_video_framesample_mp4" ->
      """WITH d AS (SELECT doc_id, doc_id % 5 + 6 AS f FROM documents),
        |t AS (SELECT doc_id, unnest(generate_series(0, f - 1)) AS t FROM d),
        |st AS (SELECT doc_id, t FROM t WHERE t % 3 = 0),
        |px AS (SELECT st.doc_id, st.t, xs.x, ys.y,
        |    (doc_id * 19 + t * 31 + x * 11 + y * 53) % 256 AS v
        |  FROM st,
        |    (SELECT unnest(generate_series(0, 7)) AS x) xs,
        |    (SELECT unnest(generate_series(0, 1)) AS y) ys)
        |SELECT doc_id, CAST(t AS INTEGER) AS frame_idx,
        |  CAST(sum(v) // 16 AS INTEGER) AS mean_luma
        |FROM px GROUP BY doc_id, t ORDER BY doc_id, frame_idx""".stripMargin,
    // both scene-pattern hashes replayed bit-for-bit (lo/hi sign-fix)
    // and the cut threshold re-derived — scenes follow from it, they
    // are never assumed
    "mm_video_scenes" ->
      """WITH vs_p AS (SELECT doc_id, ps.p,
        |    (((doc_id * 48271) % 65537) * (ps.p + 1)) % 65537 % 200 AS va,
        |    (((doc_id * 48271 + 12345) % 65537) * (ps.p + 1)) % 65537
        |      % 200 AS vb
        |  FROM documents, (SELECT unnest(generate_series(0, 63)) AS p) ps),
        |vs_m AS (SELECT doc_id, sum(va) // 64 AS ma, sum(vb) // 64 AS mb
        |  FROM vs_p GROUP BY 1),
        |vs_h AS (SELECT p.doc_id,
        |    CAST(sum(CASE WHEN va >= ma AND p < 32
        |        THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE 0 END)
        |      AS BIGINT) AS alo,
        |    CAST(sum(CASE WHEN va >= ma AND p >= 32
        |        THEN CAST(1 AS BIGINT) << CAST(p - 32 AS INT) ELSE 0 END)
        |      AS BIGINT) AS ahi,
        |    CAST(sum(CASE WHEN vb >= mb AND p < 32
        |        THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE 0 END)
        |      AS BIGINT) AS blo,
        |    CAST(sum(CASE WHEN vb >= mb AND p >= 32
        |        THEN CAST(1 AS BIGINT) << CAST(p - 32 AS INT) ELSE 0 END)
        |      AS BIGINT) AS bhi
        |  FROM vs_p p JOIN vs_m m USING (doc_id) GROUP BY 1),
        |vs_c AS (SELECT doc_id, doc_id % 5 + 2 AS c,
        |    CASE WHEN bit_count(xor(
        |      CAST((CASE WHEN ahi >= 2147483648 THEN ahi - 4294967296
        |        ELSE ahi END) * 4294967296 + alo AS BIGINT),
        |      CAST((CASE WHEN bhi >= 2147483648 THEN bhi - 4294967296
        |        ELSE bhi END) * 4294967296 + blo AS BIGINT))) > 16
        |      THEN 1 ELSE 0 END AS cut
        |  FROM vs_h)
        |SELECT doc_id, CAST(scene_idx AS BIGINT) AS scene_idx,
        |  CAST(start_frame AS BIGINT) AS start_frame,
        |  CAST(end_frame AS BIGINT) AS end_frame,
        |  CAST(n_frames AS BIGINT) AS n_frames
        |FROM (
        |  SELECT doc_id, 0 AS scene_idx, 0 AS start_frame,
        |    CASE WHEN cut = 1 THEN c - 1 ELSE 7 END AS end_frame,
        |    CASE WHEN cut = 1 THEN c ELSE 8 END AS n_frames
        |  FROM vs_c
        |  UNION ALL
        |  SELECT doc_id, 1, c, 7, 8 - c FROM vs_c WHERE cut = 1)
        |ORDER BY doc_id, scene_idx""".stripMargin,

    // replay of the full video near-dup pipeline from the shared pixel
    // formula: sampled frames {0,2,4} → per-frame mean → every aHash
    // sign bit (lo/hi halves, sign-fixed 64-bit) → 4×16-bit bands →
    // hamming ≤ 6 frame pairs → distinct → per-video-pair rollup ≥ 2
    "mm_video_dedup" ->
      """WITH vd_d AS (SELECT doc_id, doc_id // 2 AS g FROM documents),
        |vd_px AS (SELECT doc_id, g, ts.t, xs.x, ys.y,
        |    (((g * 48271) % 65537)
        |     * (ys.y * 8 + xs.x + 16 * ts.t + 1)) % 65537 % 200
        |    + (CASE WHEN doc_id % 2 = 1 AND ts.t = 2 * (g % 3)
        |        AND xs.x = g % 8 AND ys.y = 0 THEN 55 ELSE 0 END) AS v
        |  FROM vd_d,
        |    (SELECT unnest([0, 2, 4]) AS t) ts,
        |    (SELECT unnest(generate_series(0, 7)) AS x) xs,
        |    (SELECT unnest(generate_series(0, 7)) AS y) ys),
        |vd_mean AS (SELECT doc_id, t, sum(v) // 64 AS mean
        |  FROM vd_px GROUP BY 1, 2),
        |vd_h AS (SELECT p.doc_id, p.t,
        |    CAST(sum(CASE WHEN v >= mean AND y * 8 + x < 32
        |        THEN CAST(1 AS BIGINT) << CAST(y * 8 + x AS INT)
        |      ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN v >= mean AND y * 8 + x >= 32
        |        THEN CAST(1 AS BIGINT) << CAST(y * 8 + x - 32 AS INT)
        |      ELSE 0 END) AS BIGINT) AS hi
        |  FROM vd_px p JOIN vd_mean m ON p.doc_id = m.doc_id AND p.t = m.t
        |  GROUP BY 1, 2),
        |vd_f AS MATERIALIZED (SELECT doc_id, t,
        |    CAST((CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
        |      * 4294967296 + lo AS BIGINT) AS fhash FROM vd_h),
        |vd_bands AS (SELECT doc_id, t, fhash, g.b AS band_idx,
        |    (fhash >> (g.b * 16)) & 65535 AS band_val
        |  FROM vd_f, (SELECT unnest(generate_series(0, 3)) AS b) g),
        |vd_cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.t AS ta, b.t AS tb
        |  FROM vd_bands a JOIN vd_bands b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        |      AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.fhash, b.fhash)) <= 6)
        |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_match
        |FROM vd_cand GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // replay of the floor-division block-grid means over the same
    // doc_id-derived pixels as mm_image_dedup (r=g=b=v so luma==v);
    // 6×4 grid over 72×16 → 12×4-px cells, cell_idx row-major
    "mm_image_resize" ->
      """WITH px AS (
        |  SELECT doc_id, xs.x, ys.y,
        |    ((doc_id // 2) * 37
        |     + ((doc_id // 2) // 200) * (xs.x // 9 + 3 * (ys.y // 2) + 1)
        |     + (xs.x // 9) * 23 + (ys.y // 2) * 41) % 200
        |    + (CASE WHEN doc_id % 2 = 1 AND xs.x // 9 = (doc_id // 2) % 8
        |        AND ys.y // 2 = ((doc_id // 2) // 8) % 8 THEN 25 ELSE 0 END) AS v
        |  FROM documents,
        |    (SELECT unnest(generate_series(0, 71)) AS x) xs,
        |    (SELECT unnest(generate_series(0, 15)) AS y) ys),
        |cell AS (SELECT doc_id, y // 4 AS by, x // 12 AS bx,
        |    sum(v) // 48 AS gray
        |  FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(by * 6 + bx AS INTEGER) AS cell_idx,
        |  CAST(gray AS INTEGER) AS gray
        |FROM cell ORDER BY doc_id, cell_idx""".stripMargin,
    "mm_image_png" ->
      """SELECT vec_id, CAST(i - 1 AS INTEGER) AS cell_idx,
        |  CAST(CAST(floor(abs(CAST(embedding[i] AS DOUBLE)) * 1000000 + 0.5)
        |    AS BIGINT) % 256 AS INTEGER) AS gray
        |FROM embeddings CROSS JOIN
        |  (SELECT unnest(generate_series(1, 64)) AS i) dims
        |ORDER BY vec_id, cell_idx""".stripMargin,
    "mm_image_webp_meta" ->
      """SELECT doc_id, 'webp' AS format,
        |  CAST(doc_id % 300 + 16 AS INTEGER) AS width,
        |  CAST(doc_id % 200 + 16 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_image_exif" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       ELSE CAST(doc_id % 8 + 1 AS INTEGER) END AS orientation
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_image_gif" ->
      """SELECT 'gif_blocks' AS img, CAST(by * 4 + bx AS INTEGER) AS cell_idx,
        |  CAST((37 * bx + 59 * by + 23) % 256 AS INTEGER) AS gray
        |FROM (SELECT unnest(generate_series(0, 3)) AS bx) a,
        |     (SELECT unnest(generate_series(0, 2)) AS by) b
        |ORDER BY img, cell_idx""".stripMargin,
    "mm_image_jpeg_prog" ->
      """SELECT 'prog_blocks' AS img, CAST(by * 4 + bx AS INTEGER) AS cell_idx,
        |  CAST((37 * bx + 59 * by + 23) % 256 AS INTEGER) AS gray
        |FROM (SELECT unnest(generate_series(0, 3)) AS bx) a,
        |     (SELECT unnest(generate_series(0, 2)) AS by) b
        |ORDER BY img, cell_idx""".stripMargin,
    "mm_image_jpeg" ->
      """SELECT 'gray_blocks' AS img, CAST(by * 4 + bx AS INTEGER) AS cell_idx,
        |  CAST((37 * bx + 59 * by + 23) % 256 AS INTEGER) AS gray
        |FROM (SELECT unnest(generate_series(0, 3)) AS bx) a,
        |     (SELECT unnest(generate_series(0, 2)) AS by) b
        |UNION ALL
        |SELECT 'blocks420' AS img, CAST(by * 4 + bx AS INTEGER) AS cell_idx,
        |  CAST((29 * bx + 43 * by + 50) % 256 AS INTEGER) AS gray
        |FROM (SELECT unnest(generate_series(0, 3)) AS bx) a,
        |     (SELECT unnest(generate_series(0, 3)) AS by) b
        |ORDER BY img, cell_idx""".stripMargin
  )
}
