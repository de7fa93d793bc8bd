package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{QualityClassifierOps, SamplingOps}

/** Media-codec statistics family (round 14): color statistics from
  * JPEG chroma DC, MP3 sample decode, trained image-text gating.
  * Fixture posture: committed containers from independent encoders
  * (tools/gen_*_fixtures.py), oracles replaying the construction
  * arithmetic — never the bytes.
  */
object MediaQueries extends QueryPack {

  /** tools/gen_jpeg_fixtures.py `colorstats420`: 32×32 4:2:0,
    * block-constant Y/Cb/Cr mosaics on q₀=8 tables — every DC
    * quantizes losslessly, so jpeg_color_stats is an exact closed
    * form of the block formulas.
    */
  private val colorstats420Hex =
    "FFD8FFDB004300080C0C0E0E0E1010101012121212121414141414141616161616161618181818181818181A1A1A1A1A1A1A" +
      "1C1C1C1C1C1C1E1E1E1E1E20202020222222242426FFDB004301080C0C0E0E0E101010101212121212141414141414161616" +
      "1616161618181818181818181A1A1A1A1A1A1A1C1C1C1C1C1C1E1E1E1E1E20202020222222242426FFC00011080020002003" +
      "012200021101031101FFC40014100100000000000000000000000000000000FFC40014110100000000000000000000000000" +
      "000000FFC40017000000040000000000000000000000000002050607FFC40016010003000000000000000000000000000005" +
      "0607FFDA000C03010002110311003F0069C7A10F4BE9D823D087A72568871E843D1421823D087A72569FFFD9"

  // --- MPEG-1 Layer III side-info fixture configs -------------------
  // Finite config set → per-config frame hex packed HERE (independent
  // of the parser's bit reader); the oracle states every field as a
  // CASE over doc_id%6. 128 kbps @ 44100 → 417-byte frames.

  private case class SiCfg(stereo: Boolean, crc: Boolean, mdb: Int,
                           p23: Int, bv: Int, gg: Int, sfc: Int, wsf: Int,
                           blockType: Int, tables: Seq[Int], r0: Int, r1: Int,
                           pre: Int, sfs: Int, c1t: Int) {
    def nch: Int = if (stereo) 2 else 1
    def siBytes: Int = if (stereo) 32 else 17
    def mdBytes: Int = 417 - 4 - (if (crc) 2 else 0) - siBytes
    def tablesStr: String = tables.mkString("-")

    /** One complete frame as hex: header, optional CRC, side info
      * (identical granule/channel chunks), zero main data.
      */
    def frameHex: String = {
      val bits = new StringBuilder
      def put(v: Int, n: Int): Unit =
        bits.append(String.format(s"%${n}s",
          Integer.toBinaryString(v)).replace(' ', '0'))
      put(mdb, 9)
      put(0, if (stereo) 3 else 5) // private_bits
      put(0, 4 * nch) // scfsi
      for (_ <- 0 until 2; _ <- 0 until nch) {
        put(p23, 12); put(bv, 9); put(gg, 8); put(sfc, 4); put(wsf, 1)
        if (wsf == 1) {
          put(blockType, 2); put(0, 1) // mixed_block_flag
          tables.foreach(put(_, 5)); put(0, 9) // subblock_gain
        } else {
          tables.foreach(put(_, 5)); put(r0, 4); put(r1, 3)
        }
        put(pre, 1); put(sfs, 1); put(c1t, 1)
      }
      val si = bits.toString.grouped(8)
        .map(s => f"${Integer.parseInt(s, 2)}%02X").mkString
      val b1 = 0xE0 | (3 << 3) | (1 << 1) | (if (crc) 0 else 1)
      val b2 = (9 << 4) // bitrate idx 9 = 128 kbps, sr idx 0 = 44100
      val b3 = (if (stereo) 0 else 3) << 6
      f"FF$b1%02X$b2%02X$b3%02X" +
        (if (crc) "0000" else "") + si + "00" * mdBytes
    }
  }

  private val siCfgs: Seq[SiCfg] = Seq(
    SiCfg(stereo = false, crc = false, mdb = 0, p23 = 250, bv = 40,
      gg = 180, sfc = 3, wsf = 0, blockType = 0, tables = Seq(1, 2, 3),
      r0 = 5, r1 = 3, pre = 0, sfs = 1, c1t = 0),
    SiCfg(stereo = false, crc = false, mdb = 100, p23 = 300, bv = 60,
      gg = 200, sfc = 7, wsf = 1, blockType = 2, tables = Seq(7, 9),
      r0 = -1, r1 = -1, pre = 1, sfs = 0, c1t = 1),
    SiCfg(stereo = true, crc = false, mdb = 511, p23 = 1000, bv = 120,
      gg = 90, sfc = 15, wsf = 0, blockType = 0, tables = Seq(10, 11, 12),
      r0 = 15, r1 = 7, pre = 0, sfs = 0, c1t = 1),
    SiCfg(stereo = false, crc = false, mdb = 40, p23 = 0, bv = 0,
      gg = 0, sfc = 0, wsf = 0, blockType = 0, tables = Seq(0, 0, 0),
      r0 = 0, r1 = 0, pre = 0, sfs = 0, c1t = 0),
    SiCfg(stereo = true, crc = false, mdb = 200, p23 = 512, bv = 288,
      gg = 255, sfc = 9, wsf = 1, blockType = 3, tables = Seq(31, 30),
      r0 = -1, r1 = -1, pre = 1, sfs = 1, c1t = 0),
    SiCfg(stereo = false, crc = true, mdb = 30, p23 = 123, bv = 77,
      gg = 128, sfc = 5, wsf = 0, blockType = 0, tables = Seq(15, 16, 17),
      r0 = 4, r1 = 2, pre = 0, sfs = 1, c1t = 1))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // IMA ADPCM → PCM (functions.ImaAdpcm): the compressed-audio
    // SAMPLE-DECODE mile — 4-bit adaptive-delta nibbles expand through
    // the published step/index tables into full 16-bit PCM, re-wrapped
    // as a canonical WAV and fed straight into audio_pcm_stats (the
    // FLAC/G.711 contract). Blobs are real single-block IMA WAVs built
    // scan-side (fmt 0x11 + fact + data; predictor/index/nibbles all
    // doc_id formulas); the oracle replays the ENTIRE adaptive
    // recurrence per sample as a recursive CTE over the same step
    // tables and re-derives every stat — the codec has no rounding
    // freedom, so one hash certifies decode, container round trip, and
    // stats. Independent-encoder exactness is pinned in ImaAdpcmSpec.
    "mm_audio_adpcm_pcm" -> ((s, dir) => {
      import MmFixtures.le
      def delta(k: String) = s"((doc_id * 7 + ($k) * 13) % 16)"
      val nibbles = s"array_join(transform(sequence(0, 15), j -> " +
        s"lpad(hex(${delta("2 * j + 2")} * 16 + ${delta("2 * j + 1")}), 2, '0')), '')"
      val blockHex = s"concat(${MmFixtures.leSample16("(doc_id % 1001 - 500)")}, " +
        s"lpad(hex(doc_id % 89), 2, '0'), '00', $nibbles)"
      val wavHex =
        s"""concat('52494646', ${le("72", 4)}, '57415645',
           |  '666D7420', ${le("20", 4)}, ${le("17", 2)}, ${le("1", 2)},
           |  ${le("8000", 4)}, ${le("4000", 4)}, ${le("20", 2)}, ${le("4", 2)},
           |  ${le("2", 2)}, ${le("33", 2)},
           |  '66616374', ${le("4", 4)}, ${le("33", 4)},
           |  '64617461', ${le("20", 4)}, $blockHex)""".stripMargin
      Tables.documents(s, dir)
        .withColumn("pcm", expr(s"adpcm_to_pcm(unhex($wavHex))"))
        .selectExpr("doc_id", "octet_length(pcm) AS n_bytes",
          "audio_pcm_stats(pcm) AS st")
        .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("st.n_samples").cast("long").as("n_samples"),
          col("st.peak").cast("long").as("peak"),
          col("st.sum_sq").as("sum_sq"),
          col("st.zero_crossings").cast("long").as("zero_crossings"))
        .orderBy(col("doc_id"))
    }),

    // MS ADPCM (tag 0x0002) sample decode, same contract as the IMA
    // path: single-block mono WAVs built scan-side (predictor/delta/
    // header samples/nibbles all doc_id formulas; the 7 standard
    // coefficient pairs written into the fmt extension, where the
    // decoder reads them from), decoded to PCM and fed to
    // audio_pcm_stats. The oracle replays the two-tap prediction +
    // delta adaptation per sample as a recursive CTE — C-truncating
    // division and all — so one hash certifies decode, container
    // round trip, and stats. Independent-encoder exactness is pinned
    // in MsAdpcmSpec.
    "mm_audio_msadpcm_pcm" -> ((s, dir) => {
      import MmFixtures.{le, leSample16}
      def nib(k: String) = s"((doc_id * 7 + ($k) * 13) % 16)"
      val nibbles = s"array_join(transform(sequence(0, 15), j -> " +
        s"lpad(hex(${nib("2 * j + 1")} * 16 + ${nib("2 * j + 2")}), 2, '0')), '')"
      val blockHex = s"concat(lpad(hex(doc_id % 7), 2, '0'), " +
        s"${le("16 + doc_id % 100", 2)}, " +
        s"${leSample16("(doc_id % 1001 - 500)")}, " +
        s"${leSample16("((doc_id * 3) % 1001 - 500)")}, $nibbles)"
      val coefHex = graft.functions.MsAdpcm.Coef1
        .zip(graft.functions.MsAdpcm.Coef2)
        .map { case (a, c) =>
          f"${(a & 0xff)}%02X${(a >> 8) & 0xff}%02X" +
            f"${(c & 0xff)}%02X${(c >> 8) & 0xff}%02X"
        }.mkString
      val wavHex =
        s"""concat('52494646', ${le("105", 4)}, '57415645',
           |  '666D7420', ${le("50", 4)}, ${le("2", 2)}, ${le("1", 2)},
           |  ${le("8000", 4)}, ${le("4000", 4)}, ${le("23", 2)}, ${le("4", 2)},
           |  ${le("32", 2)}, ${le("34", 2)}, ${le("7", 2)}, '$coefHex',
           |  '66616374', ${le("4", 4)}, ${le("34", 4)},
           |  '64617461', ${le("23", 4)}, $blockHex)""".stripMargin
      Tables.documents(s, dir)
        .withColumn("pcm", expr(s"msadpcm_to_pcm(unhex($wavHex))"))
        .selectExpr("doc_id", "octet_length(pcm) AS n_bytes",
          "audio_pcm_stats(pcm) AS st")
        .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("st.n_samples").cast("long").as("n_samples"),
          col("st.peak").cast("long").as("peak"),
          col("st.sum_sq").as("sum_sq"),
          col("st.zero_crossings").cast("long").as("zero_crossings"))
        .orderBy(col("doc_id"))
    }),

    // LAYER III SIDE-INFO WALK + BIT-RESERVOIR AUDIT (the step between
    // the frame-header walk and a sample decode — a full PCM path
    // additionally needs the ISO Huffman/synthesis constant tables,
    // unavailable offline; see MpegMeta.sideInfo). Six configs by
    // doc_id%6 cover mono/stereo layouts, normal and window-switching
    // granule shapes, a CRC-carrying frame, and reservoir pointers
    // from 0 to the 511 cap; 1–3 identical frames per doc make the
    // deficit arithmetic frame-dependent (frame 0 of any stream cut
    // mid-reservoir shows its main_data_begin as deficit). The oracle
    // states every field and the per-frame deficit as closed forms.
    "mm_audio_mp3_sideinfo" -> ((s, dir) => {
      val frameCase = "CASE doc_id % 6 " + siCfgs.zipWithIndex
        .map { case (c, i) => s"WHEN $i THEN '${c.frameHex}'" }
        .mkString(" ") + " END"
      Tables.documents(s, dir)
        .withColumn("blob",
          expr(s"unhex(repeat($frameCase, cast(1 + doc_id % 3 as int)))"))
        .selectExpr("doc_id", "explode(mp3_sideinfo(blob)) AS r")
        .select(col("doc_id"),
          col("r.frame_idx").cast("long").as("frame_idx"),
          col("r.granule").cast("long").as("granule"),
          col("r.channel").cast("long").as("channel"),
          col("r.main_data_begin").cast("long").as("main_data_begin"),
          col("r.reservoir_deficit").cast("long").as("reservoir_deficit"),
          col("r.part2_3_length").cast("long").as("part2_3_length"),
          col("r.big_values").cast("long").as("big_values"),
          col("r.global_gain").cast("long").as("global_gain"),
          col("r.scalefac_compress").cast("long").as("scalefac_compress"),
          col("r.window_switching").cast("long").as("window_switching"),
          col("r.block_type").cast("long").as("block_type"),
          concat_ws("-", col("r.table_select")).as("tables"),
          col("r.region0_count").cast("long").as("region0_count"),
          col("r.region1_count").cast("long").as("region1_count"),
          col("r.preflag").cast("long").as("preflag"),
          col("r.scalefac_scale").cast("long").as("scalefac_scale"),
          col("r.count1table_select").cast("long").as("count1table_select"))
        .orderBy(col("doc_id"), col("frame_idx"), col("granule"),
          col("channel"))
    }),

    // Xing/Info VBR HEADER (mp3_xing): the LAME-family first-frame tag
    // that gives a crawler honest VBR durations without walking every
    // frame — located after header+side-info exactly per the layout,
    // flag-dependent fields (frames/bytes/TOC/quality) by doc_id%4,
    // the Info variant for doc_id%5=0. Closed-form oracle.
    "mm_audio_mp3_xing" -> ((s, dir) => {
      val tocHex = (0 until 100)
        .map(i => f"${i * 255 / 100}%02X").mkString
      val did = "CAST(doc_id AS STRING)"
      // header FFFB90C0 + 17 zero side-info bytes, then the tag
      val tagSql = s"CASE WHEN doc_id % 5 = 0 THEN '496E666F' " +
        "ELSE '58696E67' END" // Info | Xing
      val fieldsSql =
        s"""CASE CAST(doc_id % 4 AS INT)
           |  WHEN 0 THEN concat('0000000F',
           |    lpad(hex(100 + doc_id % 50), 8, '0'),
           |    lpad(hex(41700 + doc_id % 100), 8, '0'),
           |    '$tocHex', lpad(hex(doc_id % 101), 8, '0'))
           |  WHEN 1 THEN concat('00000001',
           |    lpad(hex(100 + doc_id % 50), 8, '0'))
           |  WHEN 2 THEN concat('00000003',
           |    lpad(hex(100 + doc_id % 50), 8, '0'),
           |    lpad(hex(41700 + doc_id % 100), 8, '0'))
           |  ELSE concat('0000000C', '$tocHex',
           |    lpad(hex(doc_id % 101), 8, '0'))
           |END""".stripMargin
      val bodySql = s"concat('FFFB90C0', repeat('00', 17), $tagSql, $fieldsSql)"
      val blobSql = s"concat($bodySql, " +
        s"repeat('00', 417 - octet_length(unhex($bodySql))))"
      Tables.documents(s, dir)
        .withColumn("x", expr(s"mp3_xing(unhex($blobSql))"))
        .select(col("doc_id"),
          col("x.tag").as("tag"),
          col("x.n_frames").cast("long").as("n_frames"),
          col("x.n_bytes").cast("long").as("n_bytes"),
          col("x.has_toc").as("has_toc"),
          col("x.toc_p50").cast("long").as("toc_p50"),
          col("x.quality").cast("long").as("quality"))
        .orderBy(col("doc_id"))
    }),

    // JPEG CHROMA → COLOR STATS (functions.JpegColorStats): the chroma
    // Huffman walk the luma decoder already runs lifts to dequantized
    // DC block means — per-image integer mean color + colorfulness,
    // the solid-color/grayscale-thumbnail gate. Three fixtures: the
    // color DC mosaic (exact closed forms), the blocks420 mosaic whose
    // chroma is constant (neutral Cb, Cr=90), and a pure grayscale
    // file (neutral chroma, colorfulness 0, n_blocks_c 0). The oracle
    // replays every mean from the generator's block formulas over
    // generate_series — no literal result dumps.
    "mm_image_jpeg_color" -> ((s, dir) => {
      import s.implicits._
      Seq(("colorstats420", colorstats420Hex),
          ("blocks420", ExtraQueries.jpegBlocks420Hex),
          ("gray_blocks", ExtraQueries.jpegGrayBlocksHex))
        .toDF("img", "hex")
        .selectExpr("img", "jpeg_color_stats(unhex(hex)) AS st")
        .select(col("img"),
          col("st.width").cast("long").as("width"),
          col("st.height").cast("long").as("height"),
          col("st.y_mean_milli").as("y_mean_milli"),
          col("st.cb_mean_milli").as("cb_mean_milli"),
          col("st.cr_mean_milli").as("cr_mean_milli"),
          col("st.colorfulness_milli").as("colorfulness_milli"),
          col("st.n_blocks_y").as("n_blocks_y"),
          col("st.n_blocks_c").as("n_blocks_c"))
        .orderBy(col("img"))
    }),

    // FULL-RGB color statistics (the upgrade from the DC-only
    // jpeg_color_stats): chroma AC + IDCT + nearest upsample +
    // milli-integer JFIF conversion per PIXEL. On these DC-only
    // mosaics every 8×8 cell is a constant (Y, Cb, Cr), so the oracle
    // replays the per-pixel clamps and opponent-axis sums as exact
    // cell arithmetic. Real-file agreement with ImageIO is pinned in
    // JpegRgbStatsSpec.
    "mm_image_rgb_stats" -> ((s, dir) => {
      import s.implicits._
      Seq(("colorstats420", colorstats420Hex),
          ("blocks420", ExtraQueries.jpegBlocks420Hex),
          ("gray_blocks", ExtraQueries.jpegGrayBlocksHex))
        .toDF("img", "hex")
        .selectExpr("img", "jpeg_rgb_stats(unhex(hex)) AS st")
        .select(col("img"),
          col("st.width").cast("long").as("width"),
          col("st.height").cast("long").as("height"),
          col("st.n_px").as("n_px"),
          col("st.r_mean_milli").as("r_mean_milli"),
          col("st.g_mean_milli").as("g_mean_milli"),
          col("st.b_mean_milli").as("b_mean_milli"),
          col("st.sat_mean_milli").as("sat_mean_milli"),
          col("st.rg_abs_mean_milli").as("rg_abs_mean_milli"),
          col("st.yb2_abs_mean_milli").as("yb2_abs_mean_milli"))
        .orderBy(col("img"))
    }),

    // TRAINED IMAGE-TEXT GATE (the learned upgrade to
    // web_image_text_filter's rule gate — the CLIP-filter shape of
    // LAION-style curation, as a linear head over CROSSED two-tower
    // features): each pair is a real PNG (png_encode_gray of the
    // quantized embedding raster) plus an alt text whose per-cell
    // brightness words agree with the image for even ids and are
    // flipped for odd ids. The engine DECODES the image back
    // (image_resize_gray 2×2 block means), tokenizes the alt, crosses
    // image-cell class × alt word into hashed features, and trains the
    // integer-state logistic head (QualityClassifierOps.trainLogReg —
    // micro-unit weights, quantized errors, integer momentum). The
    // oracle replays the quantization, the cell means, the crossing,
    // and EVERY training round, then the classify scores — any drift
    // in PNG round-trip, resize arithmetic, feature hashing, or a GD
    // round breaks the hash.
    "mm_clip_gate_train" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir)
        .selectExpr("vec_id",
          "transform(embedding, e -> CAST(CAST(floor(abs(CAST(e AS DOUBLE))" +
            " * 1000000 + 0.5) AS BIGINT) % 256 AS INT)) AS qv")
        .withColumn("alt", expr(
          "concat('photo ', array_join(transform(sequence(0, 3), k -> " +
            "CASE WHEN (aggregate(transform(sequence(0, 15), i -> " +
            "qv[(k div 2) * 32 + (i div 4) * 8 + (k % 2) * 4 + i % 4]), " +
            "0, (a, x) -> a + x) div 16 > 127) = (vec_id % 2 = 0) " +
            "THEN 'bright' ELSE 'dark' END), ' '))"))
        .withColumn("blob", expr("png_encode_gray(qv, 8, 8)"))
        .withColumn("g", expr("image_resize_gray(blob, 2, 2)"))
        .localCheckpoint(true) // encode+decode once, reused every round
      val crossed = base.select(col("vec_id"), explode(expr(
        "transform(sequence(0, 3), k -> concat('x:', k, ':', " +
          "CASE WHEN g[k] > 127 THEN 'hi' ELSE 'lo' END, ':', " +
          "element_at(split(alt, ' '), k + 2)))")).as("k"))
      val feat = crossed
        .unionByName(base.select(col("vec_id"), lit("0:bias").as("k")))
        .select(col("vec_id"),
          pmod(SamplingOps.hash60(col("k"), "clip:"), lit(64L)).as("b"))
        .groupBy(col("vec_id"), col("b")).agg(count(lit(1)).as("x"))
      val labels = base.select(col("vec_id"),
        (col("vec_id") % 2 === 0).cast("int").as("y"))
      val w = QualityClassifierOps.trainLogReg(feat, labels, "vec_id",
        numBuckets = 64, rounds = 8, lr = 1.0)
      QualityClassifierOps.classify(feat, "vec_id", w)
        .join(labels, Seq("vec_id"))
        .select(col("vec_id"), col("score_int"), col("pred"), col("y"))
        .orderBy(col("vec_id"))
    }))

  /** Generated training replay for the clip-gate oracle — the
    * classifierTrainCtes shape (WebQueries) on the crossed image-text
    * features: 64 buckets, salt `clip:`, 8 rounds. Round 1 inlines
    * err = (0.5 − y)·10⁶ because w₀ = 0 zeroes every score.
    */
  private val clipTrainCtes: String = {
    val rounds = 8
    val base =
      """WITH q AS MATERIALIZED (SELECT vec_id,
        |    list_transform(embedding, e ->
        |      CAST(floor(abs(CAST(e AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |        % 256) AS qv
        |  FROM embeddings),
        |cells AS MATERIALIZED (
        |  SELECT vec_id, k,
        |    sum(qv[(k // 2) * 32 + (i // 4) * 8 + (k % 2) * 4 + (i % 4) + 1])
        |      // 16 AS cm
        |  FROM q, (SELECT unnest(generate_series(0, 3)) AS k) ks,
        |       (SELECT unnest(generate_series(0, 15)) AS i) px
        |  GROUP BY vec_id, k),
        |grams AS MATERIALIZED (
        |  SELECT vec_id,
        |    'x:' || CAST(k AS VARCHAR) || ':' ||
        |    (CASE WHEN cm > 127 THEN 'hi' ELSE 'lo' END) || ':' ||
        |    (CASE WHEN (cm > 127) = (vec_id % 2 = 0)
        |      THEN 'bright' ELSE 'dark' END) AS k2
        |  FROM cells
        |  UNION ALL SELECT vec_id, '0:bias' FROM q),
        |feat AS MATERIALIZED (SELECT vec_id,
        |    ('0x' || substr(md5('clip:' || k2), 1, 15))::BIGINT % 64 AS b,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM grams GROUP BY 1, 2),
        |lab AS MATERIALIZED (SELECT vec_id,
        |    CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END AS y FROM q),
        |spine AS MATERIALIZED (SELECT unnest(generate_series(0, 63)) AS b),
        |freqs AS MATERIALIZED (SELECT s.b,
        |    CAST(greatest(coalesce(f.c, 0), 1) AS BIGINT) AS fq
        |  FROM spine s LEFT JOIN
        |    (SELECT b, sum(x) AS c FROM feat GROUP BY b) f USING (b)),
        |e1 AS MATERIALIZED (SELECT vec_id,
        |    CAST(floor((0.5 - y)*1e6 + 0.5) AS BIGINT) AS err FROM lab),
        |g1 AS MATERIALIZED (SELECT f.b, sum(f.x * e.err) AS gr
        |  FROM feat f JOIN e1 e USING (vec_id) GROUP BY f.b),
        |v1 AS MATERIALIZED (SELECT s.b, CAST(coalesce(g.gr, 0) AS BIGINT) AS v
        |  FROM spine s LEFT JOIN g1 g USING (b)),
        |w1 AS MATERIALIZED (SELECT v1.b,
        |    0 - CAST(floor(CAST(v1.v AS DOUBLE) / fq + 0.5) AS BIGINT) AS w
        |  FROM v1 JOIN freqs USING (b))""".stripMargin
    val more = (2 to rounds).map { k =>
      val p = k - 1
      s"""s$k AS MATERIALIZED (SELECT f.vec_id, sum(w$p.w * f.x) AS s
         |  FROM feat f JOIN w$p USING (b) GROUP BY 1),
         |e$k AS MATERIALIZED (SELECT l.vec_id,
         |    CAST(floor((1.0/(1.0 + exp(-(CAST(coalesce(s.s, 0) AS DOUBLE)/1e6)))
         |      - CAST(y AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS err
         |  FROM lab l LEFT JOIN s$k s USING (vec_id)),
         |g$k AS MATERIALIZED (SELECT f.b, sum(f.x * e.err) AS gr
         |  FROM feat f JOIN e$k e USING (vec_id) GROUP BY f.b),
         |v$k AS MATERIALIZED (SELECT v$p.b,
         |    CAST(CAST(floor(v$p.v * 9 / 10.0) AS BIGINT)
         |      + coalesce(g.gr, 0) AS BIGINT) AS v
         |  FROM v$p LEFT JOIN g$k g USING (b)),
         |w$k AS MATERIALIZED (SELECT w$p.b,
         |    w$p.w - CAST(floor(CAST(v$k.v AS DOUBLE) / fq + 0.5) AS BIGINT) AS w
         |  FROM w$p JOIN v$k USING (b) JOIN freqs USING (b))""".stripMargin
    }
    (base +: more).mkString(",\n")
  }

  /** CASE doc_id%6 over the side-info config constants. */
  private def siCase(f: SiCfg => Any): String =
    "CASE doc_id % 6 " + siCfgs.zipWithIndex.map { case (c, i) =>
      f(c) match {
        case s: String => s"WHEN $i THEN '$s'"
        case b: Boolean => s"WHEN $i THEN ${if (b) 1 else 0}"
        case v => s"WHEN $i THEN $v"
      }
    }.mkString(" ") + " END"

  override def oracle: Map[String, String] = Map(

    // the adaptive recurrence replayed sample by sample: a recursive
    // CTE threading (pred, idx) through the step/index tables (VALUES
    // literals generated from the same published tables the spec
    // validates against the independent python encoder)
    "mm_audio_adpcm_pcm" -> {
      val stepsVals = graft.functions.ImaAdpcm.Step.zipWithIndex
        .map { case (v, i) => s"($i, $v)" }.mkString(", ")
      val adjVals = graft.functions.ImaAdpcm.IndexAdj.zipWithIndex
        .map { case (a, d) => s"($d, $a)" }.mkString(", ")
      val dl = "((d.doc_id * 7 + (d.k + 1) * 13) % 16)"
      s"""WITH RECURSIVE
         |steps(i, st) AS (SELECT * FROM (VALUES $stepsVals) t(i, st)),
         |adj(d, a) AS (SELECT * FROM (VALUES $adjVals) t(d, a)),
         |dec AS (
         |  SELECT doc_id, 0 AS k,
         |    CAST(doc_id % 1001 - 500 AS BIGINT) AS pred,
         |    CAST(doc_id % 89 AS BIGINT) AS idx
         |  FROM documents
         |  UNION ALL
         |  SELECT d.doc_id, d.k + 1,
         |    greatest(-32768, least(32767,
         |      d.pred + (CASE WHEN $dl >= 8 THEN -1 ELSE 1 END) *
         |        (s.st // 8
         |         + CASE WHEN ($dl // 4) % 2 = 1 THEN s.st ELSE 0 END
         |         + CASE WHEN ($dl // 2) % 2 = 1 THEN s.st // 2 ELSE 0 END
         |         + CASE WHEN $dl % 2 = 1 THEN s.st // 4 ELSE 0 END))),
         |    greatest(0, least(88, d.idx + a.a))
         |  FROM dec d
         |  JOIN steps s ON s.i = d.idx
         |  JOIN adj a ON a.d = $dl % 8
         |  WHERE d.k < 32),
         |ordered AS (SELECT doc_id, k, pred,
         |    lag(pred) OVER (PARTITION BY doc_id ORDER BY k) AS prev
         |  FROM dec)
         |SELECT doc_id,
         |  CAST(110 AS BIGINT) AS n_bytes,
         |  CAST(33 AS BIGINT) AS n_samples,
         |  CAST(max(abs(pred)) AS BIGINT) AS peak,
         |  CAST(sum(pred * pred) AS BIGINT) AS sum_sq,
         |  CAST(sum(CASE WHEN prev IS NOT NULL AND pred * prev < 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
         |FROM ordered GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // the MS two-tap recurrence replayed sample by sample: a recursive
    // CTE threading (s1, s2, delta) through the coefficient pairs the
    // fixture wrote into the fmt extension and the published
    // adaptation table; prediction divides with C truncation
    "mm_audio_msadpcm_pcm" -> {
      val coefVals = graft.functions.MsAdpcm.Coef1
        .zip(graft.functions.MsAdpcm.Coef2).zipWithIndex
        .map { case ((a, c), i) => s"($i, $a, $c)" }.mkString(", ")
      val adaptVals = graft.functions.MsAdpcm.Adapt.zipWithIndex
        .map { case (m, d) => s"($d, $m)" }.mkString(", ")
      val nb = "((d.doc_id * 7 + d.k * 13) % 16)"
      val lin = "(d.s1 * c.ca + d.s2 * c.cb)"
      val pred = s"(CASE WHEN $lin >= 0 THEN $lin // 256 " +
        s"ELSE -((-$lin) // 256) END) + " +
        s"(CASE WHEN $nb >= 8 THEN $nb - 16 ELSE $nb END) * d.delta"
      s"""WITH RECURSIVE
         |coef(i, ca, cb) AS (SELECT * FROM (VALUES $coefVals) t(i, ca, cb)),
         |adapt(dd, m) AS (SELECT * FROM (VALUES $adaptVals) t(dd, m)),
         |dec AS (
         |  SELECT doc_id, 1 AS k,
         |    CAST(doc_id % 1001 - 500 AS BIGINT) AS s1,
         |    CAST((doc_id * 3) % 1001 - 500 AS BIGINT) AS s2,
         |    CAST(16 + doc_id % 100 AS BIGINT) AS delta
         |  FROM documents
         |  UNION ALL
         |  SELECT d.doc_id, d.k + 1,
         |    greatest(-32768, least(32767, $pred)),
         |    d.s1,
         |    greatest(16, (a.m * d.delta) // 256)
         |  FROM dec d
         |  JOIN coef c ON c.i = d.doc_id % 7
         |  JOIN adapt a ON a.dd = $nb
         |  WHERE d.k < 33),
         |samples AS (
         |  SELECT doc_id, 0 AS pos, s2 AS v FROM dec WHERE k = 1
         |  UNION ALL
         |  SELECT doc_id, k, s1 FROM dec),
         |ordered AS (SELECT doc_id, pos, v,
         |    lag(v) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM samples)
         |SELECT doc_id,
         |  CAST(112 AS BIGINT) AS n_bytes,
         |  CAST(34 AS BIGINT) AS n_samples,
         |  CAST(max(abs(v)) AS BIGINT) AS peak,
         |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
         |  CAST(sum(CASE WHEN prev IS NOT NULL AND v * prev < 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
         |FROM ordered GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "mm_audio_mp3_sideinfo" -> {
      val mdb = siCase(_.mdb)
      val md = siCase(_.mdBytes)
      s"""WITH g AS (SELECT doc_id, fi, gr, ch
         |  FROM documents,
         |    (SELECT unnest(generate_series(0, 2)) AS fi) fs,
         |    (SELECT unnest(generate_series(0, 1)) AS gr) gs,
         |    (SELECT unnest(generate_series(0, 1)) AS ch) cs
         |  WHERE fi < 1 + doc_id % 3 AND ch < ${siCase(_.nch)})
         |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
         |  CAST(gr AS BIGINT) AS granule, CAST(ch AS BIGINT) AS channel,
         |  CAST($mdb AS BIGINT) AS main_data_begin,
         |  CAST(CASE WHEN fi = 0 THEN $mdb
         |    WHEN fi = 1 THEN greatest(0, $mdb - $md)
         |    ELSE greatest(0, $mdb - 511) END AS BIGINT)
         |    AS reservoir_deficit,
         |  CAST(${siCase(_.p23)} AS BIGINT) AS part2_3_length,
         |  CAST(${siCase(_.bv)} AS BIGINT) AS big_values,
         |  CAST(${siCase(_.gg)} AS BIGINT) AS global_gain,
         |  CAST(${siCase(_.sfc)} AS BIGINT) AS scalefac_compress,
         |  CAST(${siCase(_.wsf)} AS BIGINT) AS window_switching,
         |  CAST(${siCase(_.blockType)} AS BIGINT) AS block_type,
         |  ${siCase(_.tablesStr)} AS tables,
         |  CAST(${siCase(_.r0)} AS BIGINT) AS region0_count,
         |  CAST(${siCase(_.r1)} AS BIGINT) AS region1_count,
         |  CAST(${siCase(_.pre)} AS BIGINT) AS preflag,
         |  CAST(${siCase(_.sfs)} AS BIGINT) AS scalefac_scale,
         |  CAST(${siCase(_.c1t)} AS BIGINT) AS count1table_select
         |FROM g ORDER BY doc_id, frame_idx, granule, channel""".stripMargin
    },

    "mm_audio_mp3_xing" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 'Info' ELSE 'Xing' END AS tag,
        |  CAST(CASE WHEN doc_id % 4 IN (0, 1, 2) THEN 100 + doc_id % 50
        |    END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN doc_id % 4 IN (0, 2) THEN 41700 + doc_id % 100
        |    END AS BIGINT) AS n_bytes,
        |  (doc_id % 4 IN (0, 3)) AS has_toc,
        |  CAST(CASE WHEN doc_id % 4 IN (0, 3) THEN 127 END AS BIGINT)
        |    AS toc_p50,
        |  CAST(CASE WHEN doc_id % 4 IN (0, 3) THEN doc_id % 101 END
        |    AS BIGINT) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_clip_gate_train" ->
      s"""$clipTrainCtes
         |SELECT f.vec_id, CAST(sum(w8.w * f.x) AS BIGINT) AS score_int,
         |  CAST(CASE WHEN sum(w8.w * f.x) > 0 THEN 1 ELSE 0 END AS INTEGER)
         |    AS pred,
         |  CAST(any_value(l.y) AS INTEGER) AS y
         |FROM feat f JOIN w8 USING (b) JOIN lab l USING (vec_id)
         |GROUP BY f.vec_id ORDER BY f.vec_id""".stripMargin,

    // block mosaics replayed arithmetically: mean-of-blocks in milli
    // units with truncating division, colorfulness = mean |chroma−128|
    "mm_image_jpeg_color" ->
      """WITH g4 AS (SELECT a.bx, b.by
        |    FROM (SELECT unnest(generate_series(0, 3)) AS bx) a,
        |         (SELECT unnest(generate_series(0, 3)) AS by) b),
        |g3 AS (SELECT a.bx, b.by
        |    FROM (SELECT unnest(generate_series(0, 3)) AS bx) a,
        |         (SELECT unnest(generate_series(0, 2)) AS by) b),
        |g2 AS (SELECT a.bx, b.by
        |    FROM (SELECT unnest(generate_series(0, 1)) AS bx) a,
        |         (SELECT unnest(generate_series(0, 1)) AS by) b),
        |cs AS (SELECT
        |    (SELECT sum((29*bx + 31*by + 40) % 256 * 1000) // 16 FROM g4) AS ym,
        |    (SELECT sum((50*bx + 70*by + 96) % 256 * 1000) // 4 FROM g2) AS cbm,
        |    (SELECT sum((90*bx + 30*by + 60) % 256 * 1000) // 4 FROM g2) AS crm,
        |    (SELECT (sum(abs((50*bx + 70*by + 96) % 256 - 128) * 1000) +
        |             sum(abs((90*bx + 30*by + 60) % 256 - 128) * 1000)) // 8
        |       FROM g2) AS cf),
        |b420 AS (SELECT
        |    (SELECT sum((29*bx + 43*by + 50) % 256 * 1000) // 16 FROM g4) AS ym),
        |gb AS (SELECT
        |    (SELECT sum((37*bx + 59*by + 23) % 256 * 1000) // 12 FROM g3) AS ym)
        |SELECT 'blocks420' AS img, CAST(32 AS BIGINT) AS width,
        |  CAST(32 AS BIGINT) AS height,
        |  CAST(ym AS BIGINT) AS y_mean_milli,
        |  CAST(128000 AS BIGINT) AS cb_mean_milli,
        |  CAST(90000 AS BIGINT) AS cr_mean_milli,
        |  CAST(38000 * 4 // 8 AS BIGINT) AS colorfulness_milli,
        |  CAST(16 AS BIGINT) AS n_blocks_y, CAST(8 AS BIGINT) AS n_blocks_c
        |FROM b420
        |UNION ALL
        |SELECT 'colorstats420', 32, 32, CAST(ym AS BIGINT),
        |  CAST(cbm AS BIGINT), CAST(crm AS BIGINT), CAST(cf AS BIGINT),
        |  16, 8
        |FROM cs
        |UNION ALL
        |SELECT 'gray_blocks', 32, 24, CAST(ym AS BIGINT),
        |  128000, 128000, 0, 12, 0
        |FROM gb
        |ORDER BY img""".stripMargin,

    // per-PIXEL RGB replay: each 8×8 cell of the DC-only mosaics is a
    // constant (Y, Cb, Cr), so sums over 64-pixel cells divide exactly
    // into cell sums // 16 (or // 12 for the 4×3 grayscale)
    "mm_image_rgb_stats" ->
      """WITH g4 AS (SELECT a.bx, b.by
        |    FROM (SELECT unnest(generate_series(0, 3)) AS bx) a,
        |         (SELECT unnest(generate_series(0, 3)) AS by) b),
        |g3 AS (SELECT a.bx, b.by
        |    FROM (SELECT unnest(generate_series(0, 3)) AS bx) a,
        |         (SELECT unnest(generate_series(0, 2)) AS by) b),
        |cs AS (SELECT (29*bx + 31*by + 40) % 256 AS yv,
        |    (50*(bx//2) + 70*(by//2) + 96) % 256 AS cb,
        |    (90*(bx//2) + 30*(by//2) + 60) % 256 AS cr FROM g4),
        |csr AS (SELECT
        |    greatest(0, least(255000, yv*1000 + 1402*(cr-128))) AS rm,
        |    greatest(0, least(255000,
        |      yv*1000 - 344*(cb-128) - 714*(cr-128))) AS gm,
        |    greatest(0, least(255000, yv*1000 + 1772*(cb-128))) AS bm
        |  FROM cs),
        |csa AS (SELECT sum(rm)//16 AS r, sum(gm)//16 AS g, sum(bm)//16 AS b,
        |    sum(greatest(rm,gm,bm) - least(rm,gm,bm))//16 AS sat,
        |    sum(abs(rm-gm))//16 AS rg, sum(abs(rm+gm-2*bm))//16 AS yb
        |  FROM csr),
        |bs AS (SELECT (29*bx + 43*by + 50) % 256 AS yv FROM g4),
        |bsr AS (SELECT
        |    greatest(0, least(255000, yv*1000 + 1402*(90-128))) AS rm,
        |    greatest(0, least(255000, yv*1000 - 714*(90-128))) AS gm,
        |    greatest(0, least(255000, yv*1000)) AS bm
        |  FROM bs),
        |bsa AS (SELECT sum(rm)//16 AS r, sum(gm)//16 AS g, sum(bm)//16 AS b,
        |    sum(greatest(rm,gm,bm) - least(rm,gm,bm))//16 AS sat,
        |    sum(abs(rm-gm))//16 AS rg, sum(abs(rm+gm-2*bm))//16 AS yb
        |  FROM bsr),
        |gs AS (SELECT (37*bx + 59*by + 23) % 256 AS yv FROM g3),
        |gsa AS (SELECT sum(yv*1000)//12 AS r FROM gs)
        |SELECT 'blocks420' AS img, CAST(32 AS BIGINT) AS width,
        |  CAST(32 AS BIGINT) AS height, CAST(1024 AS BIGINT) AS n_px,
        |  CAST(r AS BIGINT) AS r_mean_milli, CAST(g AS BIGINT) AS g_mean_milli,
        |  CAST(b AS BIGINT) AS b_mean_milli,
        |  CAST(sat AS BIGINT) AS sat_mean_milli,
        |  CAST(rg AS BIGINT) AS rg_abs_mean_milli,
        |  CAST(yb AS BIGINT) AS yb2_abs_mean_milli
        |FROM bsa
        |UNION ALL
        |SELECT 'colorstats420', 32, 32, 1024, CAST(r AS BIGINT),
        |  CAST(g AS BIGINT), CAST(b AS BIGINT), CAST(sat AS BIGINT),
        |  CAST(rg AS BIGINT), CAST(yb AS BIGINT)
        |FROM csa
        |UNION ALL
        |SELECT 'gray_blocks', 32, 24, 768, CAST(r AS BIGINT),
        |  CAST(r AS BIGINT), CAST(r AS BIGINT), 0, 0, 0
        |FROM gsa
        |ORDER BY img""".stripMargin)
}
