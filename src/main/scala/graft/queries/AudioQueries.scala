package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import MmFixtures.le

/** Audio-format family (split from ExtraQueries by family): PCM/FLAC/
  * G.711/AIFF decode stats, MPEG/ADTS/Ogg metadata walks, mel
  * spectrograms, VAD, fingerprint dedup, subtitle alignment, and the
  * speech end-to-end funnel. Fixture posture unchanged: containers
  * synthesized scan-side from table rows (or committed from the
  * independent python encoders), oracles replaying only original-row
  * arithmetic.
  */
object AudioQueries extends QueryPack {


  /** AudioMel's StrictMath basis tables as SQL literals (the
    * phashCoefSql posture): (f, k, cos, sin) per DFT cell and the
    * nonzero (m, f, w) mel-triangle weights. */
  private lazy val melBasisSql = {
    import graft.functions.AudioMel
    (0 until AudioMel.NumBins).flatMap { f =>
      (0 until AudioMel.WindowSamples).map { k =>
        s"($f, $k, ${AudioMel.cosBasis(f)(k)}, ${AudioMel.sinBasis(f)(k)})"
      }
    }.mkString(", ")
  }
  private lazy val melWeightSql = {
    import graft.functions.AudioMel
    (0 until AudioMel.NumMels).flatMap { m =>
      (0 until AudioMel.NumBins).collect {
        case f if AudioMel.melWeights(m)(f) != 0L =>
          s"($m, $f, ${AudioMel.melWeights(m)(f)})"
      }
    }.mkString(", ")
  }

  /** Construction-side MPEG audio config: header bytes, frame size, and
    * samples per frame derived from the published ISO 11172-3 / 13818-3
    * tables (the WAV/FLAC construction posture — the query builds frames
    * from closed-form arithmetic; the parser must walk them back).
    */
  private case class MpegCfg(verBits: Int, layerBits: Int, brIdx: Int,
      srIdx: Int, mode: Int) {
    val layer: Int = 4 - layerBits
    private val v1 = verBits == 3
    val kbps: Int = (v1, layer) match {
      case (true, 1) => Seq(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)(brIdx)
      case (true, 2) => Seq(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)(brIdx)
      case (true, 3) => Seq(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)(brIdx)
      case (false, 1) => Seq(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)(brIdx)
      case _ => Seq(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)(brIdx)
    }
    val sampleRate: Int = verBits match {
      case 3 => Seq(44100, 48000, 32000)(srIdx)
      case 2 => Seq(22050, 24000, 16000)(srIdx)
      case _ => Seq(11025, 12000, 8000)(srIdx)
    }
    val versionStr: String = verBits match {
      case 3 => "1"; case 2 => "2"; case _ => "2.5"
    }
    val channels: Int = if (mode == 3) 1 else 2
    val frameSize: Int = layer match {
      case 1 => (12 * kbps * 1000 / sampleRate) * 4
      case 2 => 144 * kbps * 1000 / sampleRate
      case _ => if (v1) 144 * kbps * 1000 / sampleRate
        else 72 * kbps * 1000 / sampleRate
    }
    val samplesPerFrame: Int = layer match {
      case 1 => 384; case 2 => 1152; case _ => if (v1) 1152 else 576
    }
    val headerHex: String = f"FF${0xe0 | (verBits << 3) | (layerBits << 1) | 1}%02X" +
      f"${(brIdx << 4) | (srIdx << 2)}%02X" + f"${mode << 6}%02X"
    val frameHex: String = headerHex + "00" * (frameSize - 4)
  }

  /** Six configurations spanning both MPEG versions + 2.5, all three
    * layers, mono/stereo, and three sample-rate families.
    */
  private val mp3Cfgs: Seq[MpegCfg] = Seq(
    MpegCfg(3, 1, 9, 0, 0),  // MPEG1  L3 128k 44100 stereo
    MpegCfg(3, 2, 12, 1, 1), // MPEG1  L2 256k 48000 joint
    MpegCfg(3, 3, 1, 2, 3),  // MPEG1  L1  32k 32000 mono
    MpegCfg(2, 1, 8, 0, 3),  // MPEG2  L3  64k 22050 mono
    MpegCfg(0, 1, 4, 2, 0),  // MPEG2.5 L3 32k  8000 stereo
    MpegCfg(2, 2, 14, 1, 1)) // MPEG2  L2 160k 24000 joint

  // committed VP8L fixtures from the independent python encoder
  // (tools/gen_webp_fixtures.py -> src/test/resources/webp_fixtures),
  // hex-embedded; rasters are closed forms of (x, y)

  /** Construction-side ADTS config (the [[MpegCfg]] posture for AAC):
    * 7-byte protection-absent headers from the published ISO 13818-7
    * fields, zero-filled payloads.
    */
  private case class AdtsCfg(mpeg2: Boolean, profIdx: Int, srIdx: Int,
      chCfg: Int, blocks: Int, payload: Int) {
    val sampleRate: Int = Seq(96000, 88200, 64000, 48000, 44100, 32000,
      24000, 22050, 16000, 12000, 11025, 8000, 7350)(srIdx)
    val channels: Int = if (chCfg == 7) 8 else chCfg
    val profile: Int = profIdx + 1
    val version: Int = if (mpeg2) 2 else 4
    val frameLen: Int = 7 + payload
    val frameHex: String = {
      val b1 = 0xf0 | (if (mpeg2) 8 else 0) | 1
      val b2 = (profIdx << 6) | (srIdx << 2) | (chCfg >> 2)
      val b3 = ((chCfg & 3) << 6) | ((frameLen >> 11) & 3)
      val b4 = (frameLen >> 3) & 0xff
      val b5 = ((frameLen & 7) << 5) | 0x1f // buffer fullness 0x7ff
      val b6 = 0xfc | (blocks - 1)
      f"FF$b1%02X$b2%02X$b3%02X$b4%02X$b5%02X$b6%02X" + "00" * payload
    }
  }

  /** Four configurations spanning both MPEG versions, three profiles,
    * mono through 7.1, and multi-block frames.
    */
  private val adtsCfgs: Seq[AdtsCfg] = Seq(
    AdtsCfg(mpeg2 = false, 1, 4, 2, 1, 64),   // MPEG-4 LC   44100 stereo
    AdtsCfg(mpeg2 = false, 0, 3, 1, 1, 32),   // MPEG-4 Main 48000 mono
    AdtsCfg(mpeg2 = true, 1, 7, 6, 1, 100),   // MPEG-2 LC   22050 5.1
    AdtsCfg(mpeg2 = false, 3, 11, 7, 2, 80))  // MPEG-4 LTP   8000 7.1 2-block

  /** Construction-side Ogg config: RFC 3533 pages sealed with the
    * engine's own CRC ([[graft.functions.OggMeta.pageCrc]] — the
    * INDEPENDENT-CRC direction is covered by OggMetaSpec's python
    * fixtures), a Vorbis or Opus id packet on the BOS page, then
    * `granStep`-granule audio pages with the EOS bit on the last.
    */
  private case class OggCfg(codec: String, channels: Int, rate: Int,
      brNom: Int, preSkip: Int, granStep: Long) {
    private val serial = 0x47524146 // arbitrary fixed stream serial

    private def idPacket: Array[Byte] = codec match {
      case "vorbis" =>
        val b = java.nio.ByteBuffer.allocate(30)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.put(0x01.toByte).put("vorbis".getBytes)
        b.putInt(0).put(channels.toByte).putInt(rate)
        b.putInt(0).putInt(brNom).putInt(0)
        b.put(0xB8.toByte).put(0x01.toByte)
        b.array()
      case _ =>
        val b = java.nio.ByteBuffer.allocate(19)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.put("OpusHead".getBytes).put(1.toByte).put(channels.toByte)
        b.putShort(preSkip.toShort).putInt(rate)
        b.putShort(0.toShort).put(0.toByte)
        b.array()
    }

    private def page(payload: Array[Byte], seq: Int, granule: Long,
        bos: Boolean, eos: Boolean): Array[Byte] = {
      val hdrType = (if (bos) 2 else 0) | (if (eos) 4 else 0)
      // real lacing: 255-segments continue the packet, the final <255
      // segment (0 when length % 255 == 0) terminates it
      val lacing = Array.fill(payload.length / 255)(255.toByte) :+
        (payload.length % 255).toByte
      val out = java.nio.ByteBuffer
        .allocate(27 + lacing.length + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("OggS".getBytes).put(0.toByte).put(hdrType.toByte)
      out.putLong(granule).putInt(serial).putInt(seq).putInt(0)
      out.put(lacing.length.toByte).put(lacing).put(payload)
      val b = out.array()
      val crc = graft.functions.OggMeta.pageCrc(b, 0, b.length)
      b(22) = (crc & 0xff).toByte
      b(23) = ((crc >>> 8) & 0xff).toByte
      b(24) = ((crc >>> 16) & 0xff).toByte
      b(25) = ((crc >>> 24) & 0xff).toByte
      b
    }

    /** Vorbis comment / OpusTags packet: vendor + ordered KEY=value
      * list (shared layout; Vorbis adds the 0x03"vorbis" magic and the
      * framing bit).
      */
    private def tagsPacket(vendor: String,
        comments: Seq[String]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def le32(v: Int): Unit = {
        out.write(v & 0xff); out.write((v >>> 8) & 0xff)
        out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
      }
      if (codec == "vorbis") { out.write(0x03); out.write("vorbis".getBytes) }
      else out.write("OpusTags".getBytes)
      val vb = vendor.getBytes("UTF-8")
      le32(vb.length); out.write(vb)
      le32(comments.length)
      comments.foreach { c =>
        val tb = c.getBytes("UTF-8")
        le32(tb.length); out.write(tb)
      }
      if (codec == "vorbis") out.write(0x01)
      out.toByteArray
    }

    private def hexOf(pages: Seq[Array[Byte]]): String =
      pages.flatten.map(b => f"${b & 0xff}%02X").mkString

    /** Full stream hex with `n` audio pages after the BOS id page. */
    def streamHex(n: Int): String =
      hexOf(page(idPacket, 0, 0L, bos = true, eos = false) +:
        (1 to n).map { i =>
          val payload = Array.tabulate(16)(k => ((i * 31 + k * 7) % 256).toByte)
          page(payload, i, preSkip.toLong + granStep * i, bos = false,
            eos = i == n)
        })

    /** [[streamHex]] with a comment-header page between the id page
      * and the audio pages — the real Ogg Vorbis/Opus layout. Raw
      * comment strings, so refusal shapes (no `=`) are constructible.
      */
    def streamHexTagged(vendor: String, comments: Seq[String]): String =
      hexOf(Seq(
        page(idPacket, 0, 0L, bos = true, eos = false),
        page(tagsPacket(vendor, comments), 1, 0L, bos = false, eos = false),
        page(Array.tabulate(16)(k => ((31 + k * 7) % 256).toByte), 2,
          preSkip.toLong + granStep, bos = false, eos = true)))

    def durationMs(n: Int): Long = codec match {
      case "vorbis" => (preSkip.toLong + granStep * n) * 1000L / rate
      case _ => granStep * n * 1000L / 48000L
    }
  }

  /** Four configurations spanning both codecs, mono/stereo, three
    * rates, and the Opus pre-skip subtraction.
    */
  private val oggCfgs: Seq[OggCfg] = Seq(
    OggCfg("vorbis", 1, 44100, 128000, 0, 44100L), // 1 s pages
    OggCfg("vorbis", 2, 48000, 192000, 0, 24000L), // 0.5 s pages
    OggCfg("opus", 1, 48000, 0, 312, 960L),        // 20 ms frames
    OggCfg("opus", 2, 24000, 0, 0, 48000L))        // 1 s pages, 24k input rate

  /** Closed-form ID3v2 tag builder for the id3_tags fixtures: encodes
    * the full container (header, optional v2.3 extended header, frames
    * per-version framing with per-frame encoding bytes, padding) so
    * the query side exercises exactly the wire shapes the walk
    * documents. `truncate` declares a frame size past the tag end;
    * `breakSyncsafe` plants a 0x80 bit in a v2.4 frame size.
    */
  private def id3Hex(major: Int, frames: Seq[(String, Int, String)],
      extHeader: Boolean = false, padding: Int = 0,
      truncate: Boolean = false, breakSyncsafe: Boolean = false): String = {
    val out = new java.io.ByteArrayOutputStream
    def be(v: Int, n: Int): Array[Byte] =
      (n - 1 to 0 by -1).map(k => ((v >> (8 * k)) & 0xff).toByte).toArray
    def syncsafe(v: Int): Array[Byte] = Array(
      ((v >> 21) & 0x7f).toByte, ((v >> 14) & 0x7f).toByte,
      ((v >> 7) & 0x7f).toByte, (v & 0x7f).toByte)
    val body = new java.io.ByteArrayOutputStream
    if (extHeader && major == 3) {
      body.write(be(6, 4)); body.write(be(0, 2)); body.write(be(0, 4))
    }
    frames.foreach { case (id, enc, text) =>
      val tb = enc match {
        case 0 => text.getBytes("ISO-8859-1")
        case 1 => Array(0xff.toByte, 0xfe.toByte) ++ text.getBytes("UTF-16LE")
        case 2 => text.getBytes("UTF-16BE")
        case _ => text.getBytes("UTF-8")
      }
      val payload = Array(enc.toByte) ++ tb
      body.write(id.getBytes("ISO-8859-1"))
      val declared = if (truncate) payload.length + 999 else payload.length
      if (major == 2) body.write(be(declared, 3))
      else {
        if (major == 3) body.write(be(declared, 4))
        else {
          val sz = syncsafe(declared)
          if (breakSyncsafe) sz(0) = (sz(0) | 0x80).toByte
          body.write(sz)
        }
        body.write(be(0, 2)) // frame format flags
      }
      body.write(payload)
    }
    body.write(new Array[Byte](padding))
    val b = body.toByteArray
    out.write("ID3".getBytes("ISO-8859-1"))
    out.write(major); out.write(0)
    out.write(if (extHeader && major == 3) 0x40 else 0)
    out.write(syncsafe(b.length))
    out.write(b)
    out.toByteArray.map(x => f"${x & 0xff}%02X").mkString
  }

  // committed FLAC fixture bytes (tools/gen_flac_fixtures.py →
  // src/test/resources/flac_fixtures), hex-embedded so the oracle side
  // sees identical blobs; samples v[k] = (seed*37 + k*451) % 4001 - 2000
  private val flacRice_fixed0 =
    "664C6143800000220010FFFF00000000000003E800F00000004000000000000000000000000000000000FFF8700800003F00" +
      "1002859218A4D46E3BE5E08F746FA3400C0C2DA98BDAA791C62FD0EDC6F419E85412DDB1AEAF9AC8B8FC47681BB84CD2A3AE" +
      "0E3BA949A04563EE0EC422C934D536E3DBE54426508A03B59F948BE9B354F192DC14F84C41BDCEE2FD68CB37F5331616C853" +
      "81A0C00000"
  private val flacRice_fixed1 =
    "664C6143800000220010FFFF00000000000003E800F00000004000000000000000000000000000000000FFF8700800003F00" +
      "1206EE0680F77E1BC3786F0DE1BC3786F0C07BBF0DE1BC3786F0DE1BC378603DDF86F0DE1BC3786F0DE1BC301EEFC3786F0D" +
      "5E1BC3786F0C07BBF0DE1BC3786F0DE1BC378603DDF86F0DE1BC3786F0DE1BC301EEFC3786F0DE1BC3786F0DE180F7600000"
  private val flacRice_fixed2 =
    "664C6143800000220010FFFF00000000000003E800F00000004000000000000000000000000000000000FFF8700800003F00" +
      "140713F9350A80742801002004008010020000E8203A1400801002005400801000074101D0A004008010020040080003A080" +
      "E850020054008010020000E8203A140080100200400801000074101D0A0054008010020040080003A080E850020040080100" +
      "20040001D0400000"
  private val flacRice_fixed34 =
    "664C6143800000220010FFFF00000000000003E800F00000004000000000000000000000000000000000FFF8700800001F00" +
      "160738F95AFB1D02C7A0C004004004004004000F4101D083D060020020020020020007A080E841E830010010010010003D04" +
      "07420F418008000000FFF8700801001F0018011402D7049A065D077F413DC63DC5FD0A00080020008002000FD04F718F7171" +
      "F4280040020010008003E820EE303B8AFA140020010008004001F4100000"
  private val flacRice_lpc2 =
    "664C6143800000220010FFFF00000000000003E800F00000004000000000000000000000000000000000FFF8700800003F00" +
      "42075DF97FB281E7F1814022140A84D10A2F47A92D2C80673011120742A88D18A3F49A01A2C042C8170421744A8CD20A4F00" +
      "D0E02184078290C22646A90D2880683010D201C188691423648894C033F808710020E4388A91C2464A8019F4043A8090821E" +
      "4588E92425600CF20000"
  private val flacRice_lpc4r2 =
    "664C6143800000220010FFFF00000000000003E800F00000004000000000000000000000000000000000FFF8700800003F00" +
      "460782F9A4FB67FD2AD300CBFE8802FFFAA2A734B71672C0564A90030A8722FDAE616DACD57CAC002FE873AFAAE9573AD959" +
      "6AF557806010E6DF65D1AE52AD7592AED56806030E69F75D0AE35AAB1D5CAAB00C0E1CC3EFB9F5C4B4D62AB75520182C3967" +
      "E373AB81692C456AA9C030780000"
  private val flacRice_esc =
    "664C6143800000220010FFFF00000000000003E800F00000004000000000000000000000000000000000FFF8700800003F00" +
      "1007DA7A7CE4EE33A9FF1206A8A608B661EC20680F78DD89FA6043C5A449532C61EB47BC00EE1FE1829230C2679A4B169A77" +
      "E1D77F7F81ED0C18D18A126CCC776AC78E9E37FFD06F470054338364A35D7CAEF3880D03EE3BA2BE9D032C5B25E747AAC0DC" +
      "2311FA16DCEF599C0000"
  private val flacRice_lpc8 =
    "664C6143800000220010FFFF00000000000003E800F00000004000000000000000000000000000000000FFF8700800003F00" +
      "4E07CCF9EEFBB1FD74FF3700FA02BD0480B28147F60057FD801FFF000FFF85494C06EB1341845172127BACE14829F080DAA2" +
      "722FDA3943AFA1A190A3EC01B044FA5E54888A15F9B4E21F7EE03558A20B9E93D193FE6B2454404034A8A4CB7379690F5825" +
      "58D8D583429FDA79B479951218515B990185C29A400000"
  private val flacRiceFixtures = Seq(
    ("fixed0", 101L, 64, flacRice_fixed0), ("fixed1", 102L, 64, flacRice_fixed1),
    ("fixed2", 103L, 64, flacRice_fixed2), ("fixed34", 104L, 64, flacRice_fixed34),
    ("lpc2", 105L, 64, flacRice_lpc2), ("lpc4r2", 106L, 64, flacRice_lpc4r2),
    ("esc", 107L, 64, flacRice_esc), ("lpc8", 108L, 64, flacRice_lpc8))

  // stereo fixtures: L[k] = (seed*37+k*451)%4001-2000,
  // R[k] = (seed*53+k*211)%3001-1500; one frame per channel assignment

  // stereo fixtures: L[k] = (seed*37+k*451)%4001-2000,
  // R[k] = (seed*53+k*211)%3001-1500; one frame per channel assignment
  private val flacStereo_st_ind =
    "664C6143800000220010FFFF00000000000003E802F00000004000000000000000000000000000000000FFF8701800003F00" +
      "14059C075F06C7A08F428008008008008008008001E823D0A0020020020020020007A08F428008008008008008008001E823" +
      "D0A002002A004008010020000E8203A140080100200400801000074101D0A004008010020040080003A080E8500200400801" +
      "00200400120096027A6E9BA6E9BA6E9800F2FA6E9BA6E9BA6E9BA6E9BA6E9BA6E9BA6003CBE9BA6E9BA6E9BA6E9BA6E9BA6E" +
      "9BA6E9800F2FA6E9BA6E9BA6E9BA6E9BA6E9BA6E9BA6E9800F2FA6E9BA6E9BA6E9BA6E9BA6E9BA6E9BA60000"
  private val flacStereo_st_ls =
    "664C6143800000220010FFFF00000000000003E802F00000004000000000000000000000000000000000FFF8708800003F00" +
      "1405C10784028074101D0A004008010020040080003A080E85002004008010020000E8203A14008010020040080100007410" +
      "1D0A004008010020040080003A080E85002004008010020040001D040742801002004008010020000E8203A1400801002004" +
      "008010004809EC0D5E001586F05E0BC17800AA5782F05E001586F05E0BC1782F05E0BC002B0DE002A95E0BC1782F05E0BC00" +
      "2B0DE0BC1782AF05E0BC00552BC002B0DE0BC1782F05E0BC1782F000AC3782F00154AF05E0BC1782F000AC3782F05E0BC178" +
      "2F05E0BC000000"
  private val flacStereo_st_rs =
    "664C6143800000220010FFFF00000000000003E802F00000004000000000000000000000000000000000FFF8709800003F00" +
      "1002D398BAC26D5FAADF560AB4F1E3847E15B8A85452F62E72D82C92C5D54D63D08E73C1E92B0AB82BFA9394BAA6C53F5DBE" +
      "EC1751BA15F9DF25CCBA3A6BB1F39EC1E49E2E2A631E396107069496924B4FF42721750D887B41290C1951CA1679E7266AE6" +
      "36641852C21008000E9D940F3F8C0991A529826E0017B8018644B0CC170041D0E4511B485284BD354F0002ED0031686E0F80" +
      "60C862268CA4093A5A9A274001778018943F08C0B0442D114611E4952C4C939000BCC00C42218560781A128822C8EA489526" +
      "29B8005EA00000"
  private val flacStereo_st_ms =
    "664C6143800000220010FFFF00000000000003E802F00000004000000000000000000000000000000000FFF870A800003F00" +
      "1403A004EB0687A11E8A004003DB9EE2004001E847A280100200400801002000F3FF98F7500200400801002000F3E3D04008" +
      "015002004003DC9EE879F1E8200400801002004008003D08F45000F6E7B8801002004001E847A280100200400801000F6E28" +
      "04D602E320B1E823D0A002000F723DC60020007A08F428008008008008008008001E82075A1EE30010010010010010003D04" +
      "7A14004004004004001EE47B88F411E850010010010010010010003D047A14001EE47B8C004004004000F411E85001001001" +
      "0010010007B9000000"
  private val flacStereoFixtures = Seq(("st_ind", 201L, 64, flacStereo_st_ind), ("st_ls", 202L, 64, flacStereo_st_ls), ("st_rs", 203L, 64, flacStereo_st_rs), ("st_ms", 204L, 64, flacStereo_st_ms))
  private val flacStereoValuesSql = flacStereoFixtures
    .map { case (img, seed, n, _) => s"('$img', $seed, $n)" }
    .mkString(", ")

  /** The same (img, seed, n) rows as [[flacRiceFixtures]], as a SQL VALUES
    * table for the oracle's formula replay.
    */
  private val flacRiceValuesSql = flacRiceFixtures
    .map { case (img, seed, n, _) => s"('$img', $seed, $n)" }
    .mkString(", ")

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // Real header-only AUDIO decode (graft.functions.AudioHeader): WAV
    // containers with a variable-length JUNK chunk before `fmt ` (the
    // parser must actually walk the RIFF chunks) and FLAC STREAMINFO
    // blocks whose rate/channels/bits are packed 20/3/5-bit fields (the
    // parser must actually unpack bits). Dimensions derive from doc_id,
    // so the oracle states ground truth by arithmetic.



    // MPEG audio (MP3) frame-header walk — the lossy-audio metadata
    // gate: per document a multi-frame MPEG stream is assembled from
    // closed-form config arithmetic (six version/layer/rate configs by
    // doc_id%6, 1-5 frames, an ID3v2 container for doc_id%3=0, an ID3v1
    // TAG for doc_id%7=0) and walked back by audio_mpeg_meta; doc_id%11=0
    // rows carry a FREE-FORMAT header that must refuse to null (frame
    // size undefined — the whole-or-refuse posture). The oracle states
    // every output as a closed form of doc_id.
    "mm_audio_mp3_meta" -> ((s, dir) => {
      val frameCase = "CASE doc_id % 6 " + mp3Cfgs.zipWithIndex
        .map { case (c, i) => s"WHEN $i THEN '${c.frameHex}'" }
        .mkString(" ") + " END"
      val id3Hex = "494433040000" + "00000010" + "00" * 16
      val tagHex = "544147" + "00" * 125
      val blobHex =
        s"""CASE WHEN doc_id % 11 = 0 THEN 'FFFB0400'
           |ELSE concat(
           |  CASE WHEN doc_id % 3 = 0 THEN '$id3Hex' ELSE '' END,
           |  repeat($frameCase, cast(1 + doc_id % 5 as int)),
           |  CASE WHEN doc_id % 7 = 0 THEN '$tagHex' ELSE '' END)
           |END""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($blobHex)"))
        .selectExpr("doc_id", "audio_mpeg_meta(blob) AS m")
        .select(col("doc_id"),
          col("m").isNotNull.as("ok"),
          col("m.version").as("version"),
          col("m.layer").as("layer"),
          col("m.sample_rate").as("sample_rate"),
          col("m.bitrate_kbps").as("bitrate_kbps"),
          col("m.channels").as("channels"),
          col("m.n_frames").as("n_frames"),
          col("m.duration_ms").as("duration_ms"))
        .orderBy(col("doc_id"))
    }),




    // AAC/ADTS frame-header walk - the other dominant lossy-audio
    // transport next to MP3: per document a multi-frame ADTS stream
    // (four version/profile/rate/channel configs by doc_id%4, 1-4
    // frames, a 2-raw-data-block config) walked back by
    // audio_adts_meta; doc_id%13=0 rows carry a forbidden
    // sampling-frequency index and must refuse to null. The oracle
    // states every output as a closed form of doc_id.
    "mm_audio_adts_meta" -> ((s, dir) => {
      val frameCase = "CASE doc_id % 4 " + adtsCfgs.zipWithIndex
        .map { case (c, i) => s"WHEN $i THEN '${c.frameHex}'" }
        .mkString(" ") + " END"
      val blobHex =
        s"""CASE WHEN doc_id % 13 = 0 THEN 'FFF17E00411FFC'
           |ELSE repeat($frameCase, cast(1 + doc_id % 4 as int)) END""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($blobHex)"))
        .selectExpr("doc_id", "audio_adts_meta(blob) AS m")
        .select(col("doc_id"),
          col("m").isNotNull.as("ok"),
          col("m.mpeg_version").as("mpeg_version"),
          col("m.profile").as("profile"),
          col("m.sample_rate").as("sample_rate"),
          col("m.channels").as("channels"),
          col("m.n_frames").as("n_frames"),
          col("m.duration_ms").as("duration_ms"))
        .orderBy(col("doc_id"))
    }),


    // Ogg container walk - the third lossy-audio transport: per document
    // a CRC-sealed Ogg stream (four codec configs by doc_id%4 spanning
    // Vorbis/Opus, mono/stereo, three rates and the Opus pre-skip
    // subtraction; 1-3 audio pages by doc_id%3) walked back by
    // audio_ogg_meta; doc_id%9=0 rows carry a flipped payload byte under
    // a stale CRC and must refuse to null. The oracle states every
    // output as a closed form of doc_id.
    "mm_audio_ogg_meta" -> ((s, dir) => {
      val streamCase = "CASE (doc_id % 4) * 3 + (doc_id % 3) " +
        (for (c <- 0 until 4; n <- 0 until 3)
          yield s"WHEN ${c * 3 + n} THEN '${oggCfgs(c).streamHex(n + 1)}'")
          .mkString(" ") + " END"
      val goodHex = oggCfgs.head.streamHex(1)
      val badHex = goodHex.dropRight(2) +
        (if (goodHex.endsWith("00")) "FF" else "00")
      val blobHex =
        s"""CASE WHEN doc_id % 9 = 0 THEN '$badHex'
           |ELSE $streamCase END""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($blobHex)"))
        .selectExpr("doc_id", "audio_ogg_meta(blob) AS m")
        .select(col("doc_id"),
          col("m").isNotNull.as("ok"),
          col("m.codec").as("codec"),
          col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.bitrate_nominal").as("bitrate_nominal"),
          col("m.pre_skip").as("pre_skip"),
          col("m.n_pages").as("n_pages"),
          col("m.duration_ms").as("duration_ms"))
        .orderBy(col("doc_id"))
    }),



    // Vorbis comment / OpusTags (audio_ogg_tags) — the metadata audio
    // curation keys on (title/artist/language) next to the duration
    // walk: packet-2 reassembly through REAL lacing (cfg 1's comment
    // packet exceeds 255 bytes and spans three lacing segments),
    // UTF-8 values, duplicate keys in order; a stale-CRC stream and a
    // comment with no '=' both refuse to null. The oracle replays
    // vendor/tag digests as closed forms of doc_id.
    "mm_audio_ogg_tags" -> ((s, dir) => {
      val langs = Seq("en", "de", "fr", "ja")
      def commentsOf(c: Int): Seq[String] = Seq(
        s"TITLE=Track $c", s"ARTIST=Artist №$c", s"LANGUAGE=${langs(c)}",
        "GENRE=field", "GENRE=corpus") ++
        (if (c == 1)
          Seq("DESCRIPTION=" + ("lorem ipsum " * 55).trim) else Nil)
      val taggedCase = "CASE doc_id % 4 " + (0 until 4).map { c =>
        val hex = oggCfgs(c).streamHexTagged(s"graft-enc 1.$c", commentsOf(c))
        s"WHEN $c THEN '$hex'"
      }.mkString(" ") + " END"
      val badCrcHex = {
        // the flip must land INSIDE the comment page (page 2): the tags
        // walk early-stops after packet 2 and never sees later pages
        val h = oggCfgs.head.streamHexTagged("v", Seq("A=b"))
        val b = h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
        val p2 = (1 until b.length - 3).find(i => b(i) == 'O' &&
          b(i + 1) == 'g' && b(i + 2) == 'g' && b(i + 3) == 'S').get
        val nSegs = b(p2 + 26) & 0xff
        b(p2 + 27 + nSegs + 2) = (b(p2 + 27 + nSegs + 2) ^ 0x2A).toByte
        b.map(x => f"${x & 0xff}%02X").mkString
      }
      val noEqHex = oggCfgs(2).streamHexTagged("graft-enc bad", Seq("NOEQUALS"))
      val blobHex =
        s"""CASE WHEN doc_id % 9 = 0 THEN '$badCrcHex'
           |WHEN doc_id % 9 = 4 THEN '$noEqHex'
           |ELSE $taggedCase END""".stripMargin
      Tables.documents(s, dir)
        .withColumn("t", expr(s"audio_ogg_tags(unhex($blobHex))"))
        .select(col("doc_id"),
          col("t").isNotNull.as("ok"),
          col("t.codec").as("codec"),
          col("t.vendor").as("vendor"),
          size(col("t.tags")).cast("long").as("n_tags"),
          when(col("t").isNull, lit(null)).otherwise(
            md5(concat_ws(";",
              expr("transform(t.tags, x -> concat(x.key, '=', x.value))"))
              .cast("binary"))).as("tags_md5"))
        .orderBy(col("doc_id"))
    }),

    // ID3v2 TEXT FRAMES (id3_tags) — the MP3 sibling of the Vorbis/Opus
    // tag read: one fixture per container generation (v2.3 ISO-8859-1
    // with padding and a trailing-NUL value, v2.3 UTF-16+BOM behind an
    // extended header, v2.4 UTF-8 + UTF-16BE with a skipped URL frame,
    // v2.2 three-byte ids), plus a truncated-frame refusal and a
    // non-syncsafe v2.4 frame-size refusal. The oracle replays
    // version/count/tag digests as closed forms.
    "mm_audio_id3_tags" -> ((s, dir) => {
      val c0 = id3Hex(3, Seq(
        ("TIT2", 0, "Track 0\u0000"), ("TPE1", 0, "Artist 0"),
        ("TALB", 0, "Album zero"), ("TLAN", 0, "eng"),
        ("TCON", 0, "field")), padding = 16)
      val c1 = id3Hex(3, Seq(
        ("TIT2", 1, "Track 1"), ("TPE1", 1, "Artist №1"),
        ("TALB", 1, "Album eins"), ("TLAN", 1, "deu"),
        ("TCON", 1, "corpus")), extHeader = true)
      val c2 = id3Hex(4, Seq(
        ("TIT2", 3, "Track 2 ☃"), ("WOAR", 0, "https://example.org/a"),
        ("TPE1", 3, "Artiste n°2"), ("TALB", 3, "Album deux"),
        ("TLAN", 3, "fra"), ("TCON", 2, "field")))
      val c3 = id3Hex(2, Seq(
        ("TT2", 0, "Track 3"), ("TP1", 0, "Artist 3"),
        ("TAL", 0, "Album three"), ("TLA", 0, "jpn"),
        ("TCO", 0, "corpus")))
      val trunc = id3Hex(3, Seq(("TIT2", 0, "x")), truncate = true)
      val badSync = id3Hex(4, Seq(("TIT2", 3, "x")), breakSyncsafe = true)
      val blobHex =
        s"""CASE WHEN doc_id % 9 = 0 THEN '$trunc'
           |WHEN doc_id % 9 = 4 THEN '$badSync'
           |ELSE CASE doc_id % 4 WHEN 0 THEN '$c0' WHEN 1 THEN '$c1'
           |  WHEN 2 THEN '$c2' ELSE '$c3' END END""".stripMargin
      Tables.documents(s, dir)
        .withColumn("t", expr(s"id3_tags(unhex($blobHex))"))
        .select(col("doc_id"),
          col("t").isNotNull.as("ok"),
          col("t.version").as("version"),
          size(col("t.tags")).cast("long").as("n_tags"),
          when(col("t").isNull, lit(null)).otherwise(
            md5(concat_ws(";",
              expr("transform(t.tags, x -> concat(x.key, '=', x.value))"))
              .cast("binary"))).as("tags_md5"))
        .orderBy(col("doc_id"))
    }),

    // ID3v1 / v1.1 TRAILING tag — the legacy fallback when no ID3v2
    // container exists: fixed 128-byte block at the END of the file.
    // Three constructions (v1.1 with track marker, v1.0 full-width
    // comment, blank-padded fields) + a no-TAG refusal; closed-form
    // oracle.
    "mm_audio_id3v1" -> ((s, dir) => {
      def pad(sql: String, len: Int): String =
        s"rpad(substr($sql, 1, $len), $len, chr(0))"
      def hx(sql: String): String = s"hex(encode($sql, 'ISO-8859-1'))"
      val k = "cast(doc_id % 50 as string)"
      val v11 = s"""concat('544147',
        |${hx(pad(s"concat('Song ', $k)", 30))},
        |${hx(pad("'Artist A'", 30))},
        |${hx(pad("'Album B'", 30))},
        |${hx("'1999'")},
        |${hx(pad("'nice'", 28))}, '00',
        |lpad(hex(cast(doc_id % 30 + 1 as int)), 2, '0'),
        |lpad(hex(cast(doc_id % 80 as int)), 2, '0'))""".stripMargin
      val v10 = s"""concat('544147',
        |${hx(pad(s"concat('Song ', $k)", 30))},
        |${hx(pad("'Artist B'", 30))},
        |${hx(pad("'Album C'", 30))},
        |${hx("'1987'")},
        |${hx(pad("'comment without a track marker'", 30))},
        |lpad(hex(cast(doc_id % 80 as int)), 2, '0'))""".stripMargin
      val padded = s"""concat('544147',
        |${hx("rpad('Padded', 30, ' ')")},
        |${hx("repeat(' ', 30)")},
        |${hx("repeat(chr(0), 30)")},
        |${hx("'2005'")},
        |${hx("rpad('', 28, ' ')")}, '00', '07',
        |lpad(hex(cast(doc_id % 80 as int)), 2, '0'))""".stripMargin
      val blobHex =
        s"""CASE WHEN doc_id % 9 = 0 THEN 'FFFB9000'
           |WHEN doc_id % 3 = 0 THEN $v11
           |WHEN doc_id % 3 = 1 THEN $v10
           |ELSE $padded END""".stripMargin
      Tables.documents(s, dir)
        .withColumn("t", expr(s"id3v1_tags(unhex($blobHex))"))
        .select(col("doc_id"),
          col("t").isNotNull.as("ok"),
          col("t.title").as("title"),
          col("t.artist").as("artist"),
          col("t.year").as("year"),
          col("t.comment").as("comment"),
          col("t.track").as("track"),
          col("t.genre_id").as("genre_id"))
        .orderBy(col("doc_id"))
    }),

    // TAGGED MP3, END TO END — one blob carrying all three layers a
    // real MP3 does: an ID3v2 container up front (both tag generations
    // cycled), three MPEG-1 Layer I frames (the generator-pinned
    // header FFFF3A00: 32 kHz / 96 kbps / stereo / padded → 148-byte
    // frames, 36 ms total), and a trailing ID3v1.1 block. Three
    // readers over the SAME bytes certify they compose: id3_tags
    // reads the front, audio_mpeg_meta steps over BOTH tags to walk
    // the frames, id3v1_tags reads the tail. The torn branch (%9=0,
    // frame bytes cut mid-frame, no tail) shows the honest partial
    // shape: the front tag still parses while the frame walk and the
    // tail refuse.
    "mm_audio_mp3_tagged_e2e" -> ((s, dir) => {
      val v2c0 = id3Hex(3, Seq(("TIT2", 0, "Front zero"),
        ("TLAN", 0, "eng")))
      val v2c1 = id3Hex(4, Seq(("TIT2", 3, "Front ☃ one"),
        ("TCON", 2, "field")))
      val framesHex = "repeat(concat('FFFF3A00', repeat('00', 144)), 3)"
      def pad(sql: String, len: Int): String =
        s"rpad(substr($sql, 1, $len), $len, chr(0))"
      def hx(sql: String): String = s"hex(encode($sql, 'ISO-8859-1'))"
      val v1Hex = s"""concat('544147',
        |${hx(pad("concat('Tail ', cast(doc_id % 50 as string))", 30))},
        |${hx(pad("'AA'", 30))}, ${hx(pad("'BB'", 30))}, ${hx("'2010'")},
        |${hx(pad("'c'", 28))}, '00',
        |lpad(hex(cast(doc_id % 30 + 1 as int)), 2, '0'), '11')""".stripMargin
      val v2Hex = s"CASE WHEN doc_id % 2 = 0 THEN '$v2c0' ELSE '$v2c1' END"
      val blobHex =
        s"""CASE WHEN doc_id % 9 = 0
           |THEN concat($v2Hex, substr($framesHex, 1, 200))
           |ELSE concat($v2Hex, $framesHex, $v1Hex) END""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($blobHex)"))
        .selectExpr("doc_id", "audio_mpeg_meta(blob) AS m",
          "id3_tags(blob) AS t2", "id3v1_tags(blob) AS t1")
        .select(col("doc_id"),
          col("m").isNotNull.as("ok_meta"),
          col("m.version").as("version"),
          col("m.sample_rate").as("sample_rate"),
          col("m.n_frames").as("n_frames"),
          col("m.duration_ms").as("duration_ms"),
          expr("filter(t2.tags, x -> x.key = 'TIT2')[0].value")
            .as("v2_title"),
          col("t1.title").as("v1_title"),
          col("t1.track").as("v1_track"))
        .orderBy(col("doc_id"))
    }),

    "mm_audio_meta" -> ((s, dir) => {
      val chSql = "(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END)"
      val rateSql = "(doc_id % 8 * 4000 + 8000)"
      val wavHex =
        s"""concat('52494646', ${le("100", 4)}, '57415645',
           |  '4A554E4B', ${le("2 * (doc_id % 4)", 4)}, repeat('00', cast(2 * (doc_id % 4) as int)),
           |  '666D7420', ${le("16", 4)}, ${le("1", 2)}, ${le(chSql, 2)},
           |  ${le(rateSql, 4)}, ${le(s"$rateSql * $chSql * 2", 4)},
           |  ${le(s"$chSql * 2", 2)}, ${le("16", 2)})""".stripMargin
      val flacHex =
        s"""concat('664C6143', '80', '000022', '1000', '1000', '000000', '000000',
           |  lpad(hex($rateSql div 4096), 2, '0'),
           |  lpad(hex($rateSql div 16 % 256), 2, '0'),
           |  lpad(hex($rateSql % 16 * 16 + ($chSql - 1) * 2), 2, '0'),
           |  'F0')""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(
          s"unhex(CASE WHEN doc_id % 2 = 0 THEN $wavHex ELSE $flacHex END)"))
        .selectExpr("doc_id", "audio_header(blob) AS m")
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.bits_per_sample").as("bits_per_sample"))
        .orderBy(col("doc_id"))
    }),


    // SAMPLE-LEVEL audio decode (graft.functions.AudioPcmStats): real mono
    // 16-bit PCM WAVs synthesized per doc — a JUNK chunk before `fmt `
    // forces the chunk walk, then n = doc_id%17+24 samples with
    // s(k) = (doc_id*37 + k*451) % 4001 - 2000 written little-endian. The
    // engine must actually decode the waveform (peak / Σs² / strict
    // sign-flip zero crossings — the silence/clipping/activity gates of
    // audio curation); the oracle replays the integer arithmetic from the
    // same doc_id-derived formula. RMS is the only float, computed from
    // the exact integers and rounded on both sides.
    "mm_audio_features" -> ((s, dir) => {
      val nSql = "(doc_id % 17 + 24)"
      val leSampleSql = MmFixtures.leSample16(MmFixtures.statsSampleSql("k"))
      val wavHex = // JUNK chunk before fmt forces the chunk walk
        s"""concat('52494646', ${le("100", 4)}, '57415645',
           |  '4A554E4B', ${le("2 * (doc_id % 4)", 4)}, repeat('00', cast(2 * (doc_id % 4) as int)),
           |  '666D7420', ${le("16", 4)}, ${le("1", 2)}, ${le("1", 2)},
           |  ${le("16000", 4)}, ${le("32000", 4)}, ${le("2", 2)}, ${le("16", 2)},
           |  '64617461', ${le(s"2 * $nSql", 4)},
           |  array_join(transform(sequence(0, $nSql - 1), k -> $leSampleSql), ''))"""
          .stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($wavHex)"))
        .selectExpr("doc_id", "audio_pcm_stats(blob) AS st")
        .select(col("doc_id"), col("st.n_samples").as("n_samples"),
          col("st.peak").as("peak"),
          col("st.zero_crossings").as("zero_crossings"),
          (floor(sqrt(col("st.sum_sq").cast("double") / col("st.n_samples"))
            * 1e4 + lit(0.5)) / 1e4).as("rms"))
        .orderBy(col("doc_id"))
    }),


    // Rate normalization (functions.AudioResample): the same synthetic
    // 16 kHz waveform resampled to 11025 Hz (down, even docs) or
    // 22050 Hz (up, odd docs) via exact rational linear interpolation,
    // then the standard stats contract over the RESAMPLED wav — the
    // blob round trip audio_pcm_stats(audio_resample(x, r)) certifies
    // the interpolation arithmetic, the emitted RIFF container
    // (octet_length = 44 + 2·n_out), and the stats decode in one hash.
    "mm_audio_resample" -> ((s, dir) => {
      val nSql = "(doc_id % 17 + 24)"
      val wavHex = MmFixtures.wav16kHex(nSql, MmFixtures.statsSampleSql("k"))
      Tables.documents(s, dir)
        .withColumn("dst",
          expr("CAST(CASE WHEN doc_id % 2 = 0 THEN 11025 ELSE 22050 END AS INT)"))
        .withColumn("rs", expr(s"audio_resample(unhex($wavHex), dst)"))
        .selectExpr("doc_id", "dst", "octet_length(rs) AS n_bytes",
          "audio_pcm_stats(rs) AS st")
        .select(col("doc_id"), col("dst").cast("long").as("dst_rate"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("st.n_samples").as("n_out"), col("st.peak").as("peak"),
          col("st.zero_crossings").as("zero_crossings"),
          (floor(sqrt(col("st.sum_sq").cast("double") / col("st.n_samples"))
            * 1e4 + lit(0.5)) / 1e4).as("rms"))
        .orderBy(col("doc_id"))
    }),


    // Mel-filterbank energies (functions.AudioMel) — the spectral
    // speech-curation gate: fixed-point 64-point DFT power spectrum of
    // the first window folded through 8 HTK mel triangles, every
    // product/sum/division an exact integer (StrictMath basis tables,
    // the pHash posture). n crosses the window size both ways, so the
    // zero-padded AND truncated paths are both certified; the oracle
    // replays the whole pipeline from the same doc_id waveform with the
    // basis values as literals.
    "mm_audio_mel" -> ((s, dir) => {
      val nSql = "(doc_id % 80 + 24)"
      val wavHex = MmFixtures.wav16kHex(nSql, MmFixtures.statsSampleSql("k"))
      Tables.documents(s, dir)
        .withColumn("m", expr(s"audio_mel(unhex($wavHex))"))
        .select(col("doc_id"), posexplode(col("m")).as(Seq("band", "energy")))
        .select(col("doc_id"), col("band").cast("long").as("band"),
          col("energy"))
        .orderBy(col("doc_id"), col("band"))
    }),


    // The full mel SPECTROGRAM (audio_mel_frames): one 8-band energy
    // row per 32-sample hop frame (50% overlap, the standard speech
    // grain), tail zero-padded — mm_audio_mel is exactly frame 0. The
    // oracle adds the frame dimension to the same basis-literal replay.
    "mm_audio_spectrogram" -> ((s, dir) => {
      val nSql = "(doc_id % 80 + 24)"
      val wavHex = MmFixtures.wav16kHex(nSql, MmFixtures.statsSampleSql("k"))
      Tables.documents(s, dir)
        .withColumn("sg", expr(s"audio_mel_frames(unhex($wavHex))"))
        .select(col("doc_id"), posexplode(col("sg")).as(Seq("frame", "row")))
        .select(col("doc_id"), col("frame").cast("long").as("frame"),
          posexplode(col("row")).as(Seq("band", "energy")))
        .select(col("doc_id"), col("frame"),
          col("band").cast("long").as("band"), col("energy"))
        .orderBy(col("doc_id"), col("frame"), col("band"))
    }),


    // VOICE-ACTIVITY SEGMENTATION (VAD) — the first gate every speech
    // pipeline runs (silence trimming, utterance cutting before ASR or
    // audio-text alignment): per-frame Σs² energies on the mel framing
    // grid (audio_frame_energy — time-domain, NO DFT, so the gate costs
    // a scan, not a spectrogram), a frame is active when 4·e clears the
    // clip's mean energy, and consecutive active frames merge into
    // segments (gaps-and-islands: frame − active-rank, a doc-keyed
    // bounded window) with a ≥2-frame floor. Fixtures alternate loud
    // Lehmer-scrambled 128-sample bursts with a tiny noise floor, the
    // phase flipped by doc parity; window straddles at burst edges
    // carry half energy and still clear the threshold — both covered by
    // the oracle, which replays every sample, energy, the mean, the
    // island grouping, and the floor.
    "mm_audio_vad" -> ((s, dir) => {
      val wavHex = MmFixtures.vadBurstWavHex
      // frame-energy table materializes once — it feeds both the
      // per-clip mean and the activity filter
      // single-file corpus scans as 1-2 partitions; repartition the
      // doc_id proxy rows BEFORE the per-doc PCM synthesis + energy
      // expression so the heavy scan-side work parallelizes (guide §2)
      val frames = Tables.documents(s, dir)
        .select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("fe", expr(s"audio_frame_energy(unhex($wavHex))"))
        .select(col("doc_id"), posexplode(col("fe")).as(Seq("f", "e")))
        .localCheckpoint(true)
      val stats = frames.groupBy(col("doc_id"))
        .agg(expr("sum(e) div count(1)").as("me"))
      val act = frames.join(stats, "doc_id")
        .filter(col("e") * 4 > col("me"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("f"))
      act.withColumn("seg", col("f") - row_number().over(w))
        .groupBy(col("doc_id"), col("seg"))
        .agg((min(col("f")) * 2).cast("long").as("start_ms"),
          (max(col("f")) * 2 + 4).cast("long").as("end_ms"),
          count(lit(1)).as("n_frames"), sum(col("e")).as("energy"))
        .filter(col("n_frames") >= 2)
        .select(col("doc_id"), col("start_ms"), col("end_ms"),
          col("n_frames"), col("energy"))
        .orderBy(col("doc_id"), col("start_ms"))
    }),


    // SUBTITLE-TO-AUDIO ALIGNMENT — the speech-pair assembly step
    // (ASR/TTS corpora are (cue text, audio span) rows): subtitle cues
    // (graft.functions.SubtitleCues) join to the frame-energy grid by
    // pure integer arithmetic — frame f starts at 2f ms, a cue covers
    // the frames whose start falls inside [start_ms, end_ms) — via an
    // EXPLODED sequence + equi-join on (doc, frame), never a range
    // join. Per cue: covered frames and their summed energy, the
    // signal that flags cues over silence (bad alignments) before
    // training. Fixtures: the VAD burst WAVs with VTT cues riding the
    // parity-phased bursts; the oracle replays sample energies, cue
    // spans, and the rollup.
    "mm_subtitle_align" -> ((s, dir) => {
      val wavHex = MmFixtures.vadBurstWavHex
      def ts(ms: String) = MmFixtures.vttTs(ms)
      def cueSql(c: Int) = {
        val st = s"(${16 * c} + (doc_id % 2) * 8)"
        s"${ts(st)}, ' --> ', ${ts(s"$st + 8")}, chr(10), " +
          s"'cue $c of ', cast(doc_id as string), chr(10), chr(10)"
      }
      val vttSql = s"concat('WEBVTT', chr(10), chr(10), ${cueSql(0)}, " +
        s"${cueSql(1)})"
      val frames = Tables.documents(s, dir)
        .select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("fe", expr(s"audio_frame_energy(unhex($wavHex))"))
        .select(col("doc_id"), posexplode(col("fe")).as(Seq("f", "e")))
        .localCheckpoint(true)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(expr(s"subtitle_cues($vttSql)")).as("cue"))
        .select(col("doc_id"), col("cue.idx").cast("long").as("idx"),
          col("cue.start_ms").as("start_ms"), col("cue.end_ms").as("end_ms"),
          col("cue.text").as("text"))
        .withColumn("f", explode(expr(
          "sequence(cast((start_ms + 1) div 2 as int), " +
            "cast((end_ms - 1) div 2 as int))")))
        .join(frames, Seq("doc_id", "f"))
        .groupBy(col("doc_id"), col("idx"), col("start_ms"),
          col("end_ms"), col("text"))
        .agg(count(lit(1)).as("n_frames"), sum(col("e")).as("energy"))
        .orderBy(col("doc_id"), col("idx"))
    }),


    // SPEECH MILE, END TO END — the audio-text funnel as one certified
    // composition: PCM → frame energies → per-clip VAD mean → subtitle
    // cues joined to their frame spans → the VAD gate AT CUE GRAIN
    // (a cue is kept when its per-frame mean energy clears the clip
    // rule, 4·mean_cue > mean_clip — cues over silence are
    // mis-alignments and must not become training pairs) → one per-doc
    // digest (cue counts + md5 of the kept (idx:start:end:text) lines).
    // Fixtures: the VAD burst WAVs; two cues ride the parity-phased
    // bursts, a third sits on silence and must drop. The oracle replays
    // every sample, energy, span, the gate, and the digest.
    "mm_speech_e2e" -> ((s, dir) => {
      val wavHex = MmFixtures.vadBurstWavHex
      def ts(ms: String) = MmFixtures.vttTs(ms)
      def cueSql(st: String, label: String) =
        s"${ts(st)}, ' --> ', ${ts(s"($st) + 8")}, chr(10), " +
          s"'$label ', cast(doc_id as string), chr(10), chr(10)"
      val vttSql = s"concat('WEBVTT', chr(10), chr(10), " +
        s"${cueSql("(doc_id % 2) * 8", "burst one of")}, " +
        s"${cueSql("16 + (doc_id % 2) * 8", "burst two of")}, " +
        s"${cueSql("8 - (doc_id % 2) * 8", "silence of")})"
      val frames = Tables.documents(s, dir)
        .select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("fe", expr(s"audio_frame_energy(unhex($wavHex))"))
        .select(col("doc_id"), posexplode(col("fe")).as(Seq("f", "e")))
        .localCheckpoint(true)
      val clipMean = frames.groupBy(col("doc_id"))
        .agg(expr("sum(e) div count(1)").as("me"))
      val cues = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(expr(s"subtitle_cues($vttSql)")).as("cue"))
        .select(col("doc_id"), col("cue.idx").cast("long").as("idx"),
          col("cue.start_ms").as("start_ms"), col("cue.end_ms").as("end_ms"),
          col("cue.text").as("text"))
        .withColumn("f", explode(expr(
          "sequence(cast((start_ms + 1) div 2 as int), " +
            "cast((end_ms - 1) div 2 as int))")))
        .join(frames, Seq("doc_id", "f"))
        .groupBy(col("doc_id"), col("idx"), col("start_ms"),
          col("end_ms"), col("text"))
        .agg(count(lit(1)).as("nf"), sum(col("e")).as("energy"))
      cues.join(clipMean, "doc_id")
        .withColumn("kept",
          expr("(energy div nf) * 4 > me"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_cues"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          md5(array_join(transform(array_sort(collect_list(
            when(col("kept"), struct(col("idx"), concat_ws(":",
              col("idx").cast("string"), col("start_ms").cast("string"),
              col("end_ms").cast("string"), col("text")).as("line"))))),
            x => x.getField("line")), "\n").cast("binary")).as("kept_md5"))
        .orderBy(col("doc_id"))
    }),


    // AUDIO FINGERPRINT DEDUP — the perceptual-dedup triad's third leg
    // (image ✓, video ✓): temporal-delta band-sign fingerprints over
    // the mel spectrogram (MultimodalOps.audioFingerprints — bit = band
    // energy ROSE vs the previous frame, 8 frames per 64-bit window
    // fingerprint), then the same hamming-banded candidate/verify/
    // rollup pipeline as mm_video_dedup through cappedBandPairs.
    // Fixtures: real 512-sample WAVs, docs 2g/2g+1 carry the same
    // Lehmer-scrambled waveform with the odd one re-encoded at 3/4
    // amplitude — the loudness-renormed repost shape; the delta rule
    // makes those collide while different-g waveforms scramble apart.
    // The oracle replays PCM → fixed-point DFT (shared basis literals)
    // → mel energies → every delta bit → bands → hamming → rollup.
    "mm_audio_dedup" -> ((s, dir) => {
      val gSql = "(doc_id div 2)"
      val seedSql = s"(($gSql * 48271) % 65537)"
      val sEvenSql = s"((($seedSql * (k + 7)) % 65537) % 4001 - 2000)"
      val sSql = s"(CASE WHEN doc_id % 2 = 1 THEN (3 * $sEvenSql) div 4" +
        s" ELSE $sEvenSql END)"
      val wavHex = MmFixtures.wav16kHex("512", sSql)
      // 512 samples → 16 frames → 2 fingerprint windows per doc; the
      // fingerprint table materializes once before the band self-join
      val fps = graft.ops.MultimodalOps.audioFingerprints(
          Tables.documents(s, dir)
            .select(col("doc_id"))
            .repartition(s.sparkContext.defaultParallelism)
            .withColumn("sg", expr(s"audio_mel_frames(unhex($wavHex))")),
          "doc_id", "sg")
        .localCheckpoint(true)
      val banded = fps.select(col("doc_id"), col("win"), col("fp"),
          explode(array((0 until 4).map(b => struct(lit(b).as("bi"),
            expr(s"shiftright(fp, ${b * 16}) & 65535").as("bv"))): _*))
            .as("band"))
        .select(col("doc_id"), col("win"), col("fp"),
          col("band.bi").as("band_idx"), col("band.bv").as("band_val"))
      graft.ops.DedupOps.cappedBandPairs(banded, "doc_id",
          Seq("band_idx", "band_val"), Seq("fp", "win"), maxBlock = 4096)
        .filter(bit_count(col("fp_a").bitwiseXOR(col("fp_b"))) <= 6)
        .select(col("id_a"), col("id_b"), col("win_a"), col("win_b"))
        .distinct()
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_match"))
        .filter(col("n_match") >= 2)
        .orderBy(col("id_a"), col("id_b"))
    }),


    // G.711 COMPANDED WAV (μ-law tag 7 / A-law tag 6 by doc parity) —
    // the telephony/speech-corpus encoding, decoded through the ITU-T
    // segment arithmetic (functions.AudioG711Stats). Every data byte is
    // a closed form of (doc_id, k), and the expansion is closed-form
    // integer arithmetic, so the oracle replays byte → linear → stats
    // without parsing the container.
    "mm_audio_g711" -> ((s, dir) => {
      val nSql = "(doc_id % 15 + 20)"
      val tagSql = "(CASE WHEN doc_id % 2 = 0 THEN 7 ELSE 6 END)"
      val byteSql = "((doc_id * 31 + k * 97) % 256)"
      val wavHex =
        s"""concat('52494646', ${le("100", 4)}, '57415645',
           |  '666D7420', ${le("16", 4)}, ${le(tagSql, 2)}, ${le("1", 2)},
           |  ${le("8000", 4)}, ${le("8000", 4)}, ${le("1", 2)}, ${le("8", 2)},
           |  '64617461', ${le(nSql, 4)},
           |  array_join(transform(sequence(0, $nSql - 1),
           |    k -> lpad(hex($byteSql), 2, '0')), ''))""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($wavHex)"))
        .selectExpr("doc_id",
          s"CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS encoding",
          "audio_g711_stats(blob) AS st")
        .select(col("doc_id"), col("encoding"),
          col("st.n_samples").as("n_samples"),
          col("st.peak").as("peak"),
          col("st.zero_crossings").as("zero_crossings"),
          (floor(sqrt(col("st.sum_sq").cast("double") / col("st.n_samples"))
            * 1e4 + lit(0.5)) / 1e4).as("rms"))
        .orderBy(col("doc_id"))
    }),


    // AIFF sample decode (functions.AiffStats) — the BIG-ENDIAN sibling
    // of the WAV path with every byte-order/sign assumption inverted
    // (16/24-bit BE, 8-bit SIGNED) plus the 80-bit IEEE-extended sample
    // rate decoded exactly. Width AND rate cycle by doc parity
    // (16b/44100, 8b/8000, 24b/48000); every sample is a closed form of
    // (doc_id, k) so the oracle replays stats without parsing a byte —
    // a wrong endianness or sign model breaks peak/rms/zc loudly.
    "mm_audio_aiff" -> ((s, dir) => {
      def be(x: String, bytes: Int) = s"lpad(hex($x), ${2 * bytes}, '0')"
      val bitsSql = "(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 16 WHEN 1 THEN 8 ELSE 24 END)"
      val bpsSql = "(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 3 END)"
      val mSql = "(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 2000 WHEN 1 THEN 120 ELSE 1000000 END)"
      val modSql = "(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 65536 WHEN 1 THEN 256 ELSE 16777216 END)"
      val rateHexSql = "(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '400EAC44000000000000' " +
        "WHEN 1 THEN '400BFA00000000000000' ELSE '400EBB80000000000000' END)"
      val nSql = "(doc_id % 11 + 16)"
      val dataLenSql = s"($nSql * $bpsSql)"
      val smpSql = s"((doc_id * 37 + k * 451) % (2 * $mSql + 1) - $mSql)"
      val dataSql =
        s"""array_join(transform(sequence(0, $nSql - 1), k ->
           |  lpad(hex((($smpSql) % $modSql + $modSql) % $modSql),
           |       2 * $bpsSql, '0')), '')""".stripMargin
      val aiffHex =
        s"""concat('464F524D',
           |  ${be(s"(46 + $dataLenSql + ($dataLenSql) % 2)", 4)},
           |  '41494646',
           |  '434F4D4D', '00000012', '0001', ${be(nSql, 4)},
           |  ${be(bitsSql, 2)}, $rateHexSql,
           |  '53534E44', ${be(s"(8 + $dataLenSql)", 4)},
           |  '0000000000000000', $dataSql,
           |  IF(($dataLenSql) % 2 = 1, '00', ''))""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($aiffHex)"))
        .selectExpr("doc_id", "audio_aiff_stats(blob) AS st")
        .select(col("doc_id"), col("st.bits").as("bits"),
          col("st.sample_rate").as("sample_rate"),
          col("st.n_samples").as("n_samples"),
          col("st.peak").as("peak"),
          col("st.zero_crossings").as("zero_crossings"),
          (floor(sqrt(col("st.sum_sq").cast("double") / col("st.n_samples"))
            * 1e4 + lit(0.5)) / 1e4).as("rms"))
        .orderBy(col("doc_id"))
    }),


    // STEREO WAV decode via truncating (L+R)/2 downmix
    // (functions.AudioPcmDownmix): the mono-ize-first curation contract
    // over real interleaved PCM16 frames — mono-only audio_pcm_stats
    // refuses these same bytes by design. The oracle replays the
    // downmix ARITHMETIC (DuckDB's // truncates toward zero exactly
    // like Java int division — the reason downmix is truncation, not
    // floor), never parsing a byte.
    "mm_audio_stereo" -> ((s, dir) => {
      val nSql = "(doc_id % 13 + 20)"
      val lSql = "((doc_id * 37 + k * 451) % 4001 - 2000)"
      val rSql = "((doc_id * 53 + k * 293) % 3001 - 1500)"
      def le16(sample: String) = {
        val u = s"(($sample) % 65536 + 65536) % 65536"
        s"concat(substr(lpad(hex($u), 4, '0'), 3, 2), substr(lpad(hex($u), 4, '0'), 1, 2))"
      }
      val wavHex =
        s"""concat('52494646', ${le("100", 4)}, '57415645',
           |  '666D7420', ${le("16", 4)}, ${le("1", 2)}, ${le("2", 2)},
           |  ${le("16000", 4)}, ${le("64000", 4)}, ${le("4", 2)}, ${le("16", 2)},
           |  '64617461', ${le(s"4 * $nSql", 4)},
           |  array_join(transform(sequence(0, $nSql - 1),
           |    k -> concat(${le16(lSql)}, ${le16(rSql)})), ''))""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($wavHex)"))
        .selectExpr("doc_id", "audio_pcm_downmix(blob) AS st")
        .select(col("doc_id"), col("st.n_samples").as("n_samples"),
          col("st.peak").as("peak"),
          col("st.zero_crossings").as("zero_crossings"),
          (floor(sqrt(col("st.sum_sq").cast("double") / col("st.n_samples"))
            * 1e4 + lit(0.5)) / 1e4).as("rms"))
        .orderBy(col("doc_id"))
    }),


    // SAMPLE WIDTHS beyond PCM16: per doc a mono WAV whose width cycles
    // 8/16/24-bit by doc_id%3 — 8-bit stored UNSIGNED (spec) and
    // centered by the decoder, 24-bit signed little-endian — through
    // the same audio_pcm_stats seam. Amplitudes are width-scaled so a
    // wrong sign-extension or centering is a loud hash break, and the
    // oracle replays the exact integer stats from the formula.
    "mm_audio_widths" -> ((s, dir) => {
      val bitsSql = "(CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END)"
      val mSql = "(CASE doc_id % 3 WHEN 0 THEN 120 WHEN 1 THEN 2000 ELSE 1500000 END)"
      val nSql = "(doc_id % 11 + 16)"
      val vSql = s"((doc_id * 37 + k * 451) % (2 * $mSql + 1) - $mSql)"
      def leU(v: String, modulus: Long, bytes: Int) =
        le(s"(($v) % $modulus + $modulus) % $modulus", bytes)
      val sampleHex =
        s"""CASE doc_id % 3
           |  WHEN 0 THEN lpad(hex($vSql + 128), 2, '0')
           |  WHEN 1 THEN ${leU(vSql, 65536L, 2)}
           |  ELSE ${leU(vSql, 16777216L, 3)} END""".stripMargin
      val bpsSql = s"($bitsSql div 8)"
      val wavHex =
        s"""concat('52494646', ${le("100", 4)}, '57415645',
           |  '666D7420', ${le("16", 4)}, ${le("1", 2)}, ${le("1", 2)},
           |  ${le("16000", 4)}, ${le(s"16000 * $bpsSql", 4)},
           |  ${le(bpsSql, 2)}, ${le(bitsSql, 2)},
           |  '64617461', ${le(s"$bpsSql * $nSql", 4)},
           |  array_join(transform(sequence(0, $nSql - 1),
           |    k -> $sampleHex), ''))""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($wavHex)"))
        .selectExpr("doc_id", s"$bitsSql AS bits",
          "audio_pcm_stats(blob) AS st")
        .select(col("doc_id"), col("bits"),
          col("st.n_samples").as("n_samples"), col("st.peak").as("peak"),
          col("st.zero_crossings").as("zero_crossings"),
          (floor(sqrt(col("st.sum_sq").cast("double") / col("st.n_samples"))
            * 1e4 + lit(0.5)) / 1e4).as("rms"))
        .orderBy(col("doc_id"))
    }),


    // NATIVE FLAC sample decode (graft.functions.AudioFlacStats): per
    // doc a real fLaC stream — STREAMINFO (packed sr/channels/bits/
    // total-samples field), then a CONSTANT frame (c = doc_id%7+10
    // copies of one sample, stored once) and a VERBATIM frame
    // (n1 = doc_id%9+4 explicit samples) with genuine frame headers
    // (sync, blocksize code 0111 + explicit 16-bit field, UTF-8 frame
    // number). Rice-coded FIXED/LPC subframes refuse by contract. The
    // oracle replays the sample arithmetic: the constant run
    // contributes c copies, crossings only at run boundaries.
    "mm_audio_flac" -> ((s, dir) => {
      def be(x: String, bytes: Int) = (bytes - 1 to 0 by -1)
        .map(n => s"lpad(hex(($x) div ${1L << (8 * n)} % 256), 2, '0')")
        .mkString("concat(", ", ", ")")
      def be16u(v: String) = be(s"(($v) % 65536 + 65536) % 65536", 2)
      val cSql = "(doc_id % 7 + 10)"
      val v0Sql = "((doc_id * 29) % 4001 - 2000)"
      val n1Sql = "(doc_id % 9 + 4)"
      val v1Sql = "((doc_id * 37 + k * 451) % 4001 - 2000)"
      val totalSql = s"($cSql + $n1Sql)"
      val packedSql =
        s"(16000 * ${1L << 44} + 15 * ${1L << 36} + $totalSql)"
      val flacHex =
        s"""concat('664C6143',
           |  '80', '000022', ${be("16", 2)}, ${be("65535", 2)},
           |  '000000', '000000', ${be(packedSql, 8)},
           |  repeat('00', 16),
           |  'FFF87008', '00', ${be(s"$cSql - 1", 2)}, '00',
           |    '00', ${be16u(v0Sql)}, '0000',
           |  'FFF87008', '01', ${be(s"$n1Sql - 1", 2)}, '00',
           |    '02', array_join(transform(sequence(0, $n1Sql - 1),
           |      k -> ${be16u(v1Sql)}), ''), '0000')""".stripMargin
      Tables.documents(s, dir)
        .withColumn("blob", expr(s"unhex($flacHex)"))
        .selectExpr("doc_id", "audio_flac_stats(blob) AS st")
        .select(col("doc_id"),
          col("st.n_samples").as("n_samples"), col("st.peak").as("peak"),
          col("st.zero_crossings").as("zero_crossings"),
          (floor(sqrt(col("st.sum_sq").cast("double") / col("st.n_samples"))
            * 1e4 + lit(0.5)) / 1e4).as("rms"))
        .orderBy(col("doc_id"))
    }),


    // RICE-CODED FLAC decode — the subframe types real-world FLAC
    // actually uses (FIXED orders 0-4 and LPC, Rice/Rice2 residual
    // partitions, escape partitions) over committed fixtures from an
    // INDEPENDENT encoder (tools/gen_flac_fixtures.py, written from the
    // public spec with no shared code — the mm_image_jpeg pattern). The
    // samples follow v[k] = (seed*37 + k*451) % 4001 - 2000, so the
    // oracle replays the exact integer stats from the formula and never
    // touches a byte: any drift in Rice decoding, partition walking,
    // warmup handling or predictor arithmetic breaks the hash.
    "mm_audio_flac_rice" -> ((s, dir) => {
      import s.implicits._
      flacRiceFixtures.toDF("img", "seed", "n", "hex")
        .selectExpr("img", "audio_flac_stats(unhex(hex)) AS st")
        .select(col("img"),
          col("st.n_samples").as("n_samples"), col("st.peak").as("peak"),
          col("st.zero_crossings").as("zero_crossings"),
          (floor(sqrt(col("st.sum_sq").cast("double") / col("st.n_samples"))
            * 1e4 + lit(0.5)) / 1e4).as("rms"))
        .orderBy(col("img"))
    }),


    // STEREO FLAC decode — the four channel assignments real stereo
    // FLAC uses (independent L/R, left-side, right-side, mid-side; side
    // channels carry the spec's extra bit), reconstructed exactly and
    // downmixed with the truncating (L+R)/2 AudioPcmDownmix contract.
    // Committed fixtures from the independent encoder; the oracle
    // replays both channel formulas, the downmix, and the stats.
    "mm_audio_flac_stereo" -> ((s, dir) => {
      import s.implicits._
      flacStereoFixtures.toDF("img", "seed", "n", "hex")
        .selectExpr("img", "audio_flac_stats(unhex(hex)) AS st")
        .select(col("img"),
          col("st.n_samples").as("n_samples"), col("st.peak").as("peak"),
          col("st.zero_crossings").as("zero_crossings"),
          (floor(sqrt(col("st.sum_sq").cast("double") / col("st.n_samples"))
            * 1e4 + lit(0.5)) / 1e4).as("rms"))
        .orderBy(col("img"))
    }))

  override val oracle: Map[String, String] = Map(

    // closed-form replay of the four-config ADTS construction
    "mm_audio_adts_meta" -> {
      def cfgCase(f: AdtsCfg => Int): String =
        "CASE doc_id % 4 " + adtsCfgs.zipWithIndex.map { case (c, i) =>
          s"WHEN $i THEN ${f(c)}"
        }.mkString(" ") + " END"
      s"""SELECT doc_id,
         |  (doc_id % 13 <> 0) AS ok,
         |  CAST(CASE WHEN doc_id % 13 = 0 THEN NULL
         |    ELSE ${cfgCase(_.version)} END AS INT) AS mpeg_version,
         |  CAST(CASE WHEN doc_id % 13 = 0 THEN NULL
         |    ELSE ${cfgCase(_.profile)} END AS INT) AS profile,
         |  CAST(CASE WHEN doc_id % 13 = 0 THEN NULL
         |    ELSE ${cfgCase(_.sampleRate)} END AS INT) AS sample_rate,
         |  CAST(CASE WHEN doc_id % 13 = 0 THEN NULL
         |    ELSE ${cfgCase(_.channels)} END AS INT) AS channels,
         |  CAST(CASE WHEN doc_id % 13 = 0 THEN NULL
         |    ELSE 1 + doc_id % 4 END AS INT) AS n_frames,
         |  CAST(CASE WHEN doc_id % 13 = 0 THEN NULL
         |    ELSE (1 + doc_id % 4) * 1024 * ${cfgCase(_.blocks)} * 1000
         |      // ${cfgCase(_.sampleRate)} END AS BIGINT) AS duration_ms
         |FROM documents ORDER BY doc_id""".stripMargin
    },


    // closed-form replay of the six-config construction; free-format
    // rows (doc_id%11=0) are refused to all-null
    "mm_audio_mp3_meta" -> {
      def cfgCase(f: MpegCfg => Any): String =
        "CASE doc_id % 6 " + mp3Cfgs.zipWithIndex.map { case (c, i) =>
          f(c) match {
            case s: String => s"WHEN $i THEN '$s'"
            case v => s"WHEN $i THEN $v"
          }
        }.mkString(" ") + " END"
      s"""SELECT doc_id,
         |  (doc_id % 11 <> 0) AS ok,
         |  CASE WHEN doc_id % 11 = 0 THEN NULL
         |    ELSE ${cfgCase(_.versionStr)} END AS version,
         |  CAST(CASE WHEN doc_id % 11 = 0 THEN NULL
         |    ELSE ${cfgCase(_.layer)} END AS INT) AS layer,
         |  CAST(CASE WHEN doc_id % 11 = 0 THEN NULL
         |    ELSE ${cfgCase(_.sampleRate)} END AS INT) AS sample_rate,
         |  CAST(CASE WHEN doc_id % 11 = 0 THEN NULL
         |    ELSE ${cfgCase(_.kbps)} END AS INT) AS bitrate_kbps,
         |  CAST(CASE WHEN doc_id % 11 = 0 THEN NULL
         |    ELSE ${cfgCase(_.channels)} END AS INT) AS channels,
         |  CAST(CASE WHEN doc_id % 11 = 0 THEN NULL
         |    ELSE 1 + doc_id % 5 END AS INT) AS n_frames,
         |  CAST(CASE WHEN doc_id % 11 = 0 THEN NULL
         |    ELSE (1 + doc_id % 5) * ${cfgCase(_.samplesPerFrame)} * 1000
         |      // ${cfgCase(_.sampleRate)} END AS BIGINT) AS duration_ms
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // closed-form replay of the four-config Ogg construction; stale-CRC
    // rows (doc_id%9=0) are refused to all-null
    "mm_audio_ogg_meta" -> {
      def cfgCase(f: OggCfg => Any): String =
        "CASE doc_id % 4 " + oggCfgs.zipWithIndex.map { case (c, i) =>
          f(c) match {
            case s: String => s"WHEN $i THEN '$s'"
            case v => s"WHEN $i THEN $v"
          }
        }.mkString(" ") + " END"
      // per-page duration divides evenly for every config:
      // granStep*1000/rate (vorbis) or granStep*1000/48000 (opus)
      def durPerPage(c: OggCfg): Long = c.codec match {
        case "vorbis" => c.granStep * 1000L / c.rate
        case _ => c.granStep * 1000L / 48000L
      }
      s"""SELECT doc_id,
         |  (doc_id % 9 <> 0) AS ok,
         |  CASE WHEN doc_id % 9 = 0 THEN NULL
         |    ELSE ${cfgCase(_.codec)} END AS codec,
         |  CAST(CASE WHEN doc_id % 9 = 0 THEN NULL
         |    ELSE ${cfgCase(_.channels)} END AS INT) AS channels,
         |  CAST(CASE WHEN doc_id % 9 = 0 THEN NULL
         |    ELSE ${cfgCase(_.rate)} END AS INT) AS sample_rate,
         |  CAST(CASE WHEN doc_id % 9 = 0 OR doc_id % 4 >= 2 THEN NULL
         |    ELSE ${cfgCase(_.brNom)} END AS INT) AS bitrate_nominal,
         |  CAST(CASE WHEN doc_id % 9 = 0 OR doc_id % 4 < 2 THEN NULL
         |    ELSE ${cfgCase(_.preSkip)} END AS INT) AS pre_skip,
         |  CAST(CASE WHEN doc_id % 9 = 0 THEN NULL
         |    ELSE 2 + doc_id % 3 END AS INT) AS n_pages,
         |  CAST(CASE WHEN doc_id % 9 = 0 THEN NULL
         |    ELSE (1 + doc_id % 3) * ${cfgCase(durPerPage)} END AS BIGINT)
         |    AS duration_ms
         |FROM documents ORDER BY doc_id""".stripMargin
    },


    // vendor/tag digests replayed as closed forms: the language list,
    // the duplicate GENRE pair, cfg 1's >255-byte DESCRIPTION (the
    // multi-segment lacing case), and the two refusal branches
    "mm_audio_ogg_tags" -> {
      val langCase = "CASE doc_id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'de' " +
        "WHEN 2 THEN 'fr' ELSE 'ja' END"
      s"""WITH d AS (SELECT doc_id, doc_id % 4 AS c,
         |    doc_id % 9 IN (0, 4) AS refused FROM documents)
         |SELECT doc_id,
         |  NOT refused AS ok,
         |  CASE WHEN refused THEN NULL
         |    WHEN c < 2 THEN 'vorbis' ELSE 'opus' END AS codec,
         |  CASE WHEN refused THEN NULL
         |    ELSE 'graft-enc 1.' || CAST(c AS VARCHAR) END AS vendor,
         |  CAST(CASE WHEN refused THEN NULL
         |    WHEN c = 1 THEN 6 ELSE 5 END AS BIGINT) AS n_tags,
         |  CASE WHEN refused THEN NULL
         |    ELSE md5('TITLE=Track ' || CAST(c AS VARCHAR) ||
         |      ';ARTIST=Artist №' || CAST(c AS VARCHAR) ||
         |      ';LANGUAGE=' || $langCase ||
         |      ';GENRE=field;GENRE=corpus' ||
         |      CASE WHEN c = 1 THEN ';DESCRIPTION=' ||
         |        rtrim(repeat('lorem ipsum ', 55)) ELSE '' END)
         |    END AS tags_md5
         |FROM d ORDER BY doc_id""".stripMargin
    },

    // version/count/digests replayed as closed forms over the four
    // container generations and the two refusal branches
    "mm_audio_id3_tags" ->
      """WITH d AS (SELECT doc_id, doc_id % 4 AS c,
        |    doc_id % 9 IN (0, 4) AS refused FROM documents)
        |SELECT doc_id,
        |  NOT refused AS ok,
        |  CASE WHEN refused THEN NULL
        |    WHEN c = 2 THEN '2.4' WHEN c = 3 THEN '2.2'
        |    ELSE '2.3' END AS version,
        |  CAST(CASE WHEN refused THEN NULL ELSE 5 END AS BIGINT) AS n_tags,
        |  CASE WHEN refused THEN NULL
        |    WHEN c = 0 THEN
        |      md5('TIT2=Track 0;TPE1=Artist 0;TALB=Album zero;TLAN=eng;TCON=field')
        |    WHEN c = 1 THEN
        |      md5('TIT2=Track 1;TPE1=Artist №1;TALB=Album eins;TLAN=deu;TCON=corpus')
        |    WHEN c = 2 THEN
        |      md5('TIT2=Track 2 ☃;TPE1=Artiste n°2;TALB=Album deux;TLAN=fra;TCON=field')
        |    ELSE
        |      md5('TT2=Track 3;TP1=Artist 3;TAL=Album three;TLA=jpn;TCO=corpus')
        |    END AS tags_md5
        |FROM d ORDER BY doc_id""".stripMargin,

    // the three fixed-block constructions replayed closed-form
    "mm_audio_id3v1" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS c,
        |    doc_id % 9 = 0 AS refused FROM documents)
        |SELECT doc_id,
        |  NOT refused AS ok,
        |  CASE WHEN refused THEN NULL WHEN c = 2 THEN 'Padded'
        |    ELSE 'Song ' || CAST(doc_id % 50 AS VARCHAR) END AS title,
        |  CASE WHEN refused THEN NULL WHEN c = 0 THEN 'Artist A'
        |    WHEN c = 1 THEN 'Artist B' ELSE '' END AS artist,
        |  CASE WHEN refused THEN NULL WHEN c = 0 THEN '1999'
        |    WHEN c = 1 THEN '1987' ELSE '2005' END AS year,
        |  CASE WHEN refused THEN NULL WHEN c = 0 THEN 'nice'
        |    WHEN c = 1 THEN 'comment without a track marker'
        |    ELSE '' END AS "comment",
        |  CAST(CASE WHEN refused THEN NULL WHEN c = 0 THEN doc_id % 30 + 1
        |    WHEN c = 1 THEN -1 ELSE 7 END AS INT) AS track,
        |  CAST(CASE WHEN refused THEN NULL
        |    ELSE doc_id % 80 END AS INT) AS genre_id
        |FROM d ORDER BY doc_id""".stripMargin,

    // three layers replayed closed-form: pinned frame constants from the
    // generator header, tag digests, and the torn branch's partial shape
    "mm_audio_mp3_tagged_e2e" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 2 AS INT) AS c,
        |    doc_id % 9 = 0 AS torn FROM documents)
        |SELECT doc_id,
        |  NOT torn AS ok_meta,
        |  CASE WHEN torn THEN NULL ELSE '1' END AS version,
        |  CAST(CASE WHEN torn THEN NULL ELSE 32000 END AS INT)
        |    AS sample_rate,
        |  CAST(CASE WHEN torn THEN NULL ELSE 3 END AS INT) AS n_frames,
        |  CAST(CASE WHEN torn THEN NULL ELSE 36 END AS BIGINT)
        |    AS duration_ms,
        |  CASE WHEN c = 0 THEN 'Front zero' ELSE 'Front ☃ one' END
        |    AS v2_title,
        |  CASE WHEN torn THEN NULL
        |    ELSE 'Tail ' || CAST(doc_id % 50 AS VARCHAR) END AS v1_title,
        |  CAST(CASE WHEN torn THEN NULL
        |    ELSE doc_id % 30 + 1 END AS INT) AS v1_track
        |FROM d ORDER BY doc_id""".stripMargin,

    "mm_audio_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'flac' END AS format,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) AS channels,
        |  CAST(doc_id % 8 * 4000 + 8000 AS INT) AS sample_rate,
        |  CAST(16 AS INT) AS bits_per_sample
        |FROM documents ORDER BY doc_id""".stripMargin,

    // replay of the exact integer sample arithmetic from the same
    // doc_id-derived waveform formula the WAV fixtures embed; only the
    // RMS is float, rounded identically on both sides
    "mm_audio_features" ->
      """WITH d AS (SELECT doc_id, doc_id % 17 + 24 AS n FROM documents),
        |k AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS k FROM d),
        |s AS (SELECT doc_id, n, k,
        |    (doc_id * 37 + k * 451) % 4001 - 2000 AS v FROM k),
        |s2 AS (SELECT doc_id, n, k, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv FROM s),
        |a AS (SELECT doc_id, max(n) AS n_samples, max(abs(v)) AS peak,
        |    sum(v * v) AS sum_sq,
        |    sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS zc
        |  FROM s2 GROUP BY doc_id)
        |SELECT doc_id, CAST(n_samples AS INTEGER) AS n_samples,
        |  CAST(peak AS INTEGER) AS peak, CAST(zc AS INTEGER) AS zero_crossings,
        |  floor(sqrt(CAST(sum_sq AS DOUBLE) / n_samples) * 1e4 + 0.5) / 1e4 AS rms
        |FROM a ORDER BY doc_id""".stripMargin,

    // replay of the rational interpolation: source samples from the
    // closed form, output j at num = j·16000, i = num // dst,
    // fn = num % dst, s = v_i + (v_{i+1} − v_i)·fn // dst (`//`
    // truncates in DuckDB exactly like the decoder's Java division),
    // then the stats arithmetic over the resampled stream
    "mm_audio_resample" ->
      """WITH d AS (SELECT doc_id, doc_id % 17 + 24 AS n,
        |    CASE WHEN doc_id % 2 = 0 THEN 11025 ELSE 22050 END AS dst
        |  FROM documents),
        |o AS (SELECT doc_id, n, dst,
        |    CAST((n - 1) * dst // 16000 + 1 AS INTEGER) AS n_out FROM d),
        |j AS (SELECT doc_id, n, dst, n_out,
        |    unnest(generate_series(0, n_out - 1)) AS j FROM o),
        |ix AS (SELECT doc_id, dst, n_out, j,
        |    (j * 16000) // dst AS i, (j * 16000) % dst AS fn FROM j),
        |sv AS (SELECT doc_id, dst, n_out, j,
        |    ((doc_id * 37 + i * 451) % 4001 - 2000)
        |      + CASE WHEN fn = 0 THEN 0 ELSE
        |          ((((doc_id * 37 + (i + 1) * 451) % 4001 - 2000)
        |            - ((doc_id * 37 + i * 451) % 4001 - 2000)) * fn) // dst
        |        END AS s
        |  FROM ix),
        |s2 AS (SELECT doc_id, dst, n_out, j, s,
        |    lag(s) OVER (PARTITION BY doc_id ORDER BY j) AS ps FROM sv),
        |a AS (SELECT doc_id, max(dst) AS dst, max(n_out) AS n_out,
        |    max(abs(s)) AS peak, sum(s * s) AS sum_sq,
        |    sum(CASE WHEN ps * s < 0 THEN 1 ELSE 0 END) AS zc
        |  FROM s2 GROUP BY doc_id)
        |SELECT doc_id, CAST(dst AS BIGINT) AS dst_rate,
        |  CAST(44 + 2 * n_out AS BIGINT) AS n_bytes,
        |  CAST(n_out AS INTEGER) AS n_out, CAST(peak AS INTEGER) AS peak,
        |  CAST(zc AS INTEGER) AS zero_crossings,
        |  floor(sqrt(CAST(sum_sq AS DOUBLE) / n_out) * 1e4 + 0.5) / 1e4 AS rms
        |FROM a ORDER BY doc_id""".stripMargin,


    // the whole fixed-point mel pipeline replayed: window (zero-padded
    // or truncated), DFT via the literal basis tables, truncating
    // divisions, triangle weighting — every value an exact integer
    "mm_audio_mel" ->
      s"""WITH md AS (SELECT doc_id, doc_id % 80 + 24 AS n FROM documents),
         |mk AS (SELECT doc_id, n,
         |    unnest(generate_series(0, 63)) AS k FROM md),
         |ms AS (SELECT doc_id, k,
         |    CASE WHEN k < n THEN (doc_id * 37 + k * 451) % 4001 - 2000
         |         ELSE 0 END AS s
         |  FROM mk),
         |mb AS (SELECT * FROM (VALUES $melBasisSql) t(f, k, c, sn)),
         |mw AS (SELECT * FROM (VALUES $melWeightSql) t(m, f, w)),
         |mr AS (SELECT s.doc_id, b.f,
         |    CAST(sum(s.s * b.c) AS BIGINT) AS re,
         |    CAST(sum(s.s * b.sn) AS BIGINT) AS im
         |  FROM ms s JOIN mb b ON b.k = s.k GROUP BY 1, 2),
         |mp AS (SELECT doc_id, f,
         |    (re // 16384) * (re // 16384) + (im // 16384) * (im // 16384)
         |      AS p
         |  FROM mr),
         |me AS (SELECT p.doc_id, w.m,
         |    CAST(sum(w.w * p.p) // 1024 AS BIGINT) AS energy
         |  FROM mp p JOIN mw w ON w.f = p.f GROUP BY 1, 2)
         |SELECT doc_id, CAST(m AS BIGINT) AS band, energy
         |FROM me ORDER BY doc_id, band""".stripMargin,


    // the framed replay: sample index fr·32+k against basis index k,
    // frames to ceil(n/32), tail zeros — otherwise identical to
    // mm_audio_mel's literal-basis pipeline
    "mm_audio_spectrogram" ->
      s"""WITH mfd AS (SELECT doc_id, doc_id % 80 + 24 AS n FROM documents),
         |mff AS (SELECT doc_id, n,
         |    unnest(generate_series(0, (n + 31) // 32 - 1)) AS fr FROM mfd),
         |mfk AS (SELECT doc_id, n, fr,
         |    unnest(generate_series(0, 63)) AS k FROM mff),
         |mfs AS (SELECT doc_id, fr, k,
         |    CASE WHEN fr * 32 + k < n
         |      THEN (doc_id * 37 + (fr * 32 + k) * 451) % 4001 - 2000
         |      ELSE 0 END AS s
         |  FROM mfk),
         |mfb AS (SELECT * FROM (VALUES $melBasisSql) t(f, k, c, sn)),
         |mfw AS (SELECT * FROM (VALUES $melWeightSql) t(m, f, w)),
         |mfr AS (SELECT s.doc_id, s.fr, b.f,
         |    CAST(sum(s.s * b.c) AS BIGINT) AS re,
         |    CAST(sum(s.s * b.sn) AS BIGINT) AS im
         |  FROM mfs s JOIN mfb b ON b.k = s.k GROUP BY 1, 2, 3),
         |mfp AS (SELECT doc_id, fr, f,
         |    (re // 16384) * (re // 16384) + (im // 16384) * (im // 16384)
         |      AS p
         |  FROM mfr),
         |mfe AS (SELECT p.doc_id, p.fr, w.m,
         |    CAST(sum(w.w * p.p) // 1024 AS BIGINT) AS energy
         |  FROM mfp p JOIN mfw w ON w.f = p.f GROUP BY 1, 2, 3)
         |SELECT doc_id, CAST(fr AS BIGINT) AS frame, CAST(m AS BIGINT)
         |    AS band, energy
         |FROM mfe ORDER BY doc_id, frame, band""".stripMargin,


    // the whole speech funnel replayed: energies, cue spans, the
    // cue-grain VAD gate, and the kept-line digest
    "mm_speech_e2e" ->
      """WITH se2_k0 AS (SELECT doc_id,
        |    unnest(generate_series(0, 511)) AS k FROM documents),
        |se2_s AS (SELECT doc_id, k,
        |    CASE WHEN ((k // 128) + doc_id) % 2 = 0
        |      THEN (((doc_id * 48271) % 65537) * (k + 3)) % 65537
        |        % 3001 - 1500
        |      ELSE k % 5 - 2 END AS s
        |  FROM se2_k0),
        |se2_fk AS (SELECT d.doc_id, fs.f, ks.kk FROM documents d,
        |    (SELECT unnest(generate_series(0, 15)) AS f) fs,
        |    (SELECT unnest(generate_series(0, 63)) AS kk) ks),
        |se2_e AS (SELECT fk.doc_id, fk.f,
        |    CAST(sum(CASE WHEN s.s IS NULL THEN 0 ELSE s.s * s.s END)
        |      AS BIGINT) AS e
        |  FROM se2_fk fk LEFT JOIN se2_s s
        |    ON s.doc_id = fk.doc_id AND s.k = fk.f * 32 + fk.kk
        |  GROUP BY 1, 2),
        |se2_m AS (SELECT doc_id, CAST(sum(e) // count(*) AS BIGINT) AS me
        |  FROM se2_e GROUP BY 1),
        |se2_c AS (
        |  SELECT doc_id, 0 AS idx, (doc_id % 2) * 8 AS start_ms,
        |    (doc_id % 2) * 8 + 8 AS end_ms,
        |    'burst one of ' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents
        |  UNION ALL SELECT doc_id, 1, 16 + (doc_id % 2) * 8,
        |    16 + (doc_id % 2) * 8 + 8,
        |    'burst two of ' || CAST(doc_id AS VARCHAR) FROM documents
        |  UNION ALL SELECT doc_id, 2, 8 - (doc_id % 2) * 8,
        |    8 - (doc_id % 2) * 8 + 8,
        |    'silence of ' || CAST(doc_id AS VARCHAR) FROM documents),
        |se2_g AS (SELECT c.doc_id, c.idx, c.start_ms, c.end_ms, c.text,
        |    CAST(sum(e.e) AS BIGINT) AS energy,
        |    CAST(count(*) AS BIGINT) AS nf
        |  FROM se2_c c JOIN se2_e e
        |    ON e.doc_id = c.doc_id
        |      AND 2 * e.f >= c.start_ms AND 2 * e.f < c.end_ms
        |  GROUP BY c.doc_id, c.idx, c.start_ms, c.end_ms, c.text),
        |se2_v AS (SELECT g.doc_id, g.idx, g.start_ms, g.end_ms, g.text,
        |    (g.energy // g.nf) * 4 > m.me AS kept
        |  FROM se2_g g JOIN se2_m m USING (doc_id))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cues,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(string_agg(CASE WHEN kept THEN CAST(idx AS VARCHAR) || ':' ||
        |    CAST(start_ms AS VARCHAR) || ':' || CAST(end_ms AS VARCHAR) ||
        |    ':' || text END, chr(10) ORDER BY idx)) AS kept_md5
        |FROM se2_v GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    // replay of the alignment: sample energies (the VAD fixture's PCM),
    // closed-form cue spans (16c + 8·parity, +8 wide), frame coverage
    // 2f ∈ [start, end), and the per-cue rollup
    "mm_subtitle_align" ->
      """WITH sa_k AS (SELECT doc_id,
        |    unnest(generate_series(0, 511)) AS k FROM documents),
        |sa_s AS (SELECT doc_id, k,
        |    CASE WHEN ((k // 128) + doc_id) % 2 = 0
        |      THEN (((doc_id * 48271) % 65537) * (k + 3)) % 65537
        |        % 3001 - 1500
        |      ELSE k % 5 - 2 END AS s
        |  FROM sa_k),
        |sa_fk AS (SELECT d.doc_id, fs.f, ks.kk FROM documents d,
        |    (SELECT unnest(generate_series(0, 15)) AS f) fs,
        |    (SELECT unnest(generate_series(0, 63)) AS kk) ks),
        |sa_e AS (SELECT fk.doc_id, fk.f,
        |    CAST(sum(CASE WHEN s.s IS NULL THEN 0 ELSE s.s * s.s END)
        |      AS BIGINT) AS e
        |  FROM sa_fk fk LEFT JOIN sa_s s
        |    ON s.doc_id = fk.doc_id AND s.k = fk.f * 32 + fk.kk
        |  GROUP BY 1, 2),
        |sa_c AS (SELECT d.doc_id, cs.c AS idx,
        |    16 * cs.c + (d.doc_id % 2) * 8 AS start_ms,
        |    16 * cs.c + (d.doc_id % 2) * 8 + 8 AS end_ms,
        |    'cue ' || CAST(cs.c AS VARCHAR) || ' of ' ||
        |      CAST(d.doc_id AS VARCHAR) AS text
        |  FROM documents d, (SELECT unnest(generate_series(0, 1)) AS c) cs)
        |SELECT c.doc_id, CAST(c.idx AS BIGINT) AS idx,
        |  CAST(c.start_ms AS BIGINT) AS start_ms,
        |  CAST(c.end_ms AS BIGINT) AS end_ms, c.text,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(e.e) AS BIGINT) AS energy
        |FROM sa_c c JOIN sa_e e
        |  ON e.doc_id = c.doc_id
        |    AND 2 * e.f >= c.start_ms AND 2 * e.f < c.end_ms
        |GROUP BY c.doc_id, c.idx, c.start_ms, c.end_ms, c.text
        |ORDER BY c.doc_id, c.idx""".stripMargin,


    // replay of the whole VAD gate: every sample, frame Σs² on the
    // 32-hop/64-window grid (tail zero-padded), the per-clip mean, the
    // 4·e > mean rule, the gaps-and-islands merge, and the ≥2 floor
    "mm_audio_vad" ->
      """WITH av_k AS (SELECT doc_id,
        |    unnest(generate_series(0, 511)) AS k FROM documents),
        |av_s AS (SELECT doc_id, k,
        |    CASE WHEN ((k // 128) + doc_id) % 2 = 0
        |      THEN (((doc_id * 48271) % 65537) * (k + 3)) % 65537
        |        % 3001 - 1500
        |      ELSE k % 5 - 2 END AS s
        |  FROM av_k),
        |av_fk AS (SELECT d.doc_id, fs.f, ks.kk FROM documents d,
        |    (SELECT unnest(generate_series(0, 15)) AS f) fs,
        |    (SELECT unnest(generate_series(0, 63)) AS kk) ks),
        |av_e AS (SELECT fk.doc_id, fk.f,
        |    CAST(sum(CASE WHEN s.s IS NULL THEN 0 ELSE s.s * s.s END)
        |      AS BIGINT) AS e
        |  FROM av_fk fk LEFT JOIN av_s s
        |    ON s.doc_id = fk.doc_id AND s.k = fk.f * 32 + fk.kk
        |  GROUP BY 1, 2),
        |av_m AS (SELECT doc_id, CAST(sum(e) // count(*) AS BIGINT) AS me
        |  FROM av_e GROUP BY 1),
        |av_a AS (SELECT e.doc_id, e.f, e.e
        |  FROM av_e e JOIN av_m m USING (doc_id)
        |  WHERE e.e * 4 > m.me),
        |av_g AS (SELECT doc_id, f, e,
        |    f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS seg
        |  FROM av_a)
        |SELECT doc_id, CAST(2 * min(f) AS BIGINT) AS start_ms,
        |  CAST(2 * max(f) + 4 AS BIGINT) AS end_ms,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(e) AS BIGINT) AS energy
        |FROM av_g GROUP BY doc_id, seg HAVING count(*) >= 2
        |ORDER BY doc_id, start_ms""".stripMargin,


    // replay of the full audio near-dup pipeline: Lehmer PCM (odd docs
    // re-encoded at 3/4 amplitude with truncating division) → frames →
    // fixed-point DFT with the shared basis literals → mel energies →
    // per-frame lower-median sign bits → lo/hi-assembled 64-bit window
    // fingerprints → 4×16-bit bands → hamming ≤ 6 → distinct → ≥ 2
    "mm_audio_dedup" ->
      s"""WITH ad_k AS (SELECT doc_id, doc_id // 2 AS g,
         |    unnest(generate_series(0, 511)) AS k FROM documents),
         |ad_s AS (SELECT doc_id, k,
         |    CASE WHEN doc_id % 2 = 1
         |      THEN (3 * ((((g * 48271) % 65537) * (k + 7)) % 65537
         |        % 4001 - 2000)) // 4
         |      ELSE (((g * 48271) % 65537) * (k + 7)) % 65537 % 4001 - 2000
         |    END AS s
         |  FROM ad_k),
         |ad_fk AS (SELECT d.doc_id, fs.fr, ks.kk
         |  FROM documents d,
         |    (SELECT unnest(generate_series(0, 15)) AS fr) fs,
         |    (SELECT unnest(generate_series(0, 63)) AS kk) ks),
         |ad_fs AS (SELECT f.doc_id, f.fr, f.kk, coalesce(s.s, 0) AS s
         |  FROM ad_fk f LEFT JOIN ad_s s
         |    ON s.doc_id = f.doc_id AND s.k = f.fr * 32 + f.kk),
         |ad_b AS (SELECT * FROM (VALUES $melBasisSql) t(f, k, c, sn)),
         |ad_w AS (SELECT * FROM (VALUES $melWeightSql) t(m, f, w)),
         |ad_r AS (SELECT s.doc_id, s.fr, b.f,
         |    CAST(sum(s.s * b.c) AS BIGINT) AS re,
         |    CAST(sum(s.s * b.sn) AS BIGINT) AS im
         |  FROM ad_fs s JOIN ad_b b ON b.k = s.kk GROUP BY 1, 2, 3),
         |ad_p AS (SELECT doc_id, fr, f,
         |    (re // 16384) * (re // 16384) + (im // 16384) * (im // 16384)
         |      AS p
         |  FROM ad_r),
         |ad_e AS (SELECT p.doc_id, p.fr, w.m,
         |    CAST(sum(w.w * p.p) // 1024 AS BIGINT) AS energy
         |  FROM ad_p p JOIN ad_w w ON w.f = p.f GROUP BY 1, 2, 3),
         |ad_bits AS (SELECT e.doc_id, e.fr,
         |    CAST(sum(CASE WHEN e.fr > 0 AND e.energy > p.energy
         |        THEN CAST(1 AS BIGINT) << CAST(e.m AS INT)
         |      ELSE 0 END) AS BIGINT) AS bits
         |  FROM ad_e e LEFT JOIN ad_e p
         |    ON p.doc_id = e.doc_id AND p.fr = e.fr - 1 AND p.m = e.m
         |  GROUP BY 1, 2),
         |ad_fp AS MATERIALIZED (SELECT doc_id, win,
         |    CAST((CASE WHEN hi >= 2147483648 THEN hi - 4294967296
         |      ELSE hi END) * 4294967296 + lo AS BIGINT) AS fp
         |  FROM (SELECT doc_id, fr // 8 AS win,
         |      CAST(sum(CASE WHEN fr % 8 < 4
         |          THEN bits << CAST(8 * (fr % 8) AS INT)
         |        ELSE 0 END) AS BIGINT) AS lo,
         |      CAST(sum(CASE WHEN fr % 8 >= 4
         |          THEN bits << CAST(8 * (fr % 8 - 4) AS INT)
         |        ELSE 0 END) AS BIGINT) AS hi
         |    FROM ad_bits GROUP BY 1, 2)),
         |ad_bands AS (SELECT doc_id, win, fp, gb.b AS band_idx,
         |    (fp >> (gb.b * 16)) & 65535 AS band_val
         |  FROM ad_fp, (SELECT unnest(generate_series(0, 3)) AS b) gb),
         |ad_cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.win AS wa, b.win AS wb
         |  FROM ad_bands a JOIN ad_bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |      AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.fp, b.fp)) <= 6)
         |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_match
         |FROM ad_cand GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY id_a, id_b""".stripMargin,


    // replay of the G.711 expansion: μ-law bias/segment-shift and A-law
    // XOR/segment-offset arithmetic over the closed-form data bytes
    "mm_audio_g711" ->
      """WITH d AS (SELECT doc_id, doc_id % 15 + 20 AS n, doc_id % 2 AS m
        |  FROM documents),
        |k AS (SELECT doc_id, n, m, unnest(generate_series(0, n - 1)) AS k FROM d),
        |e AS (SELECT doc_id, n, m, k, (doc_id * 31 + k * 97) % 256 AS u FROM k),
        |s AS (SELECT doc_id, n, m, k,
        |    CASE WHEN m = 0 THEN
        |      CASE WHEN (255 - u) >= 128
        |        THEN 132 - ((((255 - u) % 16) * 8 + 132) * (1 << (((255 - u) // 16) % 8)))
        |        ELSE ((((255 - u) % 16) * 8 + 132) * (1 << (((255 - u) // 16) % 8))) - 132 END
        |    ELSE
        |      (CASE WHEN xor(u, 85) >= 128 THEN 1 ELSE -1 END) *
        |      (CASE ((xor(u, 85) // 16) % 8)
        |         WHEN 0 THEN (xor(u, 85) % 16) * 16 + 8
        |         WHEN 1 THEN (xor(u, 85) % 16) * 16 + 264
        |         ELSE ((xor(u, 85) % 16) * 16 + 264)
        |           * (1 << (((xor(u, 85) // 16) % 8) - 1)) END)
        |    END AS v FROM e),
        |s2 AS (SELECT doc_id, n, m, k, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv FROM s),
        |a AS (SELECT doc_id, max(m) AS m, max(n) AS n_samples,
        |    max(abs(v)) AS peak, sum(v * v) AS sum_sq,
        |    sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS zc
        |  FROM s2 GROUP BY doc_id)
        |SELECT doc_id, CASE WHEN m = 0 THEN 'ulaw' ELSE 'alaw' END AS encoding,
        |  CAST(n_samples AS INTEGER) AS n_samples,
        |  CAST(peak AS INTEGER) AS peak, CAST(zc AS INTEGER) AS zero_crossings,
        |  floor(sqrt(CAST(sum_sq AS DOUBLE) / n_samples) * 1e4 + 0.5) / 1e4 AS rms
        |FROM a ORDER BY doc_id""".stripMargin,

    // replay of the per-variant sample arithmetic; bits/rate closed
    // forms of the parity — endianness/sign live only in the engine
    "mm_audio_aiff" ->
      """WITH d AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 8 ELSE 24 END AS bits,
        |    CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 8000
        |      ELSE 48000 END AS rate,
        |    CASE doc_id % 3 WHEN 0 THEN 2000 WHEN 1 THEN 120
        |      ELSE 1000000 END AS m,
        |    doc_id % 11 + 16 AS n FROM documents),
        |k AS (SELECT doc_id, bits, rate, m, n,
        |    unnest(generate_series(0, n - 1)) AS k FROM d),
        |s AS (SELECT doc_id, bits, rate, n, k,
        |    (doc_id * 37 + k * 451) % (2 * m + 1) - m AS v FROM k),
        |s2 AS (SELECT doc_id, bits, rate, n, k, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv FROM s),
        |a AS (SELECT doc_id, max(bits) AS bits, max(rate) AS rate,
        |    max(n) AS n_samples, max(abs(v)) AS peak, sum(v * v) AS sum_sq,
        |    sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS zc
        |  FROM s2 GROUP BY doc_id)
        |SELECT doc_id, CAST(bits AS INTEGER) AS bits,
        |  CAST(rate AS INTEGER) AS sample_rate,
        |  CAST(n_samples AS INTEGER) AS n_samples,
        |  CAST(peak AS INTEGER) AS peak, CAST(zc AS INTEGER) AS zero_crossings,
        |  floor(sqrt(CAST(sum_sq AS DOUBLE) / n_samples) * 1e4 + 0.5) / 1e4 AS rms
        |FROM a ORDER BY doc_id""".stripMargin,

    "mm_audio_stereo" ->
      """WITH d AS (SELECT doc_id, doc_id % 13 + 20 AS n FROM documents),
        |k AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS k FROM d),
        |s AS (SELECT doc_id, n, k,
        |    (((doc_id * 37 + k * 451) % 4001 - 2000)
        |     + ((doc_id * 53 + k * 293) % 3001 - 1500)) // 2 AS v FROM k),
        |s2 AS (SELECT doc_id, n, k, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv FROM s),
        |a AS (SELECT doc_id, max(n) AS n_samples, max(abs(v)) AS peak,
        |    sum(v * v) AS sum_sq,
        |    sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS zc
        |  FROM s2 GROUP BY doc_id)
        |SELECT doc_id, CAST(n_samples AS INTEGER) AS n_samples,
        |  CAST(peak AS INTEGER) AS peak, CAST(zc AS INTEGER) AS zero_crossings,
        |  floor(sqrt(CAST(sum_sq AS DOUBLE) / n_samples) * 1e4 + 0.5) / 1e4 AS rms
        |FROM a ORDER BY doc_id""".stripMargin,

    // replay of the width-scaled integer sample arithmetic — same
    // formula the WAV fixtures embed per width (8/16/24-bit)
    "mm_audio_widths" ->
      """WITH d AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END AS bits,
        |    CASE doc_id % 3 WHEN 0 THEN 120 WHEN 1 THEN 2000
        |      ELSE 1500000 END AS m,
        |    doc_id % 11 + 16 AS n FROM documents),
        |k AS (SELECT doc_id, bits, m, n,
        |    unnest(generate_series(0, n - 1)) AS k FROM d),
        |s AS (SELECT doc_id, bits, n, k,
        |    (doc_id * 37 + k * 451) % (2 * m + 1) - m AS v FROM k),
        |s2 AS (SELECT doc_id, bits, n, k, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv FROM s),
        |a AS (SELECT doc_id, max(bits) AS bits, max(n) AS n_samples,
        |    max(abs(v)) AS peak, sum(v * v) AS sum_sq,
        |    sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS zc
        |  FROM s2 GROUP BY doc_id)
        |SELECT doc_id, bits, CAST(n_samples AS INTEGER) AS n_samples,
        |  CAST(peak AS INTEGER) AS peak, CAST(zc AS INTEGER) AS zero_crossings,
        |  floor(sqrt(CAST(sum_sq AS DOUBLE) / n_samples) * 1e4 + 0.5) / 1e4 AS rms
        |FROM a ORDER BY doc_id""".stripMargin,

    // replay of the FLAC stream's sample arithmetic: c copies of the
    // constant-frame value followed by the verbatim-frame samples
    "mm_audio_flac" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 + 10 AS c,
        |    (doc_id * 29) % 4001 - 2000 AS v0, doc_id % 9 + 4 AS n1
        |  FROM documents),
        |k AS (SELECT doc_id, c, v0, n1,
        |    unnest(generate_series(0, c + n1 - 1)) AS k FROM d),
        |s AS (SELECT doc_id, c + n1 AS n, k,
        |    CASE WHEN k < c THEN v0
        |      ELSE (doc_id * 37 + (k - c) * 451) % 4001 - 2000 END AS v
        |  FROM k),
        |s2 AS (SELECT doc_id, n, k, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv FROM s),
        |a AS (SELECT doc_id, max(n) AS n_samples, max(abs(v)) AS peak,
        |    sum(v * v) AS sum_sq,
        |    sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS zc
        |  FROM s2 GROUP BY doc_id)
        |SELECT doc_id, CAST(n_samples AS INTEGER) AS n_samples,
        |  CAST(peak AS INTEGER) AS peak, CAST(zc AS INTEGER) AS zero_crossings,
        |  floor(sqrt(CAST(sum_sq AS DOUBLE) / n_samples) * 1e4 + 0.5) / 1e4 AS rms
        |FROM a ORDER BY doc_id""".stripMargin,

    // replay of the stereo fixtures: both channel formulas, truncating
    // downmix, stats — the oracle never parses FLAC bytes
    "mm_audio_flac_stereo" ->
      s"""WITH f AS (SELECT * FROM (VALUES $flacStereoValuesSql) t(img, seed, n)),
        |k AS (SELECT img, seed, n,
        |    unnest(generate_series(0, n - 1)) AS k FROM f),
        |s AS (SELECT img, n, k,
        |    ((seed * 37 + k * 451) % 4001 - 2000
        |     + (seed * 53 + k * 211) % 3001 - 1500) // 2 AS v FROM k),
        |s2 AS (SELECT img, n, k, v,
        |    lag(v) OVER (PARTITION BY img ORDER BY k) AS pv FROM s),
        |a AS (SELECT img, max(n) AS n_samples, max(abs(v)) AS peak,
        |    sum(v * v) AS sum_sq,
        |    sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS zc
        |  FROM s2 GROUP BY img)
        |SELECT img, CAST(n_samples AS INTEGER) AS n_samples,
        |  CAST(peak AS INTEGER) AS peak, CAST(zc AS INTEGER) AS zero_crossings,
        |  floor(sqrt(CAST(sum_sq AS DOUBLE) / n_samples) * 1e4 + 0.5) / 1e4 AS rms
        |FROM a ORDER BY img""".stripMargin,

    // replay of the Rice fixtures' generator formula — the oracle never
    // parses FLAC bytes; agreement certifies the whole decode chain
    "mm_audio_flac_rice" ->
      s"""WITH f AS (SELECT * FROM (VALUES $flacRiceValuesSql) t(img, seed, n)),
        |k AS (SELECT img, seed, n,
        |    unnest(generate_series(0, n - 1)) AS k FROM f),
        |s AS (SELECT img, n, k,
        |    (seed * 37 + k * 451) % 4001 - 2000 AS v FROM k),
        |s2 AS (SELECT img, n, k, v,
        |    lag(v) OVER (PARTITION BY img ORDER BY k) AS pv FROM s),
        |a AS (SELECT img, max(n) AS n_samples, max(abs(v)) AS peak,
        |    sum(v * v) AS sum_sq,
        |    sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS zc
        |  FROM s2 GROUP BY img)
        |SELECT img, CAST(n_samples AS INTEGER) AS n_samples,
        |  CAST(peak AS INTEGER) AS peak, CAST(zc AS INTEGER) AS zero_crossings,
        |  floor(sqrt(CAST(sum_sq AS DOUBLE) / n_samples) * 1e4 + 0.5) / 1e4 AS rms
        |FROM a ORDER BY img""".stripMargin)
}
