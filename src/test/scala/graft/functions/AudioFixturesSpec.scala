package graft.functions

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{call_function, col, lit}

import graft.SparkSuite

/** The WAV and AIFF decoders through the catalog on real files: the seeded
  * fixtures of tools/gen_wav_fixtures.py (16-bit mono and stereo PCM,
  * 8-bit PCM, mu-law and A-law WAV, 16-bit AIFF). Each function decodes
  * exactly the files of its contract and refuses the others with null, so
  * every one of them runs its decoder, not only its refusal path.
  */
class AudioFixturesSpec extends SparkSuite {

  private val files = Seq("pcm16_mono.wav", "pcm16_stereo.wav", "pcm8_mono.wav",
    "ulaw_mono.wav", "alaw_mono.wav", "pcm16_mono.aiff")

  /** Function → the fixtures it decodes (null on every other one). */
  private val decodes = Seq(
    "audio_pcm_stats" -> Set("pcm16_mono.wav", "pcm8_mono.wav"),
    "audio_pcm_downmix" -> Set("pcm16_mono.wav", "pcm16_stereo.wav", "pcm8_mono.wav"),
    "audio_g711_stats" -> Set("ulaw_mono.wav", "alaw_mono.wav"),
    "audio_aiff_stats" -> Set("pcm16_mono.aiff"),
    "audio_mel" -> Set("pcm16_mono.wav"),
    "audio_mel_frames" -> Set("pcm16_mono.wav"),
    "audio_frame_energy" -> Set("pcm16_mono.wav"),
    "audio_resample" -> Set("pcm16_mono.wav"))

  test("each audio decoder returns a value on the fixtures of its format") {
    import spark.implicits._
    val blobs = files.map(f => f -> Files.readAllBytes(
      Paths.get(getClass.getResource(s"/wav_fixtures/$f").toURI))).toDF("name", "blob")
    val out = blobs.select(col("name") +: decodes.map { case (fn, _) =>
      val args = if (fn == "audio_resample") Seq(col("blob"), lit(8000)) else Seq(col("blob"))
      call_function(fn, args: _*).isNotNull.as(fn)
    }: _*).collect()
    decodes.foreach { case (fn, want) =>
      val got = out.filter(_.getAs[Boolean](fn)).map(_.getString(0)).toSet
      assert(got == want, s"$fn decodes $got")
    }
  }

  test("the decoded stats count the fixtures' samples") {
    def bytes(f: String) = Files.readAllBytes(
      Paths.get(getClass.getResource(s"/wav_fixtures/$f").toURI))
    assert(AudioPcmStats.stats(bytes("pcm16_mono.wav")).getInt(0) == 2000)
    assert(AudioPcmStats.statsDownmix(bytes("pcm16_stereo.wav")).getInt(0) == 2000)
    assert(AudioPcmStats.statsG711(bytes("ulaw_mono.wav")).getInt(0) == 2000)
    val aiff = AiffStats.stats(bytes("pcm16_mono.aiff"))
    assert((aiff.getInt(0), aiff.getInt(4), aiff.getInt(5)) == (2000, 16000, 16))
    // 2000 samples in hops of 32
    assert(AudioMel.frameEnergies(bytes("pcm16_mono.wav")).numElements == 63)
  }
}
