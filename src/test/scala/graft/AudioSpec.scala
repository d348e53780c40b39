package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Multimodal
import graft.ops.Multimodal.{MediaMeta, MediaRow}

/** REAL audio parsing via the JDK's javax.sound.sampled (WAV headers +
  * PCM level stats), pinned against an independently hand-rolled RIFF
  * writer. */
class AudioSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  // 1 kHz-ish square wave: every sample is ±amp, so RMS == amp/32768
  // EXACTLY and peak == amp/32768 — no trig, bit-stable across JVMs
  private def square(nFrames: Int, channels: Int, amp: Short, half: Int): Array[Short] =
    Array.tabulate(nFrames * channels) { k =>
      if ((k / channels / half) % 2 == 0) amp else (-amp).toShort
    }

  test("WAV header fields parse exactly (mono 8 kHz PCM16)") {
    val wav = Multimodal.synthWavPcm16(8000, 1, square(800, 1, 16384, 8))
    val f = Multimodal.decodeAudioFeatures(7L, wav)
    assert(f != null && f.decoded)
    assert(f.encoding == "PCM_SIGNED")
    assert(f.sampleRate == 8000.0)
    assert(f.channels == 1)
    assert(f.sampleSizeBits == 16)
    assert(f.frames == 800L)
    assert(f.durationMs == 100L) // 800 frames / 8000 Hz = 0.1 s
  }

  test("PCM level stats are exact for a square wave") {
    val amp = 16384 // amp/32768 = 0.5 exactly
    val f = Multimodal.decodeAudioFeatures(1L,
      Multimodal.synthWavPcm16(16000, 2, square(500, 2, amp.toShort, 10)))
    assert(f.channels == 2 && f.frames == 500L)
    assert(f.rms == 0.5 && f.peak == 0.5)
  }

  test("maxFrames bounds the stats read without breaking header fields") {
    val wav = Multimodal.synthWavPcm16(8000, 1, square(4000, 1, 8192, 8))
    val f = Multimodal.decodeAudioFeatures(2L, wav, maxFrames = 100)
    assert(f.frames == 4000L) // header truth
    assert(f.rms == 0.25 && f.peak == 0.25) // square wave: any prefix has the same RMS
  }

  test("non-audio payloads fall back to the deterministic stub") {
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
      Array.tabulate(32)(j => (j * 7 % 251).toByte)
    assert(Multimodal.decodeAudioFeatures(3L, png) == null)
    val stub = Multimodal.audioStub(3L, png)
    assert(!stub.decoded && stub.frames == -1L && stub.channels == 0)
    assert(stub == Multimodal.audioStub(3L, png)) // deterministic
  }

  test("audioFeatures dataset stage: mixed media stays total") {
    val rows = Seq(
      MediaRow(0L, Multimodal.synthWavPcm16(8000, 1, square(80, 1, 4096, 4)),
        MediaMeta("audio/wav", 0, 0, 1, 0L)),
      MediaRow(1L, "not audio at all, just bytes".getBytes("UTF-8"),
        MediaMeta("application/octet-stream", 0, 0, 0, 0L)))
    val out = Multimodal.audioFeatures(spark.createDataset(rows))
      .collect().sortBy(_.id)
    assert(out.length == 2)
    assert(out(0).decoded && out(0).sampleRate == 8000.0 && out(0).rms == 0.125)
    assert(!out(1).decoded)
  }

  test("AIFF and AU (big-endian PCM) parse with identical level stats") {
    import javax.sound.sampled.{AudioFileFormat, AudioSystem}
    // transcode the little-endian WAV fixture through the JDK's AIFF/AU
    // writers — exercises decodeAudioFeatures' big-endian sample branch
    // against the same exact square-wave ground truth
    val wav = Multimodal.synthWavPcm16(8000, 1, square(400, 1, 8192, 8))
    for (typ <- Seq(AudioFileFormat.Type.AIFF, AudioFileFormat.Type.AU)) {
      val ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, typ, out)
      val f = Multimodal.decodeAudioFeatures(9L, out.toByteArray)
      assert(f != null && f.decoded, s"$typ failed to parse")
      assert(f.sampleRate == 8000.0 && f.channels == 1 && f.frames == 400L)
      assert(f.rms == 0.25 && f.peak == 0.25, s"$typ stats: ${f.rms}/${f.peak}")
    }
  }

  test("audio magic bytes: WAV / AIFF / AU sniff") {
    assert(Multimodal.sniffMime("RIFFxxxxWAVExxxx".getBytes) == "audio/wav")
    assert(Multimodal.sniffMime("FORMxxxxAIFFxxxx".getBytes) == "audio/aiff")
    assert(Multimodal.sniffMime(".sndxxxxxxxxxxxx".getBytes) == "audio/basic")
  }
}
