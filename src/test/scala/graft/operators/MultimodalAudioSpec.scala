package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

/** Real audio decode through the JDK's javax.sound codecs: fixtures are
  * encoded in-test through the actual WAV/AIFF/AU writers, so the
  * assertions exercise the real byte formats end to end with no committed
  * binaries — the audio twin of MultimodalImageSpec.
  */
class MultimodalAudioSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  /** 16-bit PCM bytes for the given interleaved samples, through the real
    * JDK writer for the given container type.
    */
  private def pcm(samples: Array[Int], channels: Int, bigEndian: Boolean,
      fileType: AudioFileFormat.Type, rate: Float = 8000f): Array[Byte] = {
    val fmt = new AudioFormat(rate, 16, channels, true, bigEndian)
    val raw = new Array[Byte](samples.length * 2)
    for (i <- samples.indices) {
      val s = samples(i)
      if (bigEndian) {
        raw(2 * i) = ((s >> 8) & 0xff).toByte
        raw(2 * i + 1) = (s & 0xff).toByte
      } else {
        raw(2 * i) = (s & 0xff).toByte
        raw(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt,
      samples.length.toLong / channels)
    val bos = new java.io.ByteArrayOutputStream()
    try AudioSystem.write(ais, fileType, bos) finally ais.close()
    bos.toByteArray
  }

  test("decodes a real mono WAV square wave: RMS == amplitude exactly") {
    val d = Multimodal.decodeAudio(Multimodal.encodeWav(1000, 1234)).get
    assert(d.sampleRate == 8000 && d.channels == 1 && d.nSamples == 1000L)
    assert(d.rms == 1234L)
    assert(d.feature(1234 >> 12) == 1.0f) // all |s| mass in one bin
  }

  test("stereo WAV: frame count is per-frame, RMS spans both channels") {
    // L = +2000, R = -2000 per frame: 50 frames = 100 interleaved samples
    val samples = Array.tabulate(100)(i => if (i % 2 == 0) 2000 else -2000)
    val d = Multimodal.decodeAudio(
      pcm(samples, channels = 2, bigEndian = false,
        AudioFileFormat.Type.WAVE)).get
    assert(d.channels == 2)
    assert(d.nSamples == 50L) // frames, not interleaved samples
    assert(d.rms == 2000L)
  }

  test("big-endian AIFF decodes with correct byte order") {
    // a non-palindromic amplitude: byte-swapped 0x0539 would be 0x3905
    val samples = Array.tabulate(64)(i => if (i % 2 == 0) 1337 else -1337)
    val d = Multimodal.decodeAudio(
      pcm(samples, channels = 1, bigEndian = true,
        AudioFileFormat.Type.AIFF)).get
    assert(d.sampleRate == 8000 && d.channels == 1 && d.nSamples == 64L)
    assert(d.rms == 1337L)
  }

  test("truncated, non-PCM-16 and empty payloads are clean Nones") {
    val wav = Multimodal.encodeWav(100, 5000)
    assert(Multimodal.decodeAudio(wav.take(10)).isEmpty) // cut mid-header
    assert(Multimodal.decodeAudio("not audio".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeAudio(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeAudio(null).isEmpty)
    // 8-bit PCM is a valid WAV the reader accepts but the 16-bit-only
    // decoder must reject, not mis-read
    val fmt8 = new AudioFormat(8000f, 8, 1, false, false)
    val raw8 = Array.fill[Byte](64)(100)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(raw8), fmt8, 64L)
    val bos = new java.io.ByteArrayOutputStream()
    try AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    finally ais.close()
    assert(Multimodal.decodeAudio(bos.toByteArray).isEmpty)
  }

  test("decode dispatch maps audio onto the generic struct; stub on reject") {
    val wav = Multimodal.encodeWav(900, 777)
    val d = Multimodal.decode("audio/wav", wav)
    assert(d.width == 8000)   // sample rate
    assert(d.height == 1)     // channels
    assert(d.frames == 900)
    assert(d.mean_luma == 777) // RMS
    // rejected audio bytes take the stub, never a crash
    val garbage = "garbage".getBytes("UTF-8")
    val s = Multimodal.decode("audio/wav", garbage)
    assert(s.width == 16 + garbage.length % 64)
  }

  test("syntheticWavTable round-trips the real WAV codec distributed") {
    import spark.implicits._
    val docs = Seq.tabulate(30)(i => (i.toLong + 780, s"doc $i"))
      .toDF("doc_id", "text") // ids span the 800-frame wraparound
    val rows = Multimodal.audioFeatures(Multimodal.syntheticWavTable(docs))
      .collect()
    assert(rows.length == 30)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == 8000, s"doc $id sample_rate")
      assert(r.getInt(2) == 1)
      assert(r.getLong(3) == 800 + id % 800, s"doc $id n_samples")
      assert(r.getLong(4) == (800 + id % 800) * 1000 / 8000)
      assert(r.getLong(5) == 1 + id % 30000, s"doc $id rms")
    }
  }
}
