package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Perceptual-hash checks: determinism, near-dup twins landing within a
  * small Hamming distance while distinct patterns land far, pigeonhole
  * pairing exactness vs a brute-force popcount, and codec-failure
  * hygiene.
  */
class MultimodalPhashSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  private def png(a: Int, b: Int, noise: Boolean = false): Array[Byte] =
    Multimodal.encodePatternPng(32, 32, a, b, noise)

  test("phash: deterministic; twins close, distinct patterns far") {
    val h1 = Multimodal.perceptualHash(png(3, 11)).get
    assert(h1 == Multimodal.perceptualHash(png(3, 11)).get)
    val twin = Multimodal.perceptualHash(png(3, 11, noise = true)).get
    val other = Multimodal.perceptualHash(png(50, 71)).get
    val dTwin = java.lang.Long.bitCount(h1 ^ twin)
    val dOther = java.lang.Long.bitCount(h1 ^ other)
    info(s"twin distance $dTwin, distinct-pattern distance $dOther")
    assert(dTwin <= 6)
    assert(dOther > 6)
  }

  test("imageDupPairs == brute-force popcount pairs") {
    val imgs = (0L until 30L).flatMap { i =>
      val base = (i, png(1 + (i % 13).toInt, 1 + (i % 7).toInt))
      if (i < 8)
        Seq(base, (i + 1000,
          png(1 + (i % 13).toInt, 1 + (i % 7).toInt, noise = true)))
      else Seq(base)
    }
    val media = imgs.toDF("doc_id", "payload")
    val got = Multimodal.imageDupPairs(media, maxDist = 6)
      .as[(Long, Long, Int)].collect().toSet

    val hashes = imgs.map { case (id, b) =>
      id -> Multimodal.perceptualHash(b).get
    }
    val want = (for {
      (i1, h1) <- hashes
      (i2, h2) <- hashes
      if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2)
      if d <= 6
    } yield (i1, i2, d)).toSet
    assert(got == want)
    // all 8 planted twins present
    assert((0L until 8L).forall(i => want.exists(p => p._1 == i && p._2 == i + 1000)))
  }

  test("audio fingerprint: twins close, distinct envelopes far, brute-force parity") {
    val h = Multimodal.audioFingerprint(
      Multimodal.encodeEnvelopeWav(3, 7, noise = false)).get
    assert(h == Multimodal.audioFingerprint(
      Multimodal.encodeEnvelopeWav(3, 7, noise = false)).get)
    val twin = Multimodal.audioFingerprint(
      Multimodal.encodeEnvelopeWav(3, 7, noise = true)).get
    val other = Multimodal.audioFingerprint(
      Multimodal.encodeEnvelopeWav(11, 2, noise = false)).get
    val dTwin = java.lang.Long.bitCount(h ^ twin)
    val dOther = java.lang.Long.bitCount(h ^ other)
    info(s"audio twin distance $dTwin, distinct-envelope distance $dOther")
    assert(dTwin <= 6)
    assert(dOther > 6)

    val clips = (0L until 20L).flatMap { i =>
      val base = (i, Multimodal.encodeEnvelopeWav(
        1 + (i % 9).toInt, (i % 5).toInt, noise = false))
      if (i < 6) Seq(base, (i + 1000, Multimodal.encodeEnvelopeWav(
        1 + (i % 9).toInt, (i % 5).toInt, noise = true)))
      else Seq(base)
    }
    val got = Multimodal.audioDupPairs(clips.toDF("doc_id", "payload"),
      maxDist = 6).as[(Long, Long, Int)].collect().toSet
    val hs = clips.map { case (id, b) =>
      id -> Multimodal.audioFingerprint(b).get
    }
    val want = (for {
      (i1, h1) <- hs; (i2, h2) <- hs
      if i1 < i2
      dd = java.lang.Long.bitCount(h1 ^ h2)
      if dd <= 6
    } yield (i1, i2, dd)).toSet
    assert(got == want)
  }

  test("audio fingerprint: too-short and non-audio payloads are None") {
    assert(Multimodal.audioFingerprint(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.audioFingerprint(
      Multimodal.encodeWav(32, 100)).isEmpty) // < 64 samples
    assert(Multimodal.audioFingerprint(
      Multimodal.encodePatternPng(16, 16, 1, 1, noise = false)).isEmpty)
  }

  test("undecodable payloads are skipped, not fatal") {
    val media = Seq(
      (1L, png(2, 3)),
      (2L, Array[Byte](1, 2, 3)),
      (3L, Array.empty[Byte])).toDF("doc_id", "payload")
    assert(Multimodal.imageDupPairs(media, maxDist = 10).count() == 0)
    assert(Multimodal.perceptualHash(Array[Byte](9, 9)).isEmpty)
  }
}
